"""BM25 full-text retrieval over a document corpus (north-star
extension; the reference has no text search at all — its only string
ops are scalar recodes, `Spatially ETL test.py:120-168`).

Okapi BM25 (Robertson & Zaragoza, "The Probabilistic Relevance
Framework: BM25 and Beyond", 2009) re-expressed as DataFrame algebra:

- postings build: tokenize → explode → per-(doc, term) tf + per-doc
  length — one shuffle on (doc, term), the classic inverted-index
  map-reduce;
- corpus statistics (N, avgdl) ride a ONE-ROW broadcast frame, and
  per-term document frequencies join the postings on the term key;
- query matching: the (small) query-term set broadcasts into an
  equi-join against the postings — the corpus never shuffles for a
  query batch, only the MATCHED postings shuffle into the per-(query,
  doc) score sum;
- ranking: windowed top-k per query, ties on doc id.

Everything is codegen expressions (no UDF); the tokenizer is a plain
lowercase + non-alphanumeric split chosen precisely because any engine
reproduces it, which is what lets the DuckDB oracle replay the whole
scoring pipeline value-for-value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.operators.similarity import (
    ANN_MAX_QUERIES,
    check_query_batch,
)
from spatially_databricks_etl_spark.sources.files import scan_parquet

#: Tokenizer contract shared with the SQL oracle: lowercase, split on
#: runs of non-[a-z0-9], drop empties. Deliberately engine-portable.
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(text: Column | str) -> Column:
    """``array<string>`` of lowercase alphanumeric tokens."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), TOKEN_SPLIT_RE), lambda x: x != "")


def _postings(
    docs: DataFrame, id_col: str, text_col: str, dl_name: str
) -> DataFrame:
    """(doc_id, <dl_name>, term, tf) postings — the shared
    tokenize → explode → per-(doc, term) count build used by the
    in-memory scorer, the index writer, and the index appender (one
    definition so an appended batch tokenizes EXACTLY like a full
    build, which is what makes append ≡ rebuild provable)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("__toks")
        )
        .withColumn(dl_name, F.size("__toks"))
        .select("doc_id", dl_name, F.explode("__toks").alias("term"))
        .groupBy("doc_id", dl_name, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    quantize: int | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    score(q, d) = Σ_{t ∈ q} idf(t) · tf(t,d)·(k1+1) /
                  (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl)),
    idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))  (Lucene form,
    never negative). Repeated query terms count once (set semantics —
    the common practical choice; duplicate a term in the query frame
    to weight it).

    Returns (query_id, doc_id, score, rank), rank by (score DESC,
    doc_id) so exact-duplicate documents order deterministically.

    ``quantize=q`` ranks by — and emits — the exact integer
    ``floor(score·10^q + 0.5)`` instead of the raw double. The score
    is a float SUM whose addend order is engine- and partition-
    dependent, so two documents with identical term statistics (exact
    duplicates exist in any real corpus) can land 1 ulp apart in one
    engine and exactly equal in another, flipping their rank order;
    quantizing collapses ulp noise so the ranking replays
    bit-identically anywhere (the cross-engine determinism idiom used
    throughout this repo for derived continuous scores).

    Scale shape: the postings build is one shuffle of (doc, term)
    pairs; df is one aggregate over distinct postings; N/avgdl ride a
    one-row broadcast frame (never a driver round-trip); the query
    terms broadcast into the postings join, so per-batch cost is
    proportional to MATCHED postings, not the corpus. For a standing
    corpus, persist the postings + stats frames once (index build)
    and reuse across query batches — the same build-once/search-many
    split as the ANN index paths.

    The query-term frame BROADCASTS, so the batch is bounded by the
    same contract as the ANN entry points: ``max_queries`` (default
    ``similarity.ANN_MAX_QUERIES``) fails fast on an oversized batch
    instead of letting the broadcast blow up — split the batch or
    raise the ceiling explicitly (``None`` opts out).
    """
    from spatially_databricks_etl_spark.operators.relational import top_k_per_group

    check_query_batch(queries, "bm25_topk", max_queries)

    post = _postings(docs, id_col, text_col, "__dl")
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        F.avg(F.size(tokens_col(text_col))).alias("__avgdl"),
    )
    df_t = post.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens_col(query_col)).alias("term"),
        )
        .distinct()
    )
    matched = (
        post.join(F.broadcast(qterms), "term")
        .join(df_t, "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0 + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        matched.withColumn("__c", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").alias("score"))
    )
    if quantize is not None:
        scored = scored.withColumn(
            "score",
            F.floor(F.col("score") * F.lit(float(10**quantize)) + F.lit(0.5)).cast(
                "long"
            ),
        )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "doc_id", "score", "rank")


def rrf_fuse(
    a: DataFrame | Sequence[DataFrame],
    b: DataFrame | None = None,
    *,
    weights: Sequence[float] | None = None,
    k: int = 60,
    topk: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    quantize: int | None = 6,
) -> DataFrame:
    """Weighted reciprocal-rank fusion (Cormack, Clarke & Buettcher,
    SIGIR 2009) of N ranked retrieval lists — the standard
    hybrid-search combiner (lexical BM25 ⊕ vector ANN ⊕ learned-sparse
    / recency priors) every RAG / data-curation retrieval stack runs:
    score(d) = Σ_i w_i / (k + rank_i(d)), with a document missing from
    a list contributing 0 from it. ``k=60`` is the canonical damping
    constant from the paper; ``weights`` defaults to 1.0 per list (the
    paper's unweighted form).

    Call shapes: ``rrf_fuse(a, b)`` (the common two-list sugar) or
    ``rrf_fuse([a, b, c, ...], weights=[...])`` for N-way fusion.
    Inputs are rank frames (query_id, doc_id, rank) — e.g.
    :func:`bm25_topk` output and ``similarity.brute_force_topk`` /
    any ANN top-k with its id column aliased. The fusion is a FOLD of
    full-outer equi-joins on (query_id, doc_id) over already
    per-query-bounded rank lists (≤ per-side k rows per query), so the
    joined frame stays O(n_queries · k · n_lists) regardless of corpus
    size — all the heavy lifting stays in the per-modality retrievers.
    Ranks are small exact integers and the weighted sum folds
    left-to-right in list order, so both engines derive bit-identical
    w/(k+rank) doubles; ``quantize`` additionally pins the e6
    floor-idiom integer so the fused ranking replays anywhere (ties
    break on doc id). A document retrieved only by zero-weighted lists
    (total score 0 = "not retrieved") is dropped before ranking, which
    makes a zero weight EXACTLY equivalent to omitting its list.

    The fusion is lazy and persists nothing: materializing the input
    lists concurrently first (persist + count per list from a driver
    thread pool) measured slower than the plain plan on both catalog
    hybrid rows (CHANGES.md).

    Returns (query_id, doc_id, score, rank) with rank ≤ ``topk``.
    """
    from spatially_databricks_etl_spark.operators.relational import top_k_per_group

    if isinstance(a, DataFrame):
        frames = [a] if b is None else [a, b]
    else:
        if b is not None:
            raise TypeError("pass either two DataFrames or one sequence of them")
        frames = list(a)
    if not frames:
        raise ValueError("rrf_fuse: need at least one ranked list")
    w = [1.0] * len(frames) if weights is None else [float(x) for x in weights]
    if len(w) != len(frames):
        raise ValueError(
            f"rrf_fuse: {len(frames)} lists but {len(w)} weights"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ranked = [
        f.select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("long").alias(f"__r{i}"),
        )
        for i, f in enumerate(frames)
    ]
    fused = ranked[0]
    for r in ranked[1:]:
        fused = fused.join(r, ["query_id", "doc_id"], "full_outer")
    score = F.coalesce(
        F.lit(w[0]) / (F.lit(float(k)) + F.col("__r0")), F.lit(0.0)
    )
    for i in range(1, len(frames)):
        score = score + F.coalesce(
            F.lit(w[i]) / (F.lit(float(k)) + F.col(f"__r{i}")), F.lit(0.0)
        )
    fused = fused.withColumn("score", score).filter(F.col("score") > 0.0)
    if quantize is not None:
        fused = fused.withColumn(
            "score",
            F.floor(F.col("score") * F.lit(float(10**quantize)) + F.lit(0.5)).cast(
                "long"
            ),
        )
    out = top_k_per_group(
        fused,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id")],
        topk,
        rank_col="rank",
    )
    return out.select("query_id", "doc_id", "score", "rank")


def ngram_jaccard_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    n: int = 3,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Top-``k`` documents per query by character n-gram set Jaccard —
    the sparse-overlap retriever that complements BM25 in a hybrid
    stack (BM25 rewards rare-term matches; raw n-gram Jaccard rewards
    whole-surface overlap, catching near-verbatim matches BM25's
    per-term saturation flattens). Zero-overlap documents are dropped
    (score 0 = not retrieved); ties break on doc id.

    Plan shape: per-doc distinct n-gram arrays are a codegen
    higher-order-function projection (no UDF); the query gram sets
    BROADCAST onto one corpus scan (batch bounded by ``max_queries``,
    same contract as the other retrievers), and Jaccard is exact
    array intersect/union arithmetic — small-integer ratios, so any
    engine derives bit-identical doubles. Grams are compared as
    64-bit ``xxhash64`` codes, not strings (the
    ``minhash_near_dedup`` verify trick — long-array intersection is
    several× cheaper per element; measured 5.3 s vs 7.0 s for the
    string form at sf0.1): set cardinalities are preserved unless two
    DISTINCT grams inside one pair's union collide in 2⁶⁴
    (P ≈ |union|²/2⁶⁴ < 1e-13), so a string-gram oracle replays the
    same values. An inverted-index (explode + posting-join)
    formulation was A/B-measured SLOWER here (11.4 s) — the gram
    explosion's shuffle costs more than the vectorized in-row
    intersects. Returns (query_id, doc_id, sim, rank).
    """
    from spatially_databricks_etl_spark.operators.dedup import jaccard
    from spatially_databricks_etl_spark.functions.text import ngrams
    from spatially_databricks_etl_spark.operators.relational import top_k_per_group

    check_query_batch(queries, "ngram_jaccard_topk", max_queries)

    def grams(col: Column) -> Column:
        return F.array_distinct(
            F.transform(
                ngrams(col, n, character=True), lambda s: F.xxhash64(s, F.lit(1))
            )
        )

    qg = queries.select(
        F.col(query_id_col).alias("query_id"),
        grams(F.col(query_col)).alias("__qg"),
    )
    dg = docs.select(
        F.col(id_col).alias("doc_id"),
        grams(F.col(text_col)).alias("__dg"),
    )
    scored = (
        dg.join(F.broadcast(qg))
        .withColumn("sim", jaccard(F.col("__qg"), F.col("__dg")))
        .filter(F.col("sim") > 0.0)
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("sim").desc(), F.col("doc_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "doc_id", "sim", "rank")


def bm25_write_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the BM25 inverted index: the postings
    (term, doc_id, dl, tf) RANGE-SORTED by term so every parquet
    file's footer min/max spans a narrow term range and a query's
    ``term IN (...)`` scan filter skips whole files, plus the
    per-term document frequencies (same layout) and the scalar
    corpus stats (N, avgdl) as a one-row ``_bm25_meta`` sidecar.

    This is the ingest-time half of the retrieval story — the same
    build-once / search-many split as the LSH/IVF/IVF-PQ indexes:
    tokenization and the (doc, term) shuffle happen once at write;
    a search touches only the postings files whose term range
    overlaps the query's terms. New document batches extend the index
    via :func:`bm25_append_index` without re-tokenizing the standing
    corpus.

    The meta sidecar carries (n_docs, sum_dl, avgdl, gen). ``sum_dl``
    is the exact token-count total (integer-valued — a float sum of
    integers under 2⁵³ is exact regardless of partition order), which
    is what lets an append derive the SAME avgdl double a full
    rebuild would: both compute the one division
    ``sum_dl / n_docs`` over identical exact operands. ``gen`` is the
    ingest-generation counter (appends increment it and stamp their
    rows) behind the generation-aware delete/upsert lifecycle; the
    ``_doc_manifest`` sidecar records (doc_id, dl, gen) for every
    ingested document — including zero-token ones, which have no
    postings rows — making delete idempotent and upsert sound.
    """
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        write_meta_sidecar,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators
    post = _postings(docs, id_col, text_col, "dl").withColumn(
        "gen", F.lit(0).cast("long")
    )
    (
        post.repartitionByRange("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    spark = docs.sparkSession
    post_idx = scan_parquet(spark, f"{path}/postings")
    (
        post_idx.groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
        .repartitionByRange("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{path}/df")
    )
    _manifest_rows(docs, id_col, text_col, 0).write.mode("overwrite").parquet(
        f"{path}/{MANIFEST_DIR}"
    )
    # corpus stats from the manifest read-back — same exact integers
    # the old per-doc tokenize pass produced (dl coalesces null-text
    # to 0; the double sum of integers < 2^53 is exact), one
    # tokenization pass saved
    row = scan_parquet(spark, f"{path}/{MANIFEST_DIR}").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.col("dl").cast("double")).alias("sum_dl"),
    ).first()
    n_docs = float(row["n_docs"])
    sum_dl = float(row["sum_dl"] or 0.0)
    write_meta_sidecar(
        f"{path}/_bm25_meta",
        "bm25_meta_json",
        {
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": sum_dl / n_docs if n_docs else 0.0,
            "gen": 0,
        },
    )


def bm25_append_index(
    new_docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a NEW document batch to a persisted BM25 index (see
    :func:`bm25_write_index`) without touching the standing corpus —
    the incremental-ingest contract the MinHash index already has
    (``operators/dedup.py: minhash_write_index`` — corpus never
    re-signed). Caller contract: batch doc ids are NEW — re-ingesting
    a live id would double its postings, like any append-only log;
    route replacements through :func:`bm25_upsert_index` (which
    delete-masks the old generation first).

    - **postings**: only the BATCH is tokenized; its (doc, term) rows
      land as additional range-sorted files under ``postings/``. Each
      batch's files carry their own narrow term min/max footers, so a
      query's ``term IN (...)`` filter still file-skips — per term it
      now touches ≤ one file group per batch instead of one, the
      standard LSM-ish trade; rewrite via :func:`bm25_write_index`
      when batch count makes that matter (compaction).
    - **df**: merged incrementally — old per-term df + the batch's
      df, one union + sum over the (vocabulary-sized, not
      corpus-sized) df frames, staged to a temp dir then swapped so
      the merge never reads the directory it is overwriting (local
      rename here; on an object store, write a new version dir and
      flip a manifest pointer).
    - **meta**: (n_docs, sum_dl) add exactly (integer-valued doubles),
      and avgdl is re-derived as one division of the exact totals —
      bit-identical to what a full rebuild computes, which is what
      the append ≡ rebuild parity test pins. A legacy sidecar without
      ``sum_dl`` reconstructs it as round(avgdl·n_docs) (the true
      token total is the nearest integer).
    """
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        read_meta_sidecar,
        swap_directory,
        write_meta_sidecar,
    )

    ver = begin_index_mutation(path)
    spark = new_docs.sparkSession
    meta = read_meta_sidecar(f"{path}/_bm25_meta", "bm25_meta_json")
    old_n = float(meta["n_docs"])
    old_sum = float(
        meta["sum_dl"]
        if "sum_dl" in meta
        else round(float(meta["avgdl"]) * old_n)
    )
    # generation stamp: new-format indexes (meta carries ``gen``)
    # stamp the batch's rows with gen+1 and extend the doc manifest —
    # what lets a tombstone written at gen g mask exactly the rows it
    # saw while a later re-ingest survives. Legacy indexes (no gen in
    # meta, no gen column in their parquet) stay un-stamped so their
    # files keep one consistent schema.
    new_gen = int(meta["gen"]) + 1 if "gen" in meta else None

    post = _postings(new_docs, id_col, text_col, "dl")
    if new_gen is not None:
        post = post.withColumn("gen", F.lit(new_gen).cast("long"))
    commit_index_mutation(path, ver)  # claim before the first visible write
    (
        post.repartitionByRange("term")
        .sortWithinPartitions("term")
        .write.mode("append")
        .parquet(f"{path}/postings")
    )
    if new_gen is not None:
        _manifest_rows(new_docs, id_col, text_col, new_gen).write.mode(
            "append"
        ).parquet(f"{path}/{MANIFEST_DIR}")
    # df merge reads the old df dir, so stage the merged frame and
    # swap — Spark's lazy overwrite would otherwise truncate its own
    # input mid-scan
    batch_df = (
        _batch_postings_readback(spark, path, post)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    old_df = scan_parquet(spark, f"{path}/df")
    merged = (
        old_df.unionByName(batch_df)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .repartitionByRange("term")
        .sortWithinPartitions("term")
    )
    staged = f"{path}/df_staged"
    merged.write.mode("overwrite").parquet(staged)
    swap_directory(staged, f"{path}/df")

    row = new_docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_new"),
        F.sum(F.size(tokens_col(text_col)).cast("double")).alias("sum_new"),
    ).first()
    n_docs = old_n + float(row["n_new"])
    sum_dl = old_sum + float(row["sum_new"] or 0.0)
    new_meta = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
    }
    if new_gen is not None:
        new_meta["gen"] = new_gen
    write_meta_sidecar(f"{path}/_bm25_meta", "bm25_meta_json", new_meta)


def bm25_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "doc_id"
) -> None:
    """Tombstone-delete documents from a persisted BM25 index (see
    :func:`bm25_write_index`; lifecycle contract in
    ``operators/indexstore.py``) — the takedown / right-to-erasure /
    dedup-winner-removal path that would otherwise force a full
    rebuild. ``delete(batch) ≡ rebuild(remaining)``: search results
    are bit-identical to an index built on the surviving corpus
    (pinned by test), because BM25's global statistics are maintained
    exactly, not just masked:

    - **postings**: untouched on disk (tombstones, O(batch) write);
      every search anti-joins the tombstone set after its term-pruned
      read, so deleted docs never score. Cost rides the join the plan
      already makes — no extra corpus pass.
    - **df**: per-term document frequencies DECREMENT by the deleted
      docs' postings (one broadcast-join scan of the postings — an
      index-sized pass, never a corpus re-tokenize), terms reaching
      df = 0 drop, staged + swapped like the appender's merge.
      Integer-valued doubles subtract exactly, so df matches a
      rebuild bit-for-bit.
    - **meta**: (n_docs, sum_dl) subtract the batch's exact totals
      (n and dl from the LIVE doc-manifest rows, so zero-token docs
      count and dead rows don't) and avgdl re-derives as the one
      division over exact operands — identical to what a rebuild
      computes.

    IDEMPOTENT: the batch is intersected with the LIVE manifest
    before anything is counted, so a double-delete, a delete of a
    never-ingested id, or a mixed batch subtracts exactly the stats
    of the ids that are actually live — ``delete(B); delete(B) ≡
    delete(B)`` and ``delete(unknown)`` is a no-op (pinned by test).
    Tombstones are written at the CURRENT ingest generation, masking
    every existing row of the id while leaving any later re-ingest
    (strictly greater generation) live — which is what
    :func:`bm25_upsert_index` builds on. Legacy indexes without a
    manifest fall back to postings-derived liveness (zero-token docs
    are invisible there — rebuild the index to upgrade). Run
    :func:`bm25_compact_index` when the tombstone set warrants
    physically dropping the postings.
    """
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        read_meta_sidecar,
        swap_directory,
        write_meta_sidecar,
        write_tombstones,
    )

    ver = begin_index_mutation(path)
    spark = deleted.sparkSession
    dele = deleted.select(F.col(id_col).alias("doc_id")).distinct()
    meta = read_meta_sidecar(f"{path}/_bm25_meta", "bm25_meta_json")
    old_n = float(meta["n_docs"])
    old_sum = float(
        meta["sum_dl"]
        if "sum_dl" in meta
        else round(float(meta["avgdl"]) * old_n)
    )

    manifest_live = _read_manifest_live(spark, path)
    if manifest_live is not None:
        live = dele.join(manifest_live, "doc_id").persist()
    else:
        # legacy fallback: liveness from the postings themselves —
        # the ids that have live postings rows and no standing
        # tombstone (zero-token docs are invisible here; rebuild the
        # index for exact accounting of those)
        live = (
            _anti_tombstones_gen(
                scan_parquet(spark, f"{path}/postings"), path, "doc_id"
            )
            .join(F.broadcast(dele), "doc_id")
            .select("doc_id", "dl")
            .distinct()
            .persist()
        )
    n_del = live.count()
    if n_del == 0:
        live.unpersist()
        return

    gone = (
        _anti_tombstones_gen(
            scan_parquet(spark, f"{path}/postings"), path, "doc_id"
        )
        .join(F.broadcast(live.select("doc_id")), "doc_id")
        .persist()
    )
    delta = gone.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("__gone_df")
    )
    sum_gone = float(live.agg(F.sum("dl")).first()[0] or 0.0)

    old_df = scan_parquet(spark, f"{path}/df")
    merged = (
        old_df.join(F.broadcast(delta), "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("__gone_df"), F.lit(0.0))).alias("df"),
        )
        .filter(F.col("df") > 0)
        .repartitionByRange("term")
        .sortWithinPartitions("term")
    )
    staged = f"{path}/df_staged"
    merged.write.mode("overwrite").parquet(staged)
    gone.unpersist()
    commit_index_mutation(path, ver)  # claim before the first visible swap
    swap_directory(staged, f"{path}/df")

    n_docs = old_n - float(n_del)
    sum_dl = old_sum - float(sum_gone)
    new_meta = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
    }
    if "gen" in meta:
        new_meta["gen"] = int(meta["gen"])
    write_meta_sidecar(f"{path}/_bm25_meta", "bm25_meta_json", new_meta)
    if manifest_live is not None:
        _write_tombstones_gen(
            live.select("doc_id"), path, int(meta.get("gen", 0))
        )
    else:
        write_tombstones(live.select("doc_id"), path, id_col="doc_id")
    live.unpersist()


def bm25_compact_index(spark, path: str) -> None:
    """Compact a persisted BM25 index after a run of
    :func:`bm25_append_index` batches and/or
    :func:`bm25_delete_index` tombstones: rewrite the postings —
    minus any tombstoned documents — back into ONE range-sorted
    generation so every term again lives in exactly one file group
    (each append adds a generation, and per-term file touches grow
    with generation count — the standard LSM compaction trade, paid
    here without re-tokenizing anything: the input is the postings
    themselves, so compaction costs one (term-range) shuffle of the
    index rows, not a corpus pass). df and the meta sidecar are
    already single-generation AND delete-adjusted (the appender and
    deleter rewrite them in full) and are untouched; the tombstone
    directory clears once its rows are physically gone. Search
    results are identical before and after (pinned by test) —
    compaction changes layout, never content."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        clear_tombstones,
        commit_index_mutation,
        swap_directory,
    )

    ver = begin_index_mutation(path)
    post = _anti_tombstones_gen(
        scan_parquet(spark, f"{path}/postings"), path, "doc_id"
    )
    staged = f"{path}/postings_staged"
    (
        post.repartitionByRange("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(staged)
    )
    # the doc manifest compacts the same way: live rows only (dead
    # generations physically dropped alongside their postings)
    manifest_live = _read_manifest_live(spark, path)
    mstaged = None
    if manifest_live is not None:
        mstaged = f"{path}/{MANIFEST_DIR}__staged"
        manifest_live.write.mode("overwrite").parquet(mstaged)
    commit_index_mutation(path, ver)  # claim before the first visible swap
    swap_directory(staged, f"{path}/postings")
    if mstaged is not None:
        swap_directory(mstaged, f"{path}/{MANIFEST_DIR}")
    clear_tombstones(path)


def bm25_upsert_index(
    new_docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Upsert a document batch into a persisted BM25 index:
    re-ingested ids replace their old content, new ids simply land —
    completing the family's CRUD matrix (the vector indexes got
    upsert via partition-scoped rewrite; BM25's postings are
    TERM-partitioned, so a document's rows are scattered across every
    term range and physical replacement would be a full index rewrite
    — instead, replacement is by ingest GENERATION):

    1. ``existing`` = batch ids ∩ LIVE doc manifest (sound even for
       zero-token documents, which have no postings row — the
       manifest is why BM25 can have an upsert at all);
    2. :func:`bm25_delete_index` tombstones those ids at the current
       generation g (stats decrement exactly);
    3. :func:`bm25_append_index` ingests the whole batch at g+1 —
       strictly above every tombstone, so the new rows are live while
       the replaced ones stay dead. O(batch + vocabulary), never a
       corpus re-tokenize.

    ``upsert(batch) ≡ rebuild(corpus − old versions ∪ batch)`` for
    search results, bit-identical stats included (pinned by test).
    Requires a manifest-format index (built by this version's
    :func:`bm25_write_index`); raises on a legacy index — re-ingest
    detection from postings alone would silently miss zero-token
    documents, and a wrong silent answer is worse than a loud one."""
    spark = new_docs.sparkSession
    manifest_live = _read_manifest_live(spark, path)
    if manifest_live is None:
        raise ValueError(
            "bm25_upsert_index: index has no _doc_manifest sidecar "
            "(legacy layout) — rebuild it with bm25_write_index to "
            "enable upsert"
        )
    batch_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    existing = batch_ids.join(manifest_live.select("doc_id"), "doc_id")
    if existing.limit(1).count() > 0:
        bm25_delete_index(existing, path, id_col="doc_id")
    bm25_append_index(new_docs, path, id_col=id_col, text_col=text_col)


#: Sidecar (underscore-prefixed → invisible to partition discovery)
#: holding one row per EVER-ingested document: (doc_id, dl, gen). The
#: doc-id manifest is what makes delete idempotent (live = manifest ∩
#: batch — a double-delete or never-ingested id intersects to nothing)
#: and upsert sound (zero-token documents have no postings row, so
#: re-ingest detection from the index alone would miss them — the
#: manifest sees every ingested id). Corpus-cardinality, two small
#: columns; appends extend it, compaction rewrites it live-only.
MANIFEST_DIR = "_doc_manifest"


def _with_gen(df: DataFrame) -> DataFrame:
    """Ensure the ingest-generation column exists (legacy index files
    predate it; their rows are generation 0)."""
    if "gen" in df.columns:
        return df
    return df.withColumn("gen", F.lit(0).cast("long"))


def _read_tombstones_gen(spark, path: str) -> DataFrame | None:
    """BM25's generation-aware tombstones as (id, tgen): a tombstone
    written at ingest-generation g kills every row of that id with
    ``gen <= g`` — so a LATER re-ingest (gen g+1) is live while the
    replaced rows stay dead, which is exactly what lets upsert be
    delete + append with no physical postings rewrite. Legacy id-only
    tombstone rows kill every generation (tgen = +inf sentinel),
    preserving the old semantics. One row per id (max tgen)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        TOMBSTONE_DIR,
        has_data_files,
    )

    if not has_data_files(f"{path}/{TOMBSTONE_DIR}"):
        return None
    t = scan_parquet(spark, f"{path}/{TOMBSTONE_DIR}")
    tg = (
        F.col("gen").cast("long")
        if "gen" in t.columns
        else F.lit(2**62).cast("long")
    )
    return t.select("id", tg.alias("tgen")).groupBy("id").agg(
        F.max("tgen").alias("tgen")
    )


def _anti_tombstones_gen(df: DataFrame, path: str, id_col: str) -> DataFrame:
    """Drop generation-dead rows from an index read: LEFT ANTI join on
    (id match AND row gen <= tombstone gen). No-op without tombstones
    (beyond ensuring the ``gen`` column exists)."""
    d = _with_gen(df)
    tomb = _read_tombstones_gen(df.sparkSession, path)
    if tomb is None:
        return d
    return d.join(
        F.broadcast(tomb),
        (d[id_col] == tomb["id"]) & (d["gen"] <= tomb["tgen"]),
        "left_anti",
    )


def _write_tombstones_gen(ids: DataFrame, path: str, gen: int) -> None:
    """Append a delete batch as (id, gen) tombstone rows — the
    generation-aware form of ``indexstore.write_tombstones`` (BM25 is
    the one index whose upsert works by generation masking instead of
    physical partition replacement, because its postings are
    term-partitioned — a document's rows are scattered across every
    term range, so a physical per-document rewrite would be a full
    index rewrite)."""
    from spatially_databricks_etl_spark.operators.indexstore import TOMBSTONE_DIR

    ids.select(
        F.col("doc_id").alias("id"), F.lit(int(gen)).cast("long").alias("gen")
    ).distinct().write.mode("append").parquet(f"{path}/{TOMBSTONE_DIR}")


def _manifest_rows(docs: DataFrame, id_col: str, text_col: str, gen: int) -> DataFrame:
    """(doc_id, dl, gen) manifest rows for an ingest batch — dl from
    the SAME tokenizer as the postings build, coalesced to 0 so
    zero-token/null-text documents (which have no postings rows at
    all) are still on the books."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.size(tokens_col(text_col)), F.lit(0))
        .cast("long")
        .alias("dl"),
        F.lit(int(gen)).cast("long").alias("gen"),
    )


def _read_manifest_live(spark, path: str) -> DataFrame | None:
    """The LIVE rows of the doc-id manifest (generation-dead rows
    masked), or ``None`` for a legacy index without one."""
    from spatially_databricks_etl_spark.operators.indexstore import has_data_files

    if not has_data_files(f"{path}/{MANIFEST_DIR}"):
        return None
    m = scan_parquet(spark, f"{path}/{MANIFEST_DIR}")
    return _anti_tombstones_gen(m, path, "doc_id")


def _batch_postings_readback(spark, path: str, post: DataFrame) -> DataFrame:
    """The batch's postings for the df merge. Recomputing from the
    already-shuffled ``post`` frame is one re-execution of the batch
    build (batch-sized, not corpus-sized); the full-build path reads
    its postings back from parquet instead, and either source yields
    the same exact per-term counts."""
    return post.select("doc_id", "term")


def bm25_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_col: str = "query",
    quantize: int | None = None,
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted BM25 index (see :func:`bm25_write_index`):
    the query-term set becomes an ``IN`` filter PUSHED into the
    postings and df scans (range-sorted layout → footer min/max file
    skipping), the scalar stats come from the sidecar, and scoring +
    ranking match :func:`bm25_topk` exactly over the same corpus
    (pinned by test). The batch is collected ONCE, already tokenized
    by the shared tokenizer, and the batch size is ENFORCED there, not
    just documented: :func:`indexstore.collect_probe_batch` (default
    ceiling ``similarity.ANN_MAX_QUERIES``) raises on a degenerate
    mega-batch — the same contract as the LSH/IVF/IVF-PQ index
    routers. The distinct (query, term) probe side is built from those
    rows as one Arrow table, so the caller's frame is read once."""
    from pyspark.sql.types import StringType, StructField, StructType

    from spatially_databricks_etl_spark.operators.indexstore import (
        apply_allowed_ids,
        collect_probe_batch,
        read_meta_sidecar,
    )
    from spatially_databricks_etl_spark.operators.relational import top_k_per_group
    from spatially_databricks_etl_spark.sources.arrow import arrow_frame

    spark = queries.sparkSession
    meta = read_meta_sidecar(f"{path}/_bm25_meta", "bm25_meta_json")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), tokens_col(query_col).alias("__terms")
    )
    rows = collect_probe_batch(q, "bm25_search_index", max_queries)
    # set semantics per query (repeated terms count once), as in bm25_topk
    pairs = dict.fromkeys(
        (r["query_id"], t) for r in rows for t in (r["__terms"] or [])
    )
    qterms = arrow_frame(
        spark,
        [{"query_id": qid, "term": t} for qid, t in pairs],
        StructType([q.schema["query_id"], StructField("term", StringType())]),
    )
    terms = sorted({t for _, t in pairs})
    post = apply_allowed_ids(
        _anti_tombstones_gen(
            scan_parquet(spark, f"{path}/postings").filter(F.col("term").isin(terms)),
            path,
            "doc_id",
        ),
        allowed_ids,
        "doc_id",
    )
    df_t = scan_parquet(spark, f"{path}/df").filter(F.col("term").isin(terms))
    matched = post.join(F.broadcast(qterms), "term").join(F.broadcast(df_t), "term")
    n_docs, avgdl = float(meta["n_docs"]), float(meta["avgdl"])
    idf = F.log(1.0 + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    scored = (
        matched.withColumn("__c", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").alias("score"))
    )
    if quantize is not None:
        scored = scored.withColumn(
            "score",
            F.floor(F.col("score") * F.lit(float(10**quantize)) + F.lit(0.5)).cast(
                "long"
            ),
        )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "doc_id", "score", "rank")


def retrieval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    quantize: int | None = 6,
) -> DataFrame:
    """Per-query retrieval-quality metrics — recall@k, MRR@k and
    nDCG@k (Järvelin & Kekäläinen, "Cumulated gain-based evaluation
    of IR techniques", TOIS 2002) — over a ranked ``run`` (query_id,
    doc_id, rank: any retriever output in this module's contract)
    judged against ``qrels`` (query_id, doc_id, rel > 0, graded).
    This is the measurement layer every retrieval/RAG stack needs
    next to its retrievers: the recall ORACLES grade fixed pinned
    paths; this operator evaluates ANY run against ANY judgment set.
    No reference analog (the reference has no search surface,
    `Spatially ETL test.py:120-168`).

    - recall@k = |top-k ∩ relevant| / |relevant| — exact integer
      ratio;
    - MRR@k = 1/rank of the first relevant hit (0 when none) — exact
      reciprocal of a small integer;
    - DCG@k = Σ_hits (2^rel − 1)/log2(rank+1), IDCG@k the same sum
      over the query's top-k judgments by (rel DESC, doc_id), and
      nDCG = DCG/IDCG. log2 is computed as ln(x)/ln(2) on BOTH
      engines so cross-engine parity rests on the already-pinned ln
      (the BM25 idf precedent); gains 2^rel − 1 are exact small
      integers. ``quantize`` e6-floors the three ratios (the repo's
      derived-continuous-score idiom).

    Rows with rel ≤ 0 or null are ignored (a qrels file often carries
    judged-irrelevant rows); queries present in qrels but absent from
    the run still emit a row (recall/mrr/ndcg = 0) — silent query
    drop-out is exactly what an eval harness must surface.

    Scale shape: one equi-join of the (n_queries·k)-bounded run
    against qrels, two per-query hash aggregates, and a window over
    qrels bounded per query — every frame is judgment-sized, never
    corpus-sized.
    """
    from pyspark.sql.window import Window

    from spatially_databricks_etl_spark.operators.relational import top_k_per_group

    LN2 = 0.6931471805599453  # ln(2), the same literal both engines fold
    rels = qrels.filter(
        F.col(rel_col).isNotNull() & (F.col(rel_col) > 0)
    ).select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(rel_col).cast("long").alias("rel"),
    )
    runk = run.filter(F.col(rank_col) <= k).select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(rank_col).cast("long").alias("rank"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)
    hits = runk.join(rels, ["query_id", "doc_id"]).select(
        "query_id",
        "rank",
        (gain / (F.log(F.col("rank") + F.lit(1.0)) / F.lit(LN2))).alias("__dg"),
    )
    per_q_hits = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("rank").alias("__first"),
        F.sum("__dg").alias("__dcg"),
    )
    ideal = top_k_per_group(
        rels,
        ["query_id"],
        [F.col("rel").desc(), F.col("doc_id")],
        k,
        rank_col="__irank",
    ).select(
        "query_id",
        (gain / (F.log(F.col("__irank") + F.lit(1.0)) / F.lit(LN2))).alias("__idg"),
    )
    per_q_rel = rels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    per_q_ideal = ideal.groupBy("query_id").agg(F.sum("__idg").alias("__idcg"))
    out = (
        per_q_rel.join(per_q_ideal, "query_id")
        .join(per_q_hits, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_rel").cast("double")
            ).alias("__recall"),
            F.coalesce(
                F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
            ).alias("__mrr"),
            F.coalesce(F.col("__dcg") / F.col("__idcg"), F.lit(0.0)).alias(
                "__ndcg"
            ),
        )
    )
    if quantize is None:
        return out.select(
            "query_id",
            "n_rel",
            "n_hits",
            F.col("__recall").alias("recall"),
            F.col("__mrr").alias("mrr"),
            F.col("__ndcg").alias("ndcg"),
        )
    q = float(10**quantize)

    def e6(c):
        return F.floor(F.col(c) * F.lit(q) + F.lit(0.5)).cast("long")

    return out.select(
        "query_id",
        "n_rel",
        "n_hits",
        e6("__recall").alias("recall_e6"),
        e6("__mrr").alias("mrr_e6"),
        e6("__ndcg").alias("ndcg_e6"),
    )


def mmr_rerank(
    candidates: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
    vec_col: str = "vec",
    k: int = 5,
    lambda_num: int = 7,
    lambda_denom: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    of a per-query candidate list: greedily pick ``k`` documents, each
    maximizing ``λ·relevance − (1−λ)·max-similarity-to-already-picked``
    — the relevance/diversity trade-off stage that follows first-stage
    retrieval (BM25 / ANN / hybrid fusion).

    EXACT integer semantics so the greedy run is value-replayable in
    SQL: ``rel_col`` and the ``vec_col`` components must be integers
    (quantize floats with the repo's floor(x·scale + 0.5) idiom
    first); similarity is the integer dot product; the selection
    score is ``lambda_num·rel − (lambda_denom−lambda_num)·maxsim``
    (λ as a rational — no float comparisons anywhere), maxsim over
    the picked set (0 for the first pick), ties broken by smallest
    id. Caller keeps |score| inside int64 (quantized unit-norm
    vectors at e3 scale leave ~6 orders of headroom).

    Returns (query_col, rank, id_col, mmr_score).

    Scale shape: greedy selection is inherently sequential IN k, so
    it runs per query group via Arrow-batched ``applyInPandas`` — the
    one-group-per-query partitioning distributes over queries, and
    each group is a bounded first-stage candidate list (top-N), so
    the in-group O(N²·dim) similarity matrix and O(k·N) greedy loop
    are constant-bounded regardless of corpus size. One shuffle on
    the query key, nothing O(corpus)."""
    if not 0 < lambda_num <= lambda_denom:
        raise ValueError(
            f"need 0 < lambda_num <= lambda_denom, got {lambda_num}/{lambda_denom}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    import numpy as np
    import pandas as pd

    fields = {f.name: f.dataType.simpleString() for f in candidates.schema.fields}
    out_schema = (
        f"{query_col} {fields[query_col]}, rank long,"
        f" {id_col} {fields[id_col]}, mmr_score long"
    )
    comp = lambda_denom - lambda_num

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id so np.argmax's first-max rule IS the smallest-id
        # tie-break
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf[vec_col]])
        sims = mat @ mat.T  # exact int64 pairwise dot products
        n = len(ids)
        # maxsim over the picked set can be NEGATIVE (integer dots are
        # signed) — only the FIRST pick uses the defined-empty-max 0,
        # so the running max starts as the first pick's column, never
        # clamped at zero
        maxsim = None
        alive = np.ones(n, dtype=bool)
        out_rank, out_id, out_score = [], [], []
        for rank in range(1, min(k, n) + 1):
            score = (
                lambda_num * rel
                if maxsim is None
                else lambda_num * rel - comp * maxsim
            )
            score = np.where(alive, score, np.iinfo(np.int64).min)
            best = int(np.argmax(score))
            alive[best] = False
            out_rank.append(rank)
            out_id.append(ids[best])
            out_score.append(int(score[best]))
            maxsim = (
                sims[:, best].copy()
                if maxsim is None
                else np.maximum(maxsim, sims[:, best])
            )
        return pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[0],
                "rank": out_rank,
                id_col: out_id,
                "mmr_score": out_score,
            }
        )

    return candidates.groupBy(query_col).applyInPandas(pick, schema=out_schema)
