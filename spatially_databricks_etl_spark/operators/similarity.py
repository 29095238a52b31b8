"""Similarity search over embedding columns (north-star extension).

Two tiers, as a 100 TB pipeline needs both:

- ``brute_force_topk``: exact top-k cosine. The query set is
  broadcast; the corpus is scanned ONCE with a codegen'd dot product
  and reduced via per-group top-k (window) — no corpus shuffle at
  all when k-per-query fits in a partition-local heap via
  TakeOrdered-style pruning. This is the correctness baseline.

- ``lsh_bucketed_topk`` / ``cosine_self_join_pairs``: random-
  hyperplane (sign) LSH. Vectors land in 2^planes buckets; only
  same-bucket candidates are scored. Bucket id is a plain integer
  column → the candidate join is an equi-join (sparse shuffle), the
  scale path for corpus-vs-corpus search.

Embeddings stay ``array<float>``; all arithmetic is double via
zip_with/aggregate (functions/vectors.py) — no UDF in any hot path.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.functions.vectors import cosine_similarity, dot
from spatially_databricks_etl_spark.operators.indexstore import (
    anti_tombstones,
    apply_allowed_ids,
    batch_ceiling_error,
    clear_tombstones,
    collect_probe_batch,
    compact_partitioned_index,
    read_meta_sidecar,
    read_store,
    write_meta_sidecar,
    write_partitioned,
    write_runs,
    write_tombstones,
)
from spatially_databricks_etl_spark.operators.relational import (
    ensure_parallelism,
    top_k_per_group,
)
from spatially_databricks_etl_spark.sources.arrow import arrow_frame

#: Default ceiling for the broadcast-sized query-batch contract every
#: ANN entry point shares. Above this, the collected/broadcast query
#: set stops being "tiny metadata" (10⁴ queries × dim 64 float64 ≈
#: 5 MB — safe; 10⁶ would be 500 MB and a driver OOM risk on the
#: collect-based paths). The guard makes the documented contract
#: ENFORCED: oversized batches fail fast with a pointer to the
#: batched/indexed alternative instead of OOMing mid-job.
ANN_MAX_QUERIES = 10_000


def check_query_batch(
    queries: DataFrame, op: str, max_queries: int | None = ANN_MAX_QUERIES
) -> None:
    """Enforce the broadcast-sized query-batch contract: raise when
    ``queries`` holds more than ``max_queries`` rows. One cheap
    ``limit(n+1).count()`` job — it never materializes more than
    ``max_queries + 1`` rows regardless of the input size. Pass
    ``max_queries=None`` to opt out (e.g. when the caller has already
    counted the batch)."""
    if max_queries is None:
        return
    n = queries.limit(max_queries + 1).count()
    if n > max_queries:
        raise batch_ceiling_error(op, max_queries)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast — enforced by
    ``check_query_batch``, default ceiling 10⁴); the corpus scan is a
    single pass. Ties break on neighbor id for determinism.
    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    check_query_batch(queries, "brute_force_topk", max_queries)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine_sim", cosine_similarity(F.col("__qvec"), F.col("__cvec"))
    )
    out = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def _hyperplanes(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim)


def _lsh_dots(vec_col: Column | str, planes: np.ndarray) -> list[Column]:
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return [dot(v, F.expr(_double_array_sql(plane))) for plane in planes]


def _bucket_from_dots(dots: list[Column]) -> Column:
    bucket = F.lit(0).cast("long")
    for i, d in enumerate(dots):
        bit = F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket.bitwiseOR(bit)
    return bucket


def lsh_bucket(vec_col: Column | str, planes: np.ndarray) -> Column:
    """Random-hyperplane bucket id: bit i = sign(v · plane_i). The
    planes ship as literal arrays (tiny) so the whole expression is
    codegen'd — no UDF, no broadcast variable needed."""
    return _bucket_from_dots(_lsh_dots(vec_col, planes))


def lsh_probe_buckets(
    vec_col: Column | str, planes: np.ndarray, *, multiprobe: int = 0
) -> Column:
    """Array of buckets to probe for a QUERY vector: its own bucket
    plus the ``multiprobe`` buckets across the nearest hyperplanes
    (smallest |v·plane| margins — the standard multi-probe LSH trick:
    a vector near a hyperplane has its true neighbors split across
    that bit, so flipping the lowest-margin bits recovers them without
    adding tables or reducing planes). Pure array expressions: margins
    sort ascending, the flip mask comes from a literal power table
    (shift amounts can't be columns)."""
    n = len(planes)
    if not 0 <= multiprobe <= n:
        raise ValueError(f"multiprobe must be in [0, planes={n}]")
    dots = _lsh_dots(vec_col, planes)
    base = _bucket_from_dots(dots)
    if multiprobe == 0:
        return F.array(base)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(d).alias("m"), F.lit(j).alias("j"))
                for j, d in enumerate(dots)
            ]
        )
    )
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(n)])
    flips = F.transform(
        F.slice(margins, 1, multiprobe),
        lambda s: base.bitwiseXOR(F.get(powers, s.getField("j"))),
    )
    return F.concat(F.array(base), flips)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 0,
    hyperplanes: np.ndarray | list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket candidates.

    The candidate join is an equi-join on the integer bucket id, so
    the corpus shuffles once by bucket (or not at all if the bucketed
    corpus is pre-materialized — see :func:`lsh_write_index`).
    ``multiprobe=m`` additionally probes, per query, the m buckets
    across its lowest-margin hyperplanes (see
    :func:`lsh_probe_buckets`) — recall rises at the cost of scoring
    ~(1+m)/2^planes of the corpus per query instead of ~1/2^planes;
    no duplicate candidates arise because each corpus vector lives in
    exactly one bucket. 8 planes ≈ 256 buckets is a reasonable sf0.1
    default.

    ``hyperplanes`` overrides the seeded Gaussian planes with an
    explicit (planes, dim) matrix — the same pinned-quantizer hook as
    ``ivf_topk(centroids=...)``; the graded ``ann_lsh_recall`` query
    passes basis vectors so an external engine can replay the sign
    projections and margins exactly.
    """
    check_query_batch(queries, "lsh_bucketed_topk", max_queries)
    hp = (
        np.asarray(hyperplanes, dtype=np.float64)
        if hyperplanes is not None
        else _hyperplanes(dim, planes, seed)
    )
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    c = c.withColumn("__bucket", lsh_bucket("__cvec", hp))
    q = q.withColumn(
        "__bucket",
        F.explode(lsh_probe_buckets("__qvec", hp, multiprobe=multiprobe)),
    )
    scored = c.join(F.broadcast(q), on="__bucket").withColumn(
        "cosine_sim", cosine_similarity(F.col("__qvec"), F.col("__cvec"))
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k, rank_col="rank"
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def lsh_write_index(
    corpus: DataFrame,
    path: str,
    *,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH index: the bucket-assigned corpus written
    as parquet PARTITIONED BY bucket id, plus the (planes, dim, seed)
    parameters as a ``_lsh_meta`` sidecar — the hyperplanes themselves
    re-derive deterministically from the seed. Ingest-time half of the
    repeated-query path: bucketing (one corpus pass) happens at write;
    searches read only the probed bucket directories."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    hp = _hyperplanes(dim, planes, seed)
    bucketed = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("__bucket", lsh_bucket("embedding", hp))
    write_partitioned(bucketed, path, "__bucket")
    write_meta_sidecar(
        f"{path}/_lsh_meta",
        "lsh_params_json",
        {"planes": planes, "dim": dim, "seed": seed},
    )


def lsh_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted LSH index (see
    :func:`lsh_write_index`): the batch buckets with the sidecar's
    (planes, dim, seed) — hyperplanes re-derive deterministically, and
    bucket assignment is per-vector, so append ≡ rebuild exactly — and
    lands as ONE sorted run beside the ``__bucket=N`` partition
    directories (``indexstore.write_runs``: O(batch) files, however many
    buckets it hits); the standing corpus is never re-bucketed.
    Caller contract: batch ids are new. Unlike the learned IVF/PQ
    models, random hyperplanes never go stale under distribution
    drift — only bucket-size SKEW can grow; monitor it and re-seed +
    rewrite if a mega-bucket forms (the same hazard note as
    :func:`lsh_bucketed_topk`)."""
    _vector_append_index(new_vecs, path, _lsh_assigned, "__bucket", id_col, vec_col)


def lsh_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted LSH index (see :func:`lsh_write_index`):
    queries bucket with the sidecar's hyperplanes inside the one batch
    collect (:func:`indexstore.collect_probe_batch`, which also
    enforces ``max_queries``), the query buckets' directories are read
    under a STATIC partition filter (only probed directories are
    listed/read), and scoring broadcast-joins the Arrow-built probe
    side on the partition column. Identical results to
    :func:`lsh_bucketed_topk` over the same corpus and parameters
    (pinned by test)."""
    spark = queries.sparkSession
    meta = read_meta_sidecar(f"{path}/_lsh_meta", "lsh_params_json")
    hp = _hyperplanes(meta["dim"], meta["planes"], meta["seed"])
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__bucket", lsh_bucket("__qvec", hp))
    rows = collect_probe_batch(q, "lsh_search_index", max_queries)
    probes = arrow_frame(spark, rows, q.schema)
    corpus = apply_allowed_ids(
        anti_tombstones(
            read_store(
                spark, path, "__bucket", [r["__bucket"] for r in rows]
            ),
            path,
            "vec_id",
        ),
        allowed_ids,
        "vec_id",
    )
    scored = corpus.join(F.broadcast(probes), on="__bucket").withColumn(
        "cosine_sim", cosine_similarity(F.col("__qvec"), F.col("embedding"))
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id")], k, rank_col="rank"
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rank"
    )


def cosine_self_join_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, candidates
    from LSH bucket equality (corpus-vs-corpus without the quadratic
    cross join). Returns (id_a, id_b, cosine_sim), id_a < id_b."""
    hp = _hyperplanes(dim, planes, seed)
    base = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")), "__id"
    )
    bucketed = base.withColumn("__bucket", lsh_bucket("__vec", hp))
    left = bucketed.select(F.col("__id").alias("id_a"), F.col("__vec").alias("__va"), "__bucket")
    right = bucketed.select(F.col("__id").alias("id_b"), F.col("__vec").alias("__vb"), "__bucket")
    return (
        left.join(right, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine_similarity(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .dropDuplicates(["id_a", "id_b"])
    )


def _scaled_centroid_lit(raw_cents: list[list[float]]) -> Column:
    """Centroids (pre-scaled by 1/|c_j|) as ONE nested literal array —
    an indexed transform over it keeps the expression tree O(1) in
    n_centroids (vs n_centroids separate dot expressions — compile
    time grows with tree size, and the search path is re-planned per
    query batch)."""
    scaled = [
        # c·(1/|c|): per element the same IEEE product as x·inv
        np.asarray(c, dtype=np.float64) * (1.0 / (float(np.linalg.norm(c)) or 1.0))
        for c in raw_cents
    ]
    return _double_matrix_lit(scaled)


def _double_matrix_lit(rows) -> Column:
    """``array<array<double>>`` literal of ``rows``, parsed in one JVM
    call (:func:`_double_array_sql`)."""
    return F.expr("array(" + ", ".join(_double_array_sql(v) for v in rows) + ")")


def _double_array_sql(values) -> str:
    """``array<double>`` literal as SQL text. A whole matrix of these
    parses in ONE JVM call, where ``F.lit`` per element — and
    ``F.lit(np.ndarray)``, whose Py4J converter sets the Java array one
    element at a time — costs a round trip per value (about 1,000 for
    16 centroids of dimension 64). ``repr`` round-trips every float64
    exactly, so the literal is bit-identical to the per-element form."""
    return (
        "array("
        + ", ".join(
            f"{x!r}D" if math.isfinite(x) else f"CAST('{x!r}' AS DOUBLE)"
            for x in (float(v) for v in values)
        )
        + ")"
    )


def _cell_sims(cents_lit: Column):
    def cell_sims(vec: Column) -> Column:
        # |v| is constant across centroids, so argmax over
        # dot(v, c_j)/|c_j| == argmax over cosine — skip |v|.
        return F.transform(
            cents_lit,
            lambda c, j: F.struct(dot(vec, c).alias("sim"), j.alias("cell")),
        )

    return cell_sims


def ivf_build(
    corpus: DataFrame,
    *,
    n_centroids: int = 16,
    kmeans_iters: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """IVF index BUILD: train the coarse quantizer once, return its
    centroids (a driver-side list — O(centroids·dim), independent of
    corpus size) for any number of :func:`ivf_topk` calls.

    Centroid training is index-build work, not query work: every
    Lloyd iteration is a full corpus pass, so re-deriving centroids
    inside each query call would add an extra 100 TB scan per batch.
    Build once (at ingest / index refresh), search many.

    Quantizer: ``n_centroids`` corpus vectors chosen by hashed id
    (deterministic, seed-stable), refined with ``kmeans_iters`` Lloyd
    iterations: assign every vector to its nearest centroid (codegen'd
    argmax — the same expression the search pass uses), recompute each
    centroid as its cell's mean via ONE hash-aggregate with ``dim``
    per-element ``sum(F.get(vec, i))`` columns — map-side partials
    combine, the shuffle carries only (cell, dim sums, count) rows,
    and the collect stays O(centroids·dim), not O(data). Lloyd
    tightens cells toward actual density, which raises recall at fixed
    nprobe vs raw sampled centroids. Empty cells keep their previous
    centroid."""
    sample = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__v"))
        .orderBy(F.xxhash64(F.col("__cid").cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r["__v"]] for r in sample]
    if not cents:
        raise ValueError("ivf_build: empty corpus — no centroids to sample")
    dim = len(cents[0])

    vecs = corpus.select(F.col(vec_col).alias("__v"))
    for _ in range(max(0, kmeans_iters)):
        cell_sims = _cell_sims(_scaled_centroid_lit(cents))
        assigned_i = vecs.withColumn(
            "__cell", F.array_max(cell_sims(F.col("__v"))).getField("cell")
        )
        stats = assigned_i.groupBy("__cell").agg(
            F.count("*").alias("__n"),
            *[F.sum(F.get("__v", i)).alias(f"__s{i}") for i in range(dim)],
        ).collect()
        for r in stats:
            j, n = r["__cell"], r["__n"]
            if n > 0:
                cents[j] = [float(r[f"__s{i}"]) / n for i in range(dim)]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    kmeans_iters: int = 0,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k SEARCH: partition the
    corpus by nearest coarse centroid, probe only the ``nprobe``
    centroids closest to each query.

    Pass ``centroids`` from :func:`ivf_build` to search a prebuilt
    index (the scale path — build once, search many). Without it, a
    quantizer is built inline with ``kmeans_iters`` Lloyd passes
    (default 0: sampled centroids only, so the one-shot path costs a
    single corpus scan; refinement is opt-in because every Lloyd
    iteration adds a full corpus pass).

    Plan shape at scale: one narrow corpus pass assigns each vector to
    its cell (argmax over ``n_centroids`` codegen'd dot products — no
    UDF, no shuffle); queries explode to ``nprobe`` (query, cell) rows
    and BROADCAST into an equi-join on cell id, so the corpus never
    shuffles; exact cosine + windowed top-k inside the probed cells
    only. Expected work vs brute force: ``nprobe/n_centroids`` of the
    corpus scored per query. Recall is approximate — unit tests check
    recall@k against ``brute_force_topk``; no SQL oracle.

    Pre-materialize the assigned corpus (partitioned by ``__cell``) at
    ingest for repeated querying: probes then become partition-pruned
    scans.
    """
    check_query_batch(queries, "ivf_topk", max_queries)
    cents = centroids if centroids is not None else ivf_build(
        corpus,
        n_centroids=n_centroids,
        kmeans_iters=kmeans_iters,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    if not cents:
        raise ValueError("ivf_topk: empty centroid list")
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))

    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")),
        "neighbor_id",
    )
    assigned = c.withColumn("__cell", F.array_max(cell_sims(F.col("__cvec"))).getField("cell"))

    probes = _probe_cells(queries, cell_sims, nprobe, query_id_col, vec_col)

    scored = assigned.join(F.broadcast(probes), on="__cell").withColumn(
        "cosine_sim", cosine_similarity(F.col("__qvec"), F.col("__cvec"))
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("neighbor_id")], k, rank_col="rank"
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def _probe_cells(
    queries: DataFrame, cell_sims, nprobe: int, query_id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, __qvec, __cell) — one row per probed cell, the
    ``nprobe`` nearest centroids per query."""
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
    return q.withColumn("__cell", F.explode(_nearest_cells(cell_sims, nprobe)))


def _nearest_cells(cell_sims, nprobe: int) -> Column:
    """The ``nprobe`` nearest cells of ``__qvec`` as an array, nearest
    first — the probe routing both the in-memory and the persisted
    IVF search use."""
    return F.transform(
        F.slice(F.reverse(F.array_sort(cell_sims(F.col("__qvec")))), 1, nprobe),
        lambda s: s.getField("cell"),
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    *,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the cell-assigned corpus written as
    parquet PARTITIONED BY cell, plus the trained centroids as a
    ``_ivf_meta`` sidecar (underscore-prefixed, so dataset listings
    ignore it). This is the ingest-time half of the 100 TB search
    story: assignment (the only full-corpus pass) happens once at
    write; every later search probes ``nprobe`` cells as
    partition-PRUNED scans — the corpus is never re-scanned, never
    shuffled, and unprobed cells are never even listed."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    cell_sims = _cell_sims(_scaled_centroid_lit(centroids))
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))
    write_partitioned(assigned, path, "__cell")
    write_meta_sidecar(f"{path}/_ivf_meta", "centroids_json", centroids)


def ivf_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted IVF index (see
    :func:`ivf_write_index`) — the vector-side incremental-ingest
    contract matching the MinHash and BM25 index appenders: only the
    BATCH is assigned (cell assignment is per-vector and uses the
    index's own pinned centroids from the sidecar, so append ≡ rebuild
    exactly), and its rows land as ONE sorted run beside the
    ``__cell=N`` partition directories (``indexstore.write_runs``:
    O(batch) files, however many cells it hits) — the standing corpus
    is never re-read, never rewritten, and searches keep the same
    partition-pruned plan, reading the runs under the same cell
    filter until a compaction or upsert folds them in. Caller
    contract: batch ids are new.

    Drift note (the honest quantizer trade): appended vectors are
    quantized by the ORIGINAL centroids. If the ingest distribution
    drifts far from the training sample, cells skew and recall at
    fixed nprobe degrades — monitor cell-size skew (e.g. the drift
    monitors over the ``__cell`` column) and retrain + rewrite via
    :func:`ivf_build` + :func:`ivf_write_index` when it matters,
    exactly as FAISS re-trains an IVF list structure."""
    _vector_append_index(new_vecs, path, _ivf_assigned, "__cell", id_col, vec_col)


def ivf_read_centroids(spark, path: str) -> list[list[float]]:
    """Load the centroids sidecar written by :func:`ivf_write_index`
    (driver-side file read — ~100 bytes of parameters never justify a
    Spark scan job; see :func:`indexstore.read_meta_sidecar`)."""
    return read_meta_sidecar(f"{path}/_ivf_meta", "centroids_json")


def ivf_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted IVF index (see :func:`ivf_write_index`).

    The batch is collected ONCE with each query's ``nprobe`` nearest
    cells already routed by the same Spark expression
    :func:`ivf_topk` uses (:func:`indexstore.collect_probe_batch`,
    which also enforces ``max_queries``). The probed cell set is
    applied as a STATIC partition filter over just the probed
    directories — the plan shows non-empty ``PartitionFilters`` and
    no other directory is listed or read — and the (query, cell)
    probe rows, built as one Arrow table, broadcast-join on the
    partition column. Result is identical to :func:`ivf_topk` over
    the same corpus and centroids (pinned by test). The collect is
    O(queries) — the query batch is broadcast anyway, so driver-side
    cell routing adds no new scale constraint."""
    spark = queries.sparkSession
    cents = centroids if centroids is not None else ivf_read_centroids(spark, path)
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))
    routed = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    ).withColumn("__cells", _nearest_cells(cell_sims, nprobe))
    rows = collect_probe_batch(routed, "ivf_search_index", max_queries)
    probes = arrow_frame(spark, rows, routed.schema).select(
        "query_id", "__qvec", F.explode("__cells").alias("__cell")
    )
    corpus = apply_allowed_ids(
        anti_tombstones(
            read_store(
                spark, path, "__cell", [c for r in rows for c in r["__cells"]]
            ),
            path,
            "vec_id",
        ),
        allowed_ids,
        "vec_id",
    )
    scored = corpus.join(F.broadcast(probes), on="__cell").withColumn(
        "cosine_sim", cosine_similarity(F.col("__qvec"), F.col("embedding"))
    )
    out = top_k_per_group(
        scored, ["query_id"], [F.col("cosine_sim").desc(), F.col("vec_id")], k, rank_col="rank"
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rank"
    )


def fuzzy_join(
    corpus: DataFrame,
    probe: DataFrame,
    *,
    corpus_col: str,
    probe_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """EXACT bounded-edit-distance join: every (probe, corpus) pair
    with ``levenshtein <= max_distance``. No reference analog - its
    only string normalization is a regex strip, `Spatially ETL
    test.py:156-157`.

    Blocking is PassJoin-style segment partitioning (Li, Deng, Feng,
    "PASS-JOIN: a partition-based method for similarity joins",
    VLDB 2011 - public algorithm, reimplemented on DataFrames): each
    corpus string of length L splits into k+1 contiguous segments; by
    pigeonhole, any string within edit distance k contains at least
    one segment EXACTLY, shifted by at most k. The probe side emits,
    for each candidate length L in [len-k, len+k] and each segment
    index, the substrings at the <= 2k+1 allowed shifts. The candidate
    step is therefore a hash EQUI-join on (L, segment_idx, segment) -
    never a cross/theta join, and orders of magnitude more selective
    than length-only banding (segments are exact-match keys).
    ``levenshtein <= k`` then verifies only the surviving pairs, whose
    multiplicity is first collapsed with a distinct on the pair key.
    Lossless by the pigeonhole argument, so the result is exact.

    At 100 TB both sides scan once, the shuffle carries only
    (key, short segment) rows, and the per-key candidate lists stay
    small even on skewed length distributions - the segment content,
    not the length, does the discriminating.
    """
    k = max_distance
    seg_idx = F.explode(F.sequence(F.lit(0), F.lit(k))).alias("__i")

    def seg_bounds(lc, i):
        # equal split of lc into k+1 parts: first (lc % (k+1)) parts
        # get the extra char; returns (start(1-based), seg_len)
        base, extra = lc / (k + 1), lc % (k + 1)
        base = F.floor(base)
        seg_len = base + F.when(i < extra, 1).otherwise(0)
        start = 1 + i * base + F.least(i, extra)
        return start, seg_len

    c = corpus.withColumn("__lc", F.length(corpus_col)).select(
        "*", seg_idx
    )
    c_start, c_len = seg_bounds(F.col("__lc"), F.col("__i"))
    c = c.withColumn("__start", c_start).withColumn("__slen", c_len)
    c = c.withColumn(
        "__seg", F.substring(F.col(corpus_col), F.col("__start"), F.col("__slen"))
    ).drop("__start")

    p = probe.withColumn("__lp", F.length(probe_col)).withColumn(
        "__lc",
        F.explode(
            F.sequence(
                F.greatest(F.col("__lp") - k, F.lit(0)), F.col("__lp") + k
            )
        ),
    ).select("*", seg_idx)
    p_start, p_len = seg_bounds(F.col("__lc"), F.col("__i"))
    p = (
        p.withColumn("__pstart", p_start)
        .withColumn("__slen", p_len)
        .withColumn(
            "__shift",
            F.explode(F.sequence(F.lit(-k), F.lit(k))),
        )
        .withColumn("__start", F.col("__pstart") + F.col("__shift"))
        # valid substring windows only: 1 <= start <= lp - slen + 1
        .filter(
            (F.col("__start") >= 1)
            & (F.col("__start") <= F.col("__lp") - F.col("__slen") + 1)
        )
        .withColumn(
            "__seg", F.substring(F.col(probe_col), F.col("__start"), F.col("__slen"))
        )
        .drop("__pstart", "__shift", "__start")
    )
    cand = (
        p.join(c, on=["__lc", "__i", "__slen", "__seg"])
        .drop("__lc", "__i", "__slen", "__seg", "__lp")
        .dropDuplicates()
    )
    return cand.withColumn(
        "distance", F.levenshtein(probe_col, corpus_col)
    ).filter(F.col("distance") <= k)


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs: exact pairwise cosine
    WITHIN each pre-assigned cluster, keeping pairs above
    ``threshold``. Returns (cluster, keep_id, drop_id, cos_sim) with
    keep_id < drop_id — the deterministic survivor rule downstream
    :func:`semantic_dedup` applies.

    Follows Abbas et al., "SemDeDup" (arXiv:2303.09540): cluster the
    embedding space first (k-means — ``ivf_build`` here — or any
    upstream partitioner), then dedup only within clusters, because
    cross-cluster pairs are far by construction. The quadratic step is
    per-cluster, so cost is Σ|c|² — bounded by keeping clusters small
    (at 100 TB raise k so N/k stays ~10⁴⁻⁵; the paper runs 50k
    clusters over LAION). The join is a plain equi-join on the
    cluster id — one shuffle of (id, cluster, vector), no cartesian.
    A pathologically hot cluster is the same skew class as any hot
    join key: AQE skew splitting applies; sub-blocking a hot cluster
    with ``lsh_bucket`` composes if needed.
    """
    from spatially_databricks_etl_spark.functions.vectors import normalize

    # Unit-normalize ONCE per vector (N rows) so each of the O(Σ|c|²)
    # pairs costs a single dot product instead of dot + two norms —
    # a measured ~3x cut on the pair stage, and the standard reason to
    # store normalized embeddings at ingest.
    norm = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__id"),
        normalize(F.col(vec_col)).alias("__nv"),
    )
    a = norm.select(
        F.col("__c"), F.col("__id").alias("keep_id"), F.col("__nv").alias("__va")
    )
    b = norm.select(
        F.col("__c"), F.col("__id").alias("drop_id"), F.col("__nv").alias("__vb")
    )
    pairs = a.join(b, on="__c").filter(F.col("keep_id") < F.col("drop_id"))
    scored = pairs.withColumn("cos_sim", dot("__va", "__vb"))
    return scored.filter(F.col("cos_sim") > threshold).select(
        F.col("__c").alias(cluster_col), "keep_id", "drop_id", "cos_sim"
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Rows that SURVIVE semantic dedup: a row is dropped when some
    lower-id row in its cluster is more similar than ``threshold``
    (drop the higher id of every near-duplicate pair). Anti-join of
    the input against the distinct drop side of
    :func:`semantic_dedup_pairs` — survivors keep all their columns.

    Note the one-hop rule is applied to RAW pairs (as in SemDeDup): in
    a chain a~b~c with cos(a,c) ≤ t, both b and c are dropped because
    each has a lower-id near-duplicate, even though c's witness b is
    itself dropped. That makes the kept set order-independent and
    cheap (no iterative closure); use ``connected_components``
    (operators/curate.py) when cluster-transitive semantics are
    wanted.
    """
    pairs = semantic_dedup_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        cluster_col=cluster_col,
        threshold=threshold,
    )
    drops = pairs.select(F.col("drop_id").alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    *,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed IVF-PQ index (the FAISS ``IVFx,PQy``
    shape): every vector is coarse-assigned to its IVF cell AND
    PQ-encoded, written as parquet partitioned by cell with both
    models as a ``_ivfpq_meta`` sidecar. The table stores
    (vec_id, pq_code, embedding): a search reads the PROBED cells
    only (partition pruning) and, within them, the ADC pass reads the
    code COLUMN only (parquet column pruning) — the full vectors are
    touched just for the shortlist rerank. Both prunings are free
    consequences of the layout; neither needs runtime machinery.

    At 100 TB this is the deployment shape: assignment + encoding
    (the only full-corpus passes) happen once at ingest; a query
    reads nprobe/n_cells of the corpus as m-byte codes, ~a 10⁴×
    scan reduction for nprobe=4/256 cells and 16-byte codes vs
    256-byte float vectors.
    """
    from spatially_databricks_etl_spark.operators.embeddings import pq_encode

    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators (marks
    # live in the sibling {root}.__index_version dir — the root
    # overwrite below cannot wipe them)
    cell_sims = _cell_sims(_scaled_centroid_lit(centroids))
    assigned = pq_encode(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        codebooks,
        vec_col="embedding",
        out_col="pq_code",
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))
    write_partitioned(assigned, path, "__cell")
    write_meta_sidecar(
        f"{path}/_ivfpq_meta",
        "ivfpq_json",
        {"centroids": centroids, "codebooks": codebooks},
    )


def ivfpq_append_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to a persisted IVF-PQ index (see
    :func:`ivfpq_write_index`): the batch is coarse-assigned AND
    PQ-encoded with the index's own pinned models (sidecar), then
    written as one sorted run beside the cell partition directories —
    per-vector deterministic, so append ≡ rebuild exactly under fixed
    models.
    Same caller contract and quantizer-drift note as
    :func:`ivf_append_index` (stale codebooks additionally inflate ADC
    error for drifted batches; retrain + rewrite when cell-size or
    residual drift says so)."""
    _vector_append_index(new_vecs, path, _ivfpq_assigned, "__cell", id_col, vec_col)


def ivfpq_search_index(
    queries: DataFrame,
    path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Search a persisted IVF-PQ index: probe the ``nprobe`` nearest
    cells per query (STATIC partition filter — unprobed directories
    are never listed), run the PQ asymmetric-distance pass over the
    probed cells' code column, keep a per-query ``shortlist``
    (default 4·k), and exact-cosine rerank only the shortlist against
    the stored vectors. Returns (query_id, neighbor_id, cosine_sim,
    rank), ties on neighbor id — the same contract as every other
    ANN entry point.

    The ADC kernel pre-reduces each Arrow batch to its per-query
    local shortlist (numpy argpartition + exact (dist, id) sort of
    the partitioned slice), so the frame that reaches the global
    shortlist window is O(shortlist · n_batches) rows per query, not
    the probed-cell row count — the window shuffle never carries a
    corpus-sized frame. The global top-``shortlist`` under the total
    order (adc_dist, vec_id) is a subset of the union of per-batch
    top-``shortlist``s, so the result is bit-identical to the
    unreduced form.
    """
    import numpy as np
    import pandas as pd

    from spatially_databricks_etl_spark.operators.relational import top_k_per_group

    if shortlist is None:
        shortlist = 4 * k
    spark = queries.sparkSession
    meta = read_meta_sidecar(f"{path}/_ivfpq_meta", "ivfpq_json")
    cents, codebooks = meta["centroids"], meta["codebooks"]
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, subdim = cb.shape

    # the one batch collect (ceiling enforced there); the rerank's
    # broadcast side is built from these rows, not the caller's frame
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    qrows = collect_probe_batch(q, "ivfpq_search_index", max_queries)
    if not qrows:
        raise ValueError("ivfpq_search_index: empty query set")
    qids = np.asarray([r["query_id"] for r in qrows])
    Q = np.stack([np.asarray(r["__qvec"], dtype=np.float64) for r in qrows])
    lut = np.stack(
        [
            (
                (Q[:, j * subdim : (j + 1) * subdim][:, None, :] - cb[j][None, :, :])
                ** 2
            ).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )

    # probed cells per query, driver-side (centroids are a driver
    # object; O(queries·cells) work on the already-collected batch)
    C = np.asarray(cents, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-30)
    sims = Qn @ Cn.T
    # probe sets keyed by QUERY INDEX (never by a cast of the id
    # value) so non-integer query ids — strings, uuids — work
    # unchanged; the id itself only rides along in the output column.
    probe_sets = [
        sorted(np.argsort(-sims[i], kind="stable")[:nprobe].tolist())
        for i in range(len(qids))
    ]
    cells = sorted({c for cs in probe_sets for c in cs})
    cell_rows = read_store(spark, path, "__cell", cells)

    codes = apply_allowed_ids(
        anti_tombstones(
            cell_rows.select("vec_id", "pq_code", "__cell"),
            path,
            "vec_id",
        ),
        allowed_ids,
        "vec_id",
    )

    def adc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes_np = np.stack(pdf["pq_code"].to_numpy())
            dists = lut[:, np.arange(m)[None, :], codes_np].sum(axis=2)
            cell_np = pdf["__cell"].to_numpy()
            vid_np = pdf["vec_id"].to_numpy()
            out = []
            for i in range(len(qids)):
                probed = np.isin(cell_np, probe_sets[i])
                if not probed.any():
                    continue
                d, v = dists[i][probed], vid_np[probed]
                # local per-batch shortlist: argpartition to the
                # `shortlist` smallest, widen to every row tying the
                # cut distance (so boundary ties resolve by id exactly
                # as the global window's (adc_dist, vec_id) sort
                # would), then exact (dist, id) order on the slice.
                if d.shape[0] > shortlist:
                    cut = d[np.argpartition(d, shortlist - 1)[:shortlist]].max()
                    cand = d <= cut
                    d, v = d[cand], v[cand]
                keep = np.lexsort((v, d))[:shortlist]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[i],
                            "vec_id": v[keep],
                            "adc_dist": d[keep],
                        }
                    )
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"query_id": [], "vec_id": [], "adc_dist": []})
            )

    qid_t = q.schema["query_id"].dataType.simpleString()
    # the corpus id type comes from the STORED index schema, not a
    # hardcoded long — string/int ids round-trip through the index
    vid_t = codes.schema["vec_id"].dataType.simpleString()
    scored = codes.mapInPandas(
        adc, schema=f"query_id {qid_t}, vec_id {vid_t}, adc_dist double"
    )
    short = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adc_dist"), F.col("vec_id")],
        shortlist,
        rank_col="__adc_rank",
    ).select("query_id", "vec_id")
    vecs = cell_rows.select("vec_id", "embedding")
    exact = (
        short.join(vecs, "vec_id")
        .join(
            F.broadcast(arrow_frame(spark, qrows, q.schema)),
            "query_id",
        )
        .withColumn("cosine_sim", cosine_similarity(F.col("__qvec"), F.col("embedding")))
    )
    out = top_k_per_group(
        exact,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("vec_id")],
        k,
        rank_col="rank",
    )
    return out.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine_sim", "rank"
    )


def _vector_delete_index(deleted: DataFrame, path: str, id_col: str) -> None:
    """Shared delete for the vector-index family (LSH buckets,
    IVF/IVF-PQ cells): the ids tombstone under ``{path}/_tombstones``
    and every search anti-joins them after its pruned read — see
    ``operators/indexstore.py`` for the full lifecycle contract. The
    vector indexes carry NO corpus-derived global statistics (pinned
    centroids / seeded hyperplanes only), so a delete is pure
    tombstoning: ``delete(batch) ≡ rebuild(remaining)`` for search
    results immediately, no stats merge needed (unlike
    ``bm25_delete_index``). Caller contract: ids are live in the
    index (present, not already tombstoned)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate vs concurrent mutators
    write_tombstones(
        deleted.select(F.col(id_col).alias("vec_id")), path, id_col="vec_id"
    )


def lsh_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted LSH index (see
    :func:`lsh_write_index`; lifecycle in ``operators/indexstore.py``).
    ``delete ≡ rebuild(remaining)`` search results, pinned by test."""
    _vector_delete_index(deleted, path, id_col)


def ivf_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted IVF index (see
    :func:`ivf_write_index`; lifecycle in ``operators/indexstore.py``).
    ``delete ≡ rebuild(remaining)`` search results, pinned by test."""
    _vector_delete_index(deleted, path, id_col)


def ivfpq_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "vec_id"
) -> None:
    """Tombstone-delete vectors from a persisted IVF-PQ index (see
    :func:`ivfpq_write_index`; lifecycle in ``operators/indexstore.py``).
    Both the ADC code pass and the exact rerank see only live rows."""
    _vector_delete_index(deleted, path, id_col)


def _vector_upsert_index(
    new_vecs: DataFrame, path: str, assigned_fn, pcol: str, id_col: str, vec_col: str
) -> None:
    """Shared upsert for the vector-index family — a PARTITION-SCOPED
    rewrite, not a tombstone (an id-only tombstone cannot distinguish
    the replaced old row from its re-ingested successor, so upsert
    needs physical replacement):

    1. the batch assigns under the index's pinned models
       (``assigned_fn`` — the same code path the appenders use, so
       upsert ≡ rebuild stays an identity);
    2. the AFFECTED partitions = the batch ids' current partitions ∪
       the batch's newly-assigned partitions — everything else on
       disk is untouched, which is what keeps the cost O(affected
       partitions + runs), not O(index);
    3. their replacement content = (current rows of those partition
       directories minus batch ids minus tombstoned rows — upsert
       compacts what it touches) ∪ the assigned batch, and the rows
       of the appends' runs that hold a batch id, minus the batch
       ids, become one replacement run; both are staged to a sibling
       directory and swapped in (never overwrite what is being
       read), the folded runs moving aside in the same swap;
    4. batch ids leave the tombstone store (a previously-deleted id
       that is re-ingested must become searchable again).

    ``upsert(batch) ≡ rebuild(corpus − old versions ∪ batch)`` for
    search results, pinned by test. Vector indexes can offer this
    because every ingested id has an index row to locate; BM25
    deliberately does NOT get an upsert — a zero-token document has
    no postings row, so re-ingest detection from the index alone is
    unsound there (a doc-id manifest would be required)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        heal_partition_swap,
        list_runs,
        shed_tombstones,
        stage_rewrite,
        swap_partitions,
    )

    # heal a crashed earlier upsert's half-swapped state BEFORE the
    # old-partition scan below reads the live index
    heal_partition_swap(path)
    ver = begin_index_mutation(path)

    spark = new_vecs.sparkSession
    assigned = assigned_fn(
        new_vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        path,
    ).persist()
    batch_ids = assigned.select("vec_id").distinct()
    runs = list_runs(path)
    idx = read_store(spark, path, pcol, runs=runs)
    affected = sorted(
        {
            r[pcol]
            for r in idx.join(F.broadcast(batch_ids), "vec_id")
            .select(pcol)
            .unionByName(assigned.select(pcol))
            .distinct()
            .collect()
        }
    )

    keep = (
        anti_tombstones(read_store(spark, path, pcol, affected, runs=[]), path, "vec_id")
        .join(F.broadcast(batch_ids), "vec_id", "left_anti")
    )
    content = keep.select(*assigned.columns).unionByName(assigned)
    staged = f"{path.rstrip('/')}.__upsert_staged"
    runs = stage_rewrite(content, staged, pcol, runs, batch_ids)
    assigned.unpersist()
    commit_index_mutation(path, ver)  # claim before the first visible swap
    # crash-safe partition swap (live copies and old runs aside first,
    # deleted last)
    swap_partitions(staged, path, pcol, affected, runs)

    # re-ingested ids must shed any standing tombstone (their old
    # rows are physically gone from the affected partitions, so the
    # shed cannot resurrect stale content)
    shed_tombstones(spark, path, batch_ids, id_col="vec_id")


def _vector_append_index(
    new_vecs: DataFrame, path: str, assigned_fn, pcol: str, id_col: str, vec_col: str
) -> None:
    """Shared append for the vector-index family: the batch assigns
    under the index's pinned models (``assigned_fn``, shared with the
    upsert) and is published as one sorted run
    (:func:`indexstore.write_runs`), claimed against the version read
    here at entry."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
    )

    ver = begin_index_mutation(path)
    assigned = assigned_fn(
        new_vecs.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")),
        path,
    )
    write_runs(path, ver, [(assigned, path, pcol)])


def _lsh_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch bucket assignment under a persisted LSH index's sidecar
    parameters — the shared half of append and upsert."""
    meta = read_meta_sidecar(f"{path}/_lsh_meta", "lsh_params_json")
    hp = _hyperplanes(meta["dim"], meta["planes"], meta["seed"])
    return new_vecs.withColumn("__bucket", lsh_bucket("embedding", hp))


def _ivf_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch cell assignment under a persisted IVF index's pinned
    centroids — the shared half of append and upsert."""
    cents = ivf_read_centroids(new_vecs.sparkSession, path)
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))
    return new_vecs.withColumn(
        "__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell")
    )


def _ivfpq_assigned(new_vecs: DataFrame, path: str) -> DataFrame:
    """Batch coarse assignment + PQ encoding under a persisted IVF-PQ
    index's pinned models — the shared half of append and upsert."""
    from spatially_databricks_etl_spark.operators.embeddings import pq_encode

    meta = read_meta_sidecar(f"{path}/_ivfpq_meta", "ivfpq_json")
    cents, codebooks = meta["centroids"], meta["codebooks"]
    cell_sims = _cell_sims(_scaled_centroid_lit(cents))
    return pq_encode(
        new_vecs, codebooks, vec_col="embedding", out_col="pq_code"
    ).withColumn("__cell", F.array_max(cell_sims(F.col("embedding"))).getField("cell"))


def lsh_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted LSH index: re-ingested ids replace
    their old vectors via a partition-scoped rewrite, new ids simply
    land. See :func:`_vector_upsert_index` for the contract."""
    _vector_upsert_index(new_vecs, path, _lsh_assigned, "__bucket", id_col, vec_col)


def ivf_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted IVF index (partition-scoped rewrite
    under the pinned centroids). See :func:`_vector_upsert_index`."""
    _vector_upsert_index(new_vecs, path, _ivf_assigned, "__cell", id_col, vec_col)


def ivfpq_upsert_index(
    new_vecs: DataFrame, path: str, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Upsert into a persisted IVF-PQ index (partition-scoped rewrite
    with re-encoding under the pinned models). See
    :func:`_vector_upsert_index`."""
    _vector_upsert_index(new_vecs, path, _ivfpq_assigned, "__cell", id_col, vec_col)


def lsh_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted LSH index: physically drop
    tombstoned vectors, fold the appends' runs into one file group
    per bucket directory, clear the tombstones. Results identical
    before/after (pinned by test)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__bucket")
    clear_tombstones(path)


def ivf_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted IVF index (see
    :func:`lsh_compact_index` — same contract, ``__cell`` layout)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__cell")
    clear_tombstones(path)


def ivfpq_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted IVF-PQ index (codes + vectors
    rewritten without tombstoned rows; models sidecar untouched)."""
    compact_partitioned_index(spark, path, id_col="vec_id", partition_col="__cell")
    clear_tombstones(path)
