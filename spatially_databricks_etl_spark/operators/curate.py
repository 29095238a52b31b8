"""Corpus curation: the end-to-end training-data pipeline that the
dedup/text operators exist to serve (north-star extension; the
reference has no analog — its pipeline ends at a filtered CTAS,
`Spatially ETL test.py:236-245`).

``curate_corpus`` composes: quality gate → language gate → exact
dedup (deterministic survivor) → near-dup CLUSTERING (MinHash-LSH
pairs → connected components → keep one representative per cluster).

Connected components is the piece pair-generation alone can't do:
near-dup pairs form chains (A~B, B~C but A≁C); dropping "the second
doc of each pair" either over-drops or under-drops. Label propagation
converges in diameter(cluster) iterations — near-dup clusters are
shallow (docs similar to a common template), so 3-5 iterations
suffice in practice; ``max_iterations`` bounds the worst case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.caching import (
    release_intermediates,
    unpersist_checkpoint,
)
from spatially_databricks_etl_spark.functions.text import quality_score
from spatially_databricks_etl_spark.sources.arrow import arrow_frame
from spatially_databricks_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dedup,
)


def _token_ngrams(toks, n: int):
    """Word n-grams over an already-split token array (space-joined),
    empty array below n tokens — same output as
    ``functions.text.ngrams(col, n, character=False)`` without the
    join-then-resplit round trip."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))


def _ws_tokens(text_col: str):
    """Lowercased whitespace tokens; empty array for blank text (split
    of '' would yield [''] — one phantom token)."""
    c = F.col(text_col)
    return F.when(F.trim(c) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(F.trim(c)), r"\s+")
    )


def repetition_metrics(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``dup_token_frac``: 1 − distinct/total whitespace tokens (0.0
      for empty docs) — pure array functions, codegen'd per row;
    - ``top_bigram_frac``: occurrences of the most frequent word
      bigram / total bigrams (0.0 when fewer than 2 tokens).

    The bigram mode is computed distributed (explode → two-level
    groupBy), not with an O(tokens²) per-row array scan: at 100 TB a
    long document would make the quadratic variant a straggler, while
    explode+partial-agg shuffles only (doc_id, bigram, count) rows.
    No reference analog (its quality story is a manual SELECT *,
    `Spatially ETL test.py:249-250`).
    """
    toks = docs.select(F.col(id_col), _ws_tokens(text_col).alias("toks"))
    per_doc = toks.select(
        id_col,
        F.when(
            F.size("toks") > 0,
            F.lit(1.0) - F.size(F.array_distinct("toks")) / F.size("toks"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        _token_ngrams(F.col("toks"), 2).alias("bigrams"),
    )
    bigram_counts = (
        per_doc.select(id_col, F.explode("bigrams").alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top_frac = bigram_counts.groupBy(id_col).agg(
        (F.max("c") / F.sum("c")).alias("top_bigram_frac")
    )
    return (
        per_doc.drop("bigrams")
        .join(top_frac, on=id_col, how="left")
        .withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Train/test contamination check: corpus documents sharing at
    least one exact word ``n``-gram with any benchmark document.
    Returns (id_col, n_shared_ngrams) — distinct shared n-grams per
    contaminated document; clean documents are absent.

    Scale shape: the benchmark n-gram set is DISTINCT-ed then
    broadcast (benchmark suites are MBs, the corpus is the 100 TB
    side), so the probe is a map-side hash join over the exploded
    corpus grams — no shuffle of the big side. For corpora where even
    per-executor gram sets strain memory, swap the broadcast for a
    bucketed join on ``xxhash64(gram)`` longs (string equality is
    preserved modulo negligible 64-bit collisions).
    No reference analog.
    """
    def gram_rows(df: DataFrame) -> DataFrame:
        toks = df.select(F.col(id_col), _ws_tokens(text_col).alias("toks"))
        return (
            toks.select(
                id_col, F.explode(_token_ngrams(F.col("toks"), n)).alias("gram")
            )
            .distinct()
        )

    bench_grams = gram_rows(benchmark).select("gram").distinct()
    corpus_grams = gram_rows(docs)
    return (
        corpus_grams.join(F.broadcast(bench_grams), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    n: int = 5,
    min_frac_e6: int = 0,
) -> DataFrame:
    """Contamination ATTRIBUTION — the audit companion to
    :func:`decontaminate` (which only aggregates hit counts over the
    whole benchmark): per (corpus doc, benchmark doc) pair, how many
    distinct word ``n``-grams they share and what fraction of the
    corpus doc's distinct grams that is (the GPT-3/PaLM-style n-gram
    overlap metric) — so an audit can say WHICH benchmark item leaked
    into WHICH training document, not just "something did".

    Returns (id_col, bench_id, n_shared, doc_frac_e6) for pairs with
    ``doc_frac_e6 >= min_frac_e6``; ``doc_frac_e6`` is the exact
    integer ``n_shared·10⁶ div n_doc_grams``. Clean pairs are absent.

    Scale shape: benchmark grams (suite-sized, MBs) broadcast against
    the exploded corpus grams — the corpus side never shuffles for
    the probe; only the matched slivers aggregate on (doc, bench).
    The per-doc gram totals reuse the same exploded frame (one
    aggregate keyed by doc id). No reference analog."""

    def gram_rows(df: DataFrame, idc: str, out: str) -> DataFrame:
        toks = df.select(F.col(idc).alias(out), _ws_tokens(text_col).alias("toks"))
        return toks.select(
            out, F.explode(_token_ngrams(F.col("toks"), n)).alias("gram")
        ).distinct()

    corpus_grams = gram_rows(docs, id_col, "__cid")
    bench_grams = gram_rows(benchmark, bench_id_col, "bench_id")
    totals = corpus_grams.groupBy("__cid").agg(
        F.count(F.lit(1)).alias("__total")
    )
    shared = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("__cid", "bench_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.join(totals, "__cid")
        .withColumn(
            "doc_frac_e6", F.expr("(n_shared * 1000000) div __total")
        )
        .filter(F.col("doc_frac_e6") >= min_frac_e6)
        .select(
            F.col("__cid").alias(id_col), "bench_id", "n_shared", "doc_frac_e6"
        )
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate-aware SAMPLING WEIGHTS — the down-weight-don't-drop
    alternative to hard dedup (the SlimPajama/D4 observation: some
    duplication is signal; dropping every copy over-prunes, keeping
    all over-trains — weighting each copy 1/cluster_size makes every
    distinct content unit contribute equally in expectation).

    Clusters are exact-text groups by default, or connected
    components over ``pairs`` (any near-dup pair generator — the
    :func:`dedup_keep_best` contract). Returns every input doc with
    (id_col, cluster_id, cluster_size, weight_e6) where
    ``weight_e6 = 10⁶ div cluster_size`` exactly and ``cluster_id``
    is the cluster's smallest doc id (singletons: own id, weight
    10⁶).

    Scale shape: the exact path is one corpus aggregate on the text
    key joined back on the same key (two Exchanges on text; at 100 TB
    swap the key for ``xxhash64(text)`` — the span-hash discipline —
    with the negligible-collision caveat). The pairs path never
    shuffles the corpus at all: CC runs on the pair graph, cluster
    sizes broadcast back (the :func:`dedup_keep_best` shape)."""
    if pairs is None:
        g = docs.groupBy(F.col(text_col).alias("__t")).agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.min(id_col).alias("cluster_id"),
        )
        return (
            docs.join(g, docs[text_col] == g["__t"])
            .select(
                id_col,
                "cluster_id",
                "cluster_size",
                F.expr("(1000000) div cluster_size").alias("weight_e6"),
            )
        )
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    lab = comp.join(sizes, "component").select(
        F.col("id").alias(id_col),
        F.col("component").alias("__cid"),
        F.col("cluster_size").alias("__cs"),
    )
    return docs.join(lab, id_col, "left").select(
        id_col,
        F.coalesce("__cid", F.col(id_col)).alias("cluster_id"),
        F.coalesce("__cs", F.lit(1)).cast("long").alias("cluster_size"),
        F.expr("(1000000) div coalesce(__cs, 1)").alias("weight_e6"),
    )


def domain_quality_rollup(
    docs: DataFrame,
    *,
    domain_col: str = "source",
    text_col: str = "text",
    short_len: int = 100,
    max_dup_frac_e6: int = 500_000,
    max_short_frac_e6: int = 500_000,
    min_docs: int = 1,
) -> DataFrame:
    """Per-DOMAIN quality rollup — the RefinedWeb/CCNet observation
    that crawl quality decisions are cheapest at domain granularity:
    a domain whose pages are mostly mutual duplicates or mostly
    near-empty is dropped wholesale before any per-doc work. Emits
    per domain: ``n_docs``, ``n_unique_texts`` (exact distinct),
    ``dup_frac_e6 = (n_docs − n_unique)·10⁶ div n_docs``,
    ``mean_chars_e6``, ``short_frac_e6`` (docs under ``short_len``
    chars), and the conjunctive ``keep``.

    All ratios exact e6 integers. Scale shape: a two-level aggregate —
    (domain, text) partial groups first (map-side combine absorbs
    exact duplicates where they sit), then the domain rollup on the
    tiny (domain, distinct-text) frame; at 100 TB swap the first-level
    key for ``xxhash64(text)`` (negligible-collision caveat) so the
    Exchange carries 8-byte keys — the span-hash discipline."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    g1 = docs.groupBy(
        F.col(domain_col).alias("domain"), t.alias("__t")
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    g2 = g1.groupBy("domain").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
        F.sum(F.length("__t") * F.col("__c")).cast("long").alias("__chars"),
        F.sum(F.when(F.length("__t") < short_len, F.col("__c")).otherwise(0))
        .cast("long")
        .alias("__nshort"),
    )
    out = g2.select(
        "domain",
        "n_docs",
        "n_unique_texts",
        F.expr("((n_docs - n_unique_texts) * 1000000) div n_docs").alias(
            "dup_frac_e6"
        ),
        F.expr("(__chars * 1000000) div n_docs").alias("mean_chars_e6"),
        F.expr("(__nshort * 1000000) div n_docs").alias("short_frac_e6"),
    )
    keep = (
        (F.col("dup_frac_e6") <= max_dup_frac_e6)
        & (F.col("short_frac_e6") <= max_short_frac_e6)
        & (F.col("n_docs") >= min_docs)
    )
    return out.withColumn("keep", keep)


def script_profile(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Unicode-SCRIPT profile — the zero-cost routing
    signal ahead of n-gram lang-id (`functions/text.py: lang_id`):
    counts of Latin letters, digits, Cyrillic, CJK, whitespace and
    other codepoints, e6 fractions over non-space chars, and the
    deterministic dominant class. A multilingual crawl routes each
    doc to the right tokenizer/lang-id model off this profile before
    any model runs; mixed-script docs (spam, code-switching) surface
    as no-majority profiles.

    Counts are computed as length deltas under class-removal
    ``regexp_replace`` (one pass per class, all codegen string ops —
    no explode); every range is BMP so char counts agree across
    engines. Dominance ties break in the fixed order latin > digit >
    cyrillic > cjk > other. Map-only; exact integers."""
    classes = {
        "latin": "[A-Za-z]",
        "digit": "[0-9]",
        "cyrillic": "[Ѐ-ӿ]",
        "cjk": "[一-鿿]",
        "space": "[ \t\n\f\r]",
    }
    t = F.coalesce(F.col(text_col), F.lit(""))
    cols = [F.col(id_col), F.length(t).cast("long").alias("__len")]
    for name, pat in classes.items():
        cols.append(
            (
                F.length(t)
                - F.length(F.regexp_replace(t, pat + "+", F.lit("")))
            )
            .cast("long")
            .alias(f"n_{name}")
        )
    d = docs.select(*cols).withColumn(
        "n_other",
        F.col("__len")
        - F.col("n_latin")
        - F.col("n_digit")
        - F.col("n_cyrillic")
        - F.col("n_cjk")
        - F.col("n_space"),
    )
    dominant = (
        F.when(
            (F.col("n_latin") >= F.col("n_digit"))
            & (F.col("n_latin") >= F.col("n_cyrillic"))
            & (F.col("n_latin") >= F.col("n_cjk"))
            & (F.col("n_latin") >= F.col("n_other")),
            F.lit("latin"),
        )
        .when(
            (F.col("n_digit") >= F.col("n_cyrillic"))
            & (F.col("n_digit") >= F.col("n_cjk"))
            & (F.col("n_digit") >= F.col("n_other")),
            F.lit("digit"),
        )
        .when(
            (F.col("n_cyrillic") >= F.col("n_cjk"))
            & (F.col("n_cyrillic") >= F.col("n_other")),
            F.lit("cyrillic"),
        )
        .when(F.col("n_cjk") >= F.col("n_other"), F.lit("cjk"))
        .otherwise(F.lit("other"))
    )
    return d.select(
        id_col,
        "n_latin",
        "n_digit",
        "n_cyrillic",
        "n_cjk",
        "n_other",
        F.expr(
            "(n_latin * 1000000) div greatest(__len - n_space, 1)"
        ).alias("latin_frac_e6"),
        F.expr(
            "(n_cyrillic * 1000000) div greatest(__len - n_space, 1)"
        ).alias("cyrillic_frac_e6"),
        F.expr(
            "(n_cjk * 1000000) div greatest(__len - n_space, 1)"
        ).alias("cjk_frac_e6"),
        dominant.alias("dominant"),
    )


def split_leakage_audit(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    splits: dict[str, float] | None = None,
    salt: str = "",
    threshold: float = 0.7,
    shingle_size: int = 5,
) -> DataFrame:
    """Cross-split LEAKAGE audit — the check every train/val/test
    split needs after near-dup analysis: a near-duplicate pair
    straddling a split boundary leaks eval content into training
    (the reason deduplication must run BEFORE splitting, and the
    audit that proves whether it did). Returns near-dup pairs whose
    endpoints landed in different :func:`hash_split` buckets:
    (id_a, id_b, split_a, split_b, jaccard_sim).

    ``pairs`` defaults to a fresh MinHash-LSH pass at ``threshold``;
    pass a precomputed pair frame (e.g. from the persisted MinHash
    index) to audit a re-split without re-shingling the corpus.

    Scale shape: the split assignment is :func:`hash_split`'s
    map-only md5 bucketing — no shuffle; the pair frame (orders of
    magnitude smaller than the corpus) joins the assignment twice
    with the pair side broadcast under AQE, so the corpus never
    shuffles for the audit."""
    from spatially_databricks_etl_spark.operators.dedup import (
        minhash_near_dedup,
    )

    if pairs is None:
        pairs = minhash_near_dedup(
            docs,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            shingle_size=shingle_size,
        )
    assign = hash_split(
        docs, key_col=id_col, splits=splits, salt=salt
    ).select(F.col(id_col).alias("__sid"), "split")
    out = (
        pairs.join(
            assign.select(
                F.col("__sid").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            assign.select(
                F.col("__sid").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return out.select(
        "id_a", "id_b", "split_a", "split_b", "jaccard_sim"
    )


#: Gopher's required-stopword probe set (Rae et al. 2021 §A1.1)
GOPHER_REQUIRED_STOPWORDS = (
    "the",
    "be",
    "to",
    "of",
    "and",
    "that",
    "have",
    "with",
)


def gopher_quality(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_e6: int = 3_000_000,
    max_mean_word_len_e6: int = 10_000_000,
    max_symbol_ratio_e6: int = 100_000,
    max_bullet_ratio_e6: int = 900_000,
    max_ellipsis_ratio_e6: int = 300_000,
    min_alpha_word_ratio_e6: int = 800_000,
    min_required_stopwords: int = 2,
    required_stopwords: tuple[str, ...] = GOPHER_REQUIRED_STOPWORDS,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A1.1) — the rule-based
    quality gate every large web-corpus pipeline runs before model
    training (MassiveWeb, RefinedWeb, FineWeb all derive from it).
    Emits every signal plus the conjunctive ``keep``, so callers can
    audit WHICH rule fired, not just the verdict:

    - ``n_words`` ∈ [min_words, max_words] (whitespace tokens);
    - mean word length ∈ [3, 10] chars;
    - symbol-to-word ratio ≤ 0.1 (``#`` chars + non-overlapping
      ``...`` runs);
    - ≤ 90% of lines starting with a bullet (``-``/``*``/``•``);
    - ≤ 30% of lines ending with an ellipsis;
    - ≥ 80% of words containing an alphabetic character;
    - ≥ 2 of the required stopwords present (lowercased membership).

    All ratios are exact e6 fixed-point integers (``x·10⁶ div n``) —
    no float boundary, so the whole gate is SQL-replayable. Empty
    docs emit zeros and ``keep = false``. Companion signals live in
    :func:`repetition_metrics` (Gopher's repetition rules).

    Scale shape: one map-only pass — every signal is an array/string
    codegen expression over the row (no explode, no shuffle, no
    Python); at 100 TB this is a pure scan whose cost is reading the
    text column."""
    ws = "[^ \t\n\f\r]+"
    words = F.when(
        F.length(F.coalesce(F.col(text_col), F.lit(""))) == 0,
        F.array().cast("array<string>"),
    ).otherwise(F.regexp_extract_all(F.col(text_col), F.lit(ws), F.lit(0)))
    sw_arr = F.array(*[F.lit(s) for s in required_stopwords])
    d = docs.select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
        words.alias("__w"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("__l"),
    ).select(
        id_col,
        F.size("__w").cast("long").alias("n_words"),
        F.expr(
            "aggregate(__w, 0L, (a, x) -> a + length(x))"
        ).alias("__sumlen"),
        (
            F.length("__t") - F.length(F.replace("__t", F.lit("#"), F.lit("")))
        ).alias("__nhash"),
        F.expr(
            "(length(__t) - length(replace(__t, '...', ''))) div 3"
        ).alias("__nell"),
        F.size("__l").cast("long").alias("__nlines"),
        F.size(
            F.expr("filter(__l, x -> substring(ltrim(x), 1, 1) IN ('-', '*', '•'))")
        )
        .cast("long")
        .alias("__nbullet"),
        F.size(F.expr("filter(__l, x -> right(rtrim(x), 3) = '...')"))
        .cast("long")
        .alias("__nelline"),
        F.size(F.expr("filter(__w, x -> x rlike '[A-Za-z]')"))
        .cast("long")
        .alias("__nalpha"),
        F.size(
            F.array_intersect(
                F.array_distinct(F.expr("transform(__w, x -> lower(x))")),
                sw_arr,
            )
        )
        .cast("long")
        .alias("n_required_stopwords"),
    )
    out = d.select(
        id_col,
        "n_words",
        F.expr("(__sumlen * 1000000) div greatest(n_words, 1)").alias(
            "mean_word_len_e6"
        ),
        F.expr(
            "((__nhash + __nell) * 1000000) div greatest(n_words, 1)"
        ).alias("symbol_ratio_e6"),
        F.expr("(__nbullet * 1000000) div greatest(__nlines, 1)").alias(
            "bullet_ratio_e6"
        ),
        F.expr("(__nelline * 1000000) div greatest(__nlines, 1)").alias(
            "ellipsis_ratio_e6"
        ),
        F.expr("(__nalpha * 1000000) div greatest(n_words, 1)").alias(
            "alpha_word_ratio_e6"
        ),
        "n_required_stopwords",
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len_e6").between(
            min_mean_word_len_e6, max_mean_word_len_e6
        )
        & (F.col("symbol_ratio_e6") <= max_symbol_ratio_e6)
        & (F.col("bullet_ratio_e6") <= max_bullet_ratio_e6)
        & (F.col("ellipsis_ratio_e6") <= max_ellipsis_ratio_e6)
        & (F.col("alpha_word_ratio_e6") >= min_alpha_word_ratio_e6)
        & (F.col("n_required_stopwords") >= min_required_stopwords)
    )
    return out.withColumn("keep", keep)


def c4_line_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", §2.2) — the other canonical web-corpus filter next
    to :func:`gopher_quality`'s document-level rules:

    - a line is KEPT iff it ends in terminal punctuation
      (``. ! ? "``), has ≥ ``min_words_per_line`` whitespace words,
      and does not contain ``javascript`` (case-insensitive);
    - the whole document is DROPPED iff its text contains
      ``lorem ipsum`` (case-insensitive) or a ``{``
      (``drop_reason = 'banned_substring'``), or fewer than
      ``min_kept_lines`` lines survive (``'too_few_lines'``).

    Returns one row per input doc: (id_col, clean_text,
    n_lines_kept, n_lines_dropped, dropped, drop_reason);
    ``clean_text`` is the newline-joined kept lines, NULL for dropped
    docs. Deterministic end to end, SQL-replayable.

    Scale shape: map-only — line split, per-line predicate, and
    re-join are array codegen expressions; no explode, no shuffle,
    no Python."""
    ws = "[^ \t\n\f\r]+"
    kept_expr = (
        "filter(__l, x -> right(rtrim(x), 1) IN ('.', '!', '?', '\"')"
        f" AND size(regexp_extract_all(x, '{ws}', 0)) >= {min_words_per_line}"
        " AND NOT contains(lower(x), 'javascript'))"
    )
    d = docs.select(
        F.col(id_col),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n").alias("__l"),
        F.lower(F.coalesce(F.col(text_col), F.lit(""))).alias("__lt"),
    ).select(
        id_col,
        F.expr(kept_expr).alias("__kept"),
        F.size("__l").cast("long").alias("__nlines"),
        (
            F.contains(F.col("__lt"), F.lit("lorem ipsum"))
            | F.contains(F.col("__lt"), F.lit("{"))
        ).alias("__banned"),
    )
    n_kept = F.size("__kept").cast("long")
    dropped = F.col("__banned") | (n_kept < min_kept_lines)
    reason = F.when(F.col("__banned"), F.lit("banned_substring")).when(
        n_kept < min_kept_lines, F.lit("too_few_lines")
    )
    return d.select(
        id_col,
        F.when(dropped, F.lit(None).cast("string"))
        .otherwise(F.array_join("__kept", "\n"))
        .alias("clean_text"),
        n_kept.alias("n_lines_kept"),
        (F.col("__nlines") - n_kept).alias("n_lines_dropped"),
        dropped.alias("dropped"),
        reason.alias("drop_reason"),
    )


def hash_split(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "",
    method: str = "md5",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing a stable
    key — the standard leakage-safe way to split a corpus (same key →
    same split forever, regardless of row order, partitioning, or
    cluster size; no reference analog).

    ``method="md5"``: bucket = first 4 hex chars of
    ``md5(key || salt)`` compared against precomputed hex thresholds —
    fixed-width lowercase hex compares identically as a string in any
    engine, so the exact assignment is reproducible outside Spark
    (the DuckDB oracle uses the same expression).
    ``method="xxhash64"``: cheaper 64-bit path for production.
    Both are JVM-codegen'd per row: no shuffle, no UDF — the split
    of a 100 TB corpus is a map-only pass.
    """
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(splits.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {splits}")
    key = F.concat(F.col(key_col).cast("string"), F.lit(salt))
    if method == "md5":
        bucket = F.substring(F.md5(key), 1, 4)  # uniform over 16^4
        space = 16**4
        to_edge = lambda c: format(min(int(c * space), space - 1), "04x")  # noqa: E731
    elif method == "xxhash64":
        bucket, space = F.pmod(F.xxhash64(key), F.lit(1_000_000)), 1_000_000
        to_edge = lambda c: min(int(c * space), space - 1)  # noqa: E731
    else:
        raise ValueError(f"unknown method {method!r}")
    expr, cum = None, 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = bucket < F.lit(to_edge(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (expr if expr is not None else F.when(F.lit(False), "")).otherwise(
        names[-1]
    )
    return docs.withColumn("split", expr)


def sample_mixture(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 1.0,
    copy_idx_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic data-MIXTURE resampling: each group (source,
    language, domain …) gets a target rate, and every row is emitted
    ``floor(rate)`` times plus one more with probability
    ``frac(rate)`` — so rates below 1 downsample, above 1 upsample
    with repetition, which is exactly the mixture-weighting knob an
    LLM pretraining pipeline turns (e.g. 2.3 epochs of wiki, 0.5 of
    common crawl). No reference analog.

    Determinism contract (same as ``hash_split``): the fractional
    coin is the first 6 hex chars of ``md5(key || salt)`` over 16⁶ —
    a uniform double any engine reproduces bit-for-bit, so the exact
    multiset of emitted rows is stable under reordering,
    repartitioning, and re-runs, and the DuckDB oracle replays it.
    Emitted copies carry ``copy_idx`` (0-based) so downstream shuffles
    can treat repeats as distinct rows.

    Scale shape: pure codegen projection + ``posexplode`` of an
    ``array_repeat`` — map-only, no shuffle, no UDF; rows with a zero
    copy count disappear in the explode. Rates ship as a literal CASE
    chain over the group column (vocabulary-sized by construction).
    """
    if any(r < 0 for r in rates.values()) or default_rate < 0:
        raise ValueError(f"mixture rates must be >= 0, got {rates}")
    rate = None
    for g, r in rates.items():
        cond = F.col(group_col) == g
        rate = F.when(cond, float(r)) if rate is None else rate.when(cond, float(r))
    rate = (
        rate.otherwise(float(default_rate))
        if rate is not None
        else F.lit(float(default_rate))
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(16**6))
    )
    n_copies = (
        F.floor(rate) + F.when(frac < rate - F.floor(rate), 1).otherwise(0)
    ).cast("int")
    return (
        docs.withColumn("__n_copies", n_copies)
        .select(
            "*",
            F.posexplode(F.array_repeat(F.lit(1), F.col("__n_copies"))).alias(
                copy_idx_col, "__one"
            ),
        )
        .drop("__one", "__n_copies")
    )


def score_linear(
    df: DataFrame,
    *,
    cols: list[str],
    weights: list[float],
    bias: float = 0.0,
    out_col: str = "score",
) -> DataFrame:
    """Hashed-feature LINEAR model scoring (the fastText-style quality
    classifier a curation pipeline runs over every document): each
    (column, value) pair hashes into the weight table via the
    :func:`feature_hash` md5 index, and the score is
    ``sigmoid(bias + Σ_j W[h(col_j=value_j)])``. The weight table
    ships as a literal array (O(dims) — model-sized, not data-sized)
    and the whole expression is codegen: a 100 TB scoring pass is
    map-only with no UDF, no shuffle, no model server. For dims past
    ~10⁵ move the table to a broadcast (idx → weight) join instead of
    a literal. Null feature values contribute 0 (the null slot from
    ``feature_hash`` is skipped via coalesce), matching the common
    "missing feature" convention.

    Determinism: md5 indexing is engine-reproducible (same contract
    as ``hash_split``/``feature_hash``), and the dot product is a
    fixed-order sum over ``cols``, so any engine replays the exact
    score."""
    dims = len(weights)
    if dims < 1:
        raise ValueError("weights must be non-empty")
    if not cols:
        raise ValueError("cols must be non-empty")
    w_lit = F.array(*[F.lit(float(w)) for w in weights])
    scored = feature_hash(df, cols=cols, dims=dims, out_col="__fidx")
    z = F.lit(float(bias))
    for j in range(len(cols)):
        z = z + F.coalesce(F.get(w_lit, F.get("__fidx", j)), F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return scored.withColumn(out_col, score).drop("__fidx")


#: multiplicative-hash constants for :func:`stratified_split` —
#: Knuth's 64-bit MMIX multiplier reduced mod the Mersenne prime
#: 2^61−1; id·A ≤ 2^63·2^61 ≈ 2.1e37 stays inside DECIMAL(38,0) /
#: HUGEINT, so BOTH engines evaluate the hash exactly
_STRAT_A = 6364136223846793005 % ((1 << 61) - 1)
_STRAT_M = (1 << 61) - 1


def stratified_split(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "lang",
    weights: tuple[int, ...] = (8, 1, 1),
    labels: tuple[str, ...] = ("train", "val", "test"),
    salt: int = 0,
) -> DataFrame:
    """EXACT-count stratified train/val/test split: within every
    group, assignments hit the integer-weight proportions exactly
    (group of n rows → floor(n·cum_i/W) boundaries — the strongest
    guarantee a split can make; :func:`hash_split` is the map-only
    probabilistic sibling whose per-group proportions only converge).
    Use this when per-stratum balance is a contract (eval sets, small
    languages) and the extra shuffle is affordable.

    Determinism: rows order within a group by a multiplicative hash
    ``(id·A + salt) mod (2^61−1)`` evaluated in DECIMAL(38,0) — exact
    in any engine (no xxhash64 dependence), so the oracle replays the
    permutation, the row_number and the boundaries verbatim. Same
    (id, salt) → same split forever, independent of row order and
    partitioning.

    Returns (id_col, group_col, split).

    Scale shape: one shuffle on the group key; per-group row_number +
    count windows share that Exchange. A single giant stratum makes
    the window partition hot — the standard caveat for any per-group
    rank; shard such groups upstream or accept hash_split's
    probabilistic form there."""
    if len(weights) != len(labels) or not weights:
        raise ValueError("weights and labels must align and be non-empty")
    if any(w < 0 for w in weights) or sum(weights) <= 0:
        raise ValueError(f"weights must be non-negative, sum > 0: {weights}")
    big_w = int(sum(weights))
    # salt enters BEFORE the multiply: (id + salt)·A mod M. An
    # additive post-multiply salt shifts every hash by the same
    # constant, which preserves the order (so a new salt would NOT
    # re-deal the split); pre-multiply salting re-permutes thoroughly.
    h = F.expr(
        f"pmod((CAST({id_col} AS DECIMAL(38,0)) + {int(salt)}) * {_STRAT_A},"
        f" {_STRAT_M})"
    )
    wg = Window.partitionBy("__g").orderBy("__h", "__id")
    ranked = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.col(group_col).alias("__g"),
            h.alias("__h"),
        )
        .withColumn("__rn", F.row_number().over(wg) - F.lit(1))
        .withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("__g"))
        )
    )
    cum = 0
    split = None
    for w, lbl in zip(weights[:-1], labels[:-1]):
        cum += int(w)
        edge = F.expr(f"CAST((__n * {cum}) div {big_w} AS BIGINT)")
        cond = F.col("__rn") < edge
        split = (
            F.when(cond, F.lit(lbl)) if split is None else split.when(cond, F.lit(lbl))
        )
    split = (
        F.lit(labels[-1])
        if split is None
        else split.otherwise(F.lit(labels[-1]))
    )
    return ranked.select(
        F.col("__id").alias(id_col),
        F.col("__g").alias(group_col),
        split.alias("split"),
    )


def hash_split_edges(splits: dict[str, float]) -> list[tuple[str, str]]:
    """(name, exclusive upper hex edge) pairs for the md5 method —
    exported so oracle SQL can be built from the same arithmetic."""
    out, cum = [], 0.0
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        out.append((name, format(min(int(cum * 16**4), 16**4 - 1), "04x")))
    out.append((names[-1], "ffff"))
    return out


def pack_sequences(
    docs: DataFrame,
    *,
    capacity: int = 2048,
    n_shards: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing: concatenate every document's tokens
    in a deterministic order and cut every ``capacity`` tokens, so a
    document may straddle a sequence boundary (exactly the pretraining
    data layout; no reference analog). Emits per document its token
    count, shard, and the first/last sequence index it lands in —
    closed-form from a window cumsum, so the whole operator is one
    shuffle (hash-partition by shard + sort by id) with zero UDFs.

    Sharding (``id % n_shards``) bounds each window partition: packing
    is embarrassingly parallel across shards, so at 100 TB n_shards
    scales with the cluster rather than forcing one global sort.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
        F.size(_ws_tokens(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    with_cum = toks.withColumn(
        "start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return with_cum.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(F.col("start_tok") / capacity).alias("first_seq"),
        F.greatest(
            F.floor(F.col("start_tok") / capacity),
            F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / capacity),
        ).alias("last_seq"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1). Deterministic across engines: ties broken
    by term ascending, and equal (tf, df) pairs produce bit-identical
    scores so the ranking is stable. No reference analog.

    Shape: explode → (doc, term) counts (one shuffle, map-side
    partial); document frequencies aggregate from the same counts and
    come back as a broadcastable term dimension (vocabulary ≪
    corpus); N is a scalar literal join. The per-doc top-k is a
    window over the doc hash — no global sort.
    """
    from pyspark.sql import Window

    toks = docs.select(F.col(id_col), F.explode(_ws_tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scalar; one job, embedded as a literal
    scored = tf.join(F.broadcast(df_), on="term").withColumn(
        "score",
        F.col("tf") * (F.log((F.lit(n_docs) + 1) / (F.col("df") + 1)) + 1),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round("score", 4).alias("score"),
        )
    )


def chunk_sentences(
    docs: DataFrame,
    *,
    max_tokens: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-aware greedy chunking — the RAG-prep member that never
    splits mid-sentence (:func:`chunk_documents` slides fixed token
    windows, which cuts sentences and degrades retrieval/embedding
    quality; this packs WHOLE sentences greedily). Sentences split on
    ``[.!?]+\\s*`` runs (RE2-safe — no lookbehind, so any engine
    replays it); each sentence joins the current chunk while the
    chunk's token total stays ≤ ``max_tokens``, else starts a new
    chunk. A single sentence longer than ``max_tokens`` becomes its
    own oversized chunk (never silently truncated). Tokens are the
    corpus-standard lowercased ``[a-z]+`` count.

    Returns (id_col, chunk, chunk_text, n_sentences, n_tokens) —
    chunk is 0-based per document; chunk_text joins its sentences
    with a single space.

    Determinism: the greedy fold is a per-document ``aggregate`` over
    the ordered sentence array — sequential by construction, exact
    integers only, and replayable as a recursive CTE advancing one
    sentence per step. Scale shape: sentence splitting and the fold
    are ARRAY-NATIVE per-row codegen (no explode before the fold —
    the corpus never shuffles for chunk ASSIGNMENT); only the final
    per-chunk regroup explodes, one hash aggregate on (doc, chunk)."""
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    sent_sql = (
        f"filter(transform(split(`{text_col}`, '[.!?]+\\\\s*'), x -> trim(x)),"
        f" x -> length(x) > 0)"
    )
    # fold: acc = (used tokens in current chunk, current chunk id,
    # array of per-sentence chunk ids)
    fold = f"""
aggregate(
  {sent_sql},
  struct(CAST(0 AS LONG) AS used, CAST(0 AS LONG) AS chunk,
         CAST(array() AS ARRAY<LONG>) AS ids, CAST(TRUE AS BOOLEAN) AS first),
  (st, x) -> CASE
    WHEN st.first OR st.used + size(regexp_extract_all(lower(x), '[a-z]+', 0))
         <= {int(max_tokens)}
    THEN struct(st.used + size(regexp_extract_all(lower(x), '[a-z]+', 0)) AS used,
                st.chunk AS chunk,
                concat(st.ids, array(st.chunk)) AS ids,
                FALSE AS first)
    ELSE struct(CAST(size(regexp_extract_all(lower(x), '[a-z]+', 0)) AS LONG) AS used,
                st.chunk + 1 AS chunk,
                concat(st.ids, array(st.chunk + 1)) AS ids,
                FALSE AS first)
  END,
  st -> st.ids)
"""
    exploded = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.expr(
                f"zip_with({sent_sql}, {fold},"
                f" (s, c) -> struct(s AS sentence, c AS chunk))"
            )
        ).alias("__sidx", "__z"),
    ).select(
        "__id",
        "__sidx",
        F.col("__z.sentence").alias("__sent"),
        F.col("__z.chunk").alias("chunk"),
    )
    return (
        exploded.groupBy("__id", "chunk")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__sidx", "__sent"))),
                    lambda s: s["__sent"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum(
                F.expr("size(regexp_extract_all(lower(__sent), '[a-z]+', 0))")
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("chunk").cast("long").alias("chunk"),
            "chunk_text",
            "n_sentences",
            "n_tokens",
        )
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking (the RAG/embedding prep op):
    overlapping windows of ``chunk_tokens`` whitespace tokens starting
    every ``chunk_tokens - overlap`` tokens; the tail chunk may be
    short; empty docs produce no chunks. Emits (id, chunk_idx,
    chunk_text, n_chunk_tokens). No reference analog.

    Entirely array higher-order functions (sequence/filter/transform/
    slice) + inline — per-row compute, no shuffle at all; a 100 TB
    corpus chunks in one map-only pass and chunk_idx is deterministic
    (no zipWithIndex / no global ordering dependency).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    t = docs.select(F.col(id_col), _ws_tokens(text_col).alias("toks"))
    n = F.size("toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step)),
        lambda s: s < n,
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice("toks", s + 1, chunk_tokens)).alias(
                "chunk_text"
            ),
            F.least(F.lit(chunk_tokens), n - s).cast("long").alias(
                "n_chunk_tokens"
            ),
        ),
    )
    return t.select(id_col, F.inline(chunks))


def dedup_lines(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    max_doc_frequency: int = 1,
    min_line_chars: int = 0,
) -> DataFrame:
    """Corpus-wide LINE-level dedup (the CCNet/common-crawl boilerplate
    pass, public pipeline design): a line appearing in more than
    ``max_doc_frequency`` distinct documents is boilerplate (headers,
    cookie banners, "all rights reserved") and is removed from EVERY
    document; remaining lines are reassembled in original order.
    Lines shorter than ``min_line_chars`` are exempt (too short to be
    meaningful boilerplate signals — removing them mangles prose).

    Returns (id_col, text_col, n_removed) for every input document —
    fully-boilerplate documents come back with empty text, not
    dropped (the caller's quality gate decides their fate).

    Plan shape (scale analysis): posexplode lines (map-only) →
    doc-frequency aggregate keyed by ``xxhash64(line)`` — the shuffle
    carries (64-bit key, count) rows, never the line text — → heavy
    set joined back (left join + null filter; AQE broadcasts the heavy
    side, which is small by the boilerplate hypothesis) → per-doc
    rebuild (one groupBy on the doc id, order restored by sorting the
    collected (pos, line) structs). Three shuffles, all narrow keys;
    the text crosses only the explode and the rebuild. The exploded
    frame is persisted (MEMORY_AND_DISK): the DAG consumes it from
    three branches (doc-frequency, kept-lines, per-doc totals), and
    without it each branch repeats the posexplode+xxhash64 scan.
    Release via ``caching.release_intermediates(result)`` after
    materializing — the same contract as :func:`minhash_near_dedup`.
    """
    import re as _re

    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists

    split_pat = _re.escape(delimiter)
    lines = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), split_pat)).alias("__pos", "__line"),
        )
        .withColumn("__key", F.xxhash64("__line"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    heavy = (
        lines.groupBy("__key")
        .agg(F.count_distinct("__id").alias("__df"))
        .filter(F.col("__df") > max_doc_frequency)
    )
    kept = lines.join(heavy, on="__key", how="left").filter(
        F.col("__df").isNull() | (F.length("__line") < min_line_chars)
    )
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s.getField("__line"),
            ),
        ).alias("__text"),
        F.count("*").alias("__n_kept"),
    )
    totals = lines.groupBy("__id").agg(F.count("*").alias("__n_lines"))
    out = (
        totals.join(rebuilt, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            (F.col("__n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return register_persists(out, [lines])


def negative_samples(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 3,
    bucket_hex_chars: int = 2,
    seed: str = "",
) -> DataFrame:
    """Deterministic pseudo-random negative sampling for contrastive
    training pairs: for each anchor document and sample index
    j = 1..k, pick ONE other document — the same one on every engine,
    cluster size, and row order (md5-based like :func:`hash_split`,
    so a DuckDB oracle can restate it exactly).

    Mechanics: every doc hashes into one of ``16^bucket_hex_chars``
    buckets; each (anchor, j) probes a seeded pseudo-random bucket and
    takes the candidate with the smallest per-(anchor, j) md5 rank.
    Anchors never draw themselves; a probe into an empty (or
    self-only) bucket yields no row for that (anchor, j) — size
    buckets to hold a handful of docs and this is rare.

    Scale sizing: candidate rows ≈ N·k·(N/B) for B buckets, so B must
    GROW with the corpus — pick ``bucket_hex_chars`` such that
    N/16^chars stays a small constant (e.g. 6 chars ≈ 16.7M buckets
    for a billion-doc corpus → ~60 candidates per probe). Then the
    probe join is linear work on narrow rows and the pick is one
    windowed min per (anchor, j). The default 2 (256 buckets) suits
    the test fixtures.

    Returns (anchor_id, sample_idx, negative_id) with the original id
    type preserved.
    """
    if not 1 <= bucket_hex_chars <= 8:
        raise ValueError("bucket_hex_chars must be in [1, 8]")
    ids = docs.select(
        F.col(id_col).alias("__orig"), F.col(id_col).cast("string").alias("__cid")
    )
    cands = ids.select(
        F.col("__orig").alias("__nid"),
        F.col("__cid").alias("__ncid"),
        F.substring(
            F.md5(F.concat(F.col("__cid"), F.lit("b" + seed))), 1, bucket_hex_chars
        ).alias("__b"),
    )
    probes = (
        ids.select(
            F.col("__orig").alias("__aid"), F.col("__cid").alias("__acid")
        )
        .withColumn("__j", F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])))
        .withColumn(
            "__b",
            F.substring(
                F.md5(
                    F.concat(
                        F.col("__acid"), F.lit("p"), F.col("__j").cast("string"), F.lit(seed)
                    )
                ),
                1,
                bucket_hex_chars,
            ),
        )
    )
    cand_j = probes.join(cands, on="__b").filter(F.col("__ncid") != F.col("__acid"))
    rank = F.md5(
        F.concat(
            F.col("__acid"),
            F.lit("#"),
            F.col("__ncid"),
            F.lit("#"),
            F.col("__j").cast("string"),
            F.lit(seed),
        )
    )
    w = Window.partitionBy("__aid", "__j").orderBy(rank, F.col("__ncid"))
    return (
        cand_j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__aid").alias("anchor_id"),
            F.col("__j").cast("long").alias("sample_idx"),
            F.col("__nid").alias("negative_id"),
        )
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    require_convergence: bool = True,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation. Returns (id, component) for every vertex that appears
    in an edge; component = smallest vertex id in the component.

    Min-label propagation advances ONE hop per iteration, so the
    iteration budget must cover the component diameter. With
    ``require_convergence`` (the default) the budget being exhausted
    while labels are still changing RAISES instead of silently
    returning split components — elongated graphs whose diameter
    exceeds ``max_iterations`` get a loud error, never wrong labels.
    Pass ``require_convergence=False`` only for fixed-sweep analyses
    that want the intermediate state.

    Scale notes: each iteration is one shuffle (join on neighbor +
    groupBy min) and ONE job: the changed-label count rides the same
    eager ``localCheckpoint`` action as an Observation metric (a label
    changes iff the neighborhood min beats the current label — visible
    on the joined row, no compare-join against the previous state and
    no second pass). ``localCheckpoint`` truncates lineage so the plan
    doesn't grow with iterations (use reliable ``checkpoint`` with a
    cluster checkpoint dir in production); each checkpoint frees the
    one it supersedes, and the edge list's is freed on return, so the
    result holds only its own labels checkpoint. Early-stops as soon
    as an iteration changes no label. For near-dup graphs the
    iteration count is the cluster diameter, not corpus size.
    """
    from pyspark.sql import Observation

    sym = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)
    # Size the ITERATION parallelism to the graph, not the session:
    # near-dup graphs are typically orders of magnitude smaller than
    # the corpus (256 pairs at sf0.1), and paying 32 shuffle tasks + a
    # 32-partition checkpoint per iteration on a tiny frame turns a
    # 50 ms step into ~0.7 s of pure scheduling overhead. ~200k edges
    # per partition keeps big graphs wide while collapsing small ones
    # to single-task iterations. The count is free (sym is already
    # materialized by the checkpoint).
    n_edges = sym.count()
    parts = max(
        1,
        min(
            sym.sparkSession.sparkContext.defaultParallelism,
            n_edges // 200_000 + 1,
        ),
    )
    sym = _superseding(sym, sym.repartition(parts, "b").localCheckpoint(eager=True))
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    changed = 0
    for i in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        obs = Observation(f"cc_iter_{i}")
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["a"], "left")
            .select(
                labels["id"],
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("__improved"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.col("__improved").cast("long")), F.lit(0)
                ).alias("changed"),
            )
            .drop("__improved")
            .repartition(parts, "id")
            .localCheckpoint(eager=True)
        )
        # the first labels frame derives from sym, it is no checkpoint
        labels = _superseding(labels, new_labels) if i else new_labels
        changed = int(obs.get["changed"])
        if changed == 0:
            break
    else:
        # loop ran the full budget without a zero-change iteration:
        # labels may still be mid-propagation (component diameter >
        # max_iterations). The changed-count Observation rode the
        # checkpoint action, so this costs nothing extra.
        if require_convergence and changed > 0:
            raise RuntimeError(
                f"connected_components did not converge in "
                f"{max_iterations} iterations ({changed} labels still "
                f"changing) — the graph's component diameter exceeds "
                f"the budget; raise max_iterations or pass "
                f"require_convergence=False for the fixed-sweep state"
            )
    if max_iterations > 0:  # else the labels still derive from sym
        unpersist_checkpoint(sym)  # the labels checkpoint no longer reads it
    return labels.select("id", F.col("label").alias("component"))


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware near-dup survivor selection: cluster the given
    near-dup ``pairs`` (from any generator — MinHash, SimHash,
    embedding-cosine) with connected components, then per cluster
    KEEP the arg-max by (score DESC, id ASC) — e.g. the longest or
    highest-quality copy of a page, rather than :func:`curate_corpus`'s
    smallest-id rule (which keeps whichever copy happened to be
    crawled first). Unclustered documents keep themselves. Returns
    the kept rows of ``docs`` with original columns.

    Use an EXACT (integer) score for a deterministic boundary; ties
    fall to the smaller id. Scale shape: the corpus NEVER shuffles.
    The CC runs on the pair graph (orders of magnitude smaller than
    the corpus); every doc outside that graph keeps itself by
    construction, so the arg-max window runs only on the
    pair-graph-sized slice (docs ⋈ components, AQE-broadcast of the
    label frame), and the kept set is docs LEFT ANTI the LOSER ids —
    a loser list bounded by the pair graph, broadcast under AQE, so
    both corpus passes are map-only. (The previous form windowed the
    whole corpus on coalesce(component, id) — one corpus-sized
    Exchange doing nothing for the singleton majority.)"""
    comp = connected_components(pairs)
    clustered = docs.join(comp.withColumnRenamed("id", id_col), id_col, "inner")
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    losers = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def curate_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.6,
    langs: list[str] | None = None,
    near_threshold: float = 0.7,
    near_pairs: DataFrame | None = None,
) -> DataFrame:
    """Training-data curation pipeline. Returns the KEPT rows of
    ``docs`` (original columns), after:

    1. quality gate: ``quality_score >= min_quality``;
    2. optional language allow-list;
    3. exact dedup on text, deterministic survivor (min id);
    4. near-dup clustering at ``near_threshold`` Jaccard: MinHash-LSH
       pairs → connected components → keep the min-id representative
       of every cluster.

    Each stage only shrinks the frame, so the expensive near-dup stage
    runs on the smallest candidate set. The survivor rule (min id) is
    deterministic end to end — required for the differential oracle.

    ``near_pairs`` short-circuits stage 4's pair generation with a
    precomputed (id_a, id_b, jaccard_sim) frame — typically
    ``dedup.minhash_pairs_from_index`` over a corpus indexed at
    ingest, so a re-curation never re-shingles 100 TB of text. Pairs
    are restricted to ids that survive stages 1-3 (both endpoints)
    and re-filtered at ``near_threshold``, so a whole-corpus index
    serves any later gate/threshold combination. Caveat shared with
    every reuse of a corpus-level LSH pass: the bucket cap was
    evaluated on the FULL corpus, so pair recall near the cap can
    differ marginally from a fresh pass over the filtered survivors
    (``lsh_observation`` on the index pass reports whether the cap
    fired at all).
    """
    _, _, kept = _curation_stages(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_quality=min_quality,
        langs=langs,
        near_threshold=near_threshold,
        near_pairs=near_pairs,
    )
    return kept


def _curation_stages(
    docs: DataFrame,
    *,
    text_col: str,
    id_col: str,
    min_quality: float,
    langs: list[str] | None,
    near_threshold: float,
    near_pairs: DataFrame | None,
    persist_stages: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared stage chain for :func:`curate_corpus` /
    :func:`curate_funnel`: returns (quality_survivors,
    exact_survivors, near_dedup_survivors). With ``persist_stages``
    the first two are persisted BEFORE the next stage derives from
    them, so a multi-consumer caller (the funnel's count branches)
    computes each gate once."""
    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.operators.relational import (
        ensure_parallelism,
    )

    # The quality gate is heavy per-row compute (multiple regex/token
    # passes per document); a single-file local scan arrives as ONE
    # partition and would serialize it — the standard repartition-
    # before-expensive-compute idiom (no-op at real scale, where scans
    # arrive with thousands of splits).
    docs = ensure_parallelism(docs, id_col)
    d1 = docs.filter(quality_score(F.col(text_col)) >= F.lit(min_quality))
    if langs:
        d1 = d1.filter(F.col("lang").isin(langs))
    if persist_stages:
        d1 = d1.persist(StorageLevel.MEMORY_AND_DISK)
    d2 = exact_dedup(d1, [text_col], keep_by=id_col)
    if persist_stages:
        d2 = d2.persist(StorageLevel.MEMORY_AND_DISK)
    if near_pairs is not None:
        ids = d2.select(F.col(id_col).alias("__kid"))
        pairs = (
            near_pairs.filter(F.col("jaccard_sim") >= near_threshold)
            .join(ids, near_pairs["id_a"] == ids["__kid"], "left_semi")
            .join(ids, near_pairs["id_b"] == ids["__kid"], "left_semi")
        )
    else:
        pairs = minhash_near_dedup(
            d2, text_col=text_col, id_col=id_col, threshold=near_threshold
        )
    comp = connected_components(pairs)
    if near_pairs is None:
        # connected_components eagerly localCheckpoints the edge list,
        # so the pair DAG (and the minhash persists behind it) is fully
        # consumed by the time it returns — release the cached blocks
        # now. Caller-supplied ``near_pairs`` stay the caller's to
        # release: the frame derived from them here carries no hook.
        release_intermediates(pairs)
    non_reps = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    kept = d2.join(non_reps, on=id_col, how="left_anti")
    return d1, d2, kept


def curate_funnel(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.6,
    langs: list[str] | None = None,
    near_threshold: float = 0.7,
    near_pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-stage funnel report for the curation pipeline: one row per
    stage (input → quality → exact_dedup → near_dedup) with the
    surviving row count — the observability a 100 TB curation run
    needs to see WHERE its data went without re-running anything.

    The quality- and exact-survivor frames are persisted because each
    feeds both its own count branch and the next stage (a real
    pipeline would checkpoint these stage boundaries anyway — the
    persist is the in-session stand-in). Release via
    ``caching.release_intermediates(result)``. Counts are plain
    aggregates unioned into one frame — no driver-side loops.

    ``near_pairs`` (see :func:`curate_corpus`) is the CALLER's frame:
    the funnel neither persists nor releases it, so a caller passing
    an operator result such as ``minhash_near_dedup(...)`` releases
    that result itself once the funnel is materialized. Pairs the
    funnel generates itself are released before it returns.
    """
    from spatially_databricks_etl_spark.caching import register_persists

    d1, d2, kept = _curation_stages(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_quality=min_quality,
        langs=langs,
        near_threshold=near_threshold,
        near_pairs=near_pairs,
        persist_stages=True,
    )

    def stage_count(df: DataFrame, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    result = (
        stage_count(docs, "input")
        .unionByName(stage_count(d1, "quality"))
        .unionByName(stage_count(d2, "exact_dedup"))
        .unionByName(stage_count(kept, "near_dedup"))
    )
    return register_persists(result, [d1, d2])


def bigram_lm_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Corpus-trained bigram language-model quality score per document
    — the CCNet/KenLM idea (Wenzek et al., arXiv:1911.00359) with the
    n-gram model trained ON the corpus itself via two aggregations
    instead of an external LM: score(d) = mean over d's bigrams of
    ln P(w2|w1), with add-alpha smoothing
    P = (c(w1,w2) + alpha) / (c(w1·) + alpha·V), where c(w1·) counts
    w1 as a bigram prefix and V is the distinct-successor vocabulary.
    Low scores flag boilerplate/gibberish whose transitions the corpus
    rarely makes; docs with fewer than 2 alphabetic tokens get no row.

    Tokenization is lowercase alphabetic runs (split on ``[^a-z]+``) —
    deterministic and replayable in ANSI SQL, which is what makes the
    whole model oracle-checkable end to end.

    Shape: one explode of per-doc bigram structs (persisted — four
    consumers), then two hash aggregations (bigram counts, prefix
    counts), a 1-row vocabulary aggregate (broadcast literal join),
    and count-table equi-joins back onto the exploded frame. No UDFs,
    no driver loops; the count tables are vocabulary-sized (≪ corpus)
    and shuffle-join on their keys — broadcastable when the vocabulary
    fits, automatically, via AQE size estimation.
    """
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z]+"), lambda x: x != ""
        ).alias("__t"),
    ).filter(F.size("__t") >= 2)
    ex = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1),"
                " i -> struct(__t[i-1] AS w1, __t[i] AS w2))"
            )
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    ex = ex.persist()
    bg_counts = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix_counts = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
    vocab = ex.select(F.countDistinct("w2").alias("v"))
    scored = (
        ex.join(bg_counts, on=["w1", "w2"])
        .join(prefix_counts, on="w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__logp",
            F.log(
                (F.col("c_bg") + F.lit(alpha))
                / (F.col("c_w1") + F.lit(alpha) * F.col("v"))
            ),
        )
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("__logp").alias("avg_logp"),
    )
    from spatially_databricks_etl_spark.caching import register_persists

    return register_persists(out, [ex])


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (Page et
    al., 1999). Returns (node, rank) for every node appearing as a
    source or destination after exactly ``iterations`` synchronous
    updates of rank(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u),
    from the uniform 1/N start. Dangling mass is dropped (the
    plain-iteration variant), so ranks are comparable, not a
    normalized distribution — deterministic and exactly replayable in
    SQL, which is why the catalog query can be value-oracled instead
    of rows-only (fixed iteration count, no convergence test).

    Scale shape: out-degrees are computed once; each iteration is one
    equi-join of the edge list with the (N-row) rank frame on the
    source plus one groupBy(dst) — the rank frame is orders of
    magnitude smaller than the edges and broadcasts when it fits.
    ``localCheckpoint`` truncates lineage each iteration (same
    contract as ``connected_components``; use reliable ``checkpoint``
    on a cluster). Iterations are a fixed hyperparameter, so the whole
    job count is known up front; convergence-tested variants belong on
    top of this kernel via an Observation on the rank delta.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.localCheckpoint(eager=True)
    # Iteration parallelism sized to the graph (same rationale as
    # connected_components): per-iteration shuffles and checkpoints on
    # a session-default 32 partitions are pure scheduling overhead
    # when the edge list is small.
    n_edges = e.count()
    parts = max(
        1,
        min(
            e.sparkSession.sparkContext.defaultParallelism,
            n_edges // 200_000 + 1,
        ),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(parts, "node")
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # degree rides with the edge list so the per-iteration join touches
    # only (edges ⋈ ranks); at scale this is the frame you'd persist
    ed = e.join(out_deg, on="src").repartition(parts, "src").localCheckpoint(eager=True)
    base = F.lit((1.0 - damping) / n_nodes)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .repartition(parts, "node")
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (the
    deterministic variant of Raghavan/Albert/Kumara 2007): every node
    starts labeled with its own id; each round simultaneously assigns
    label(v) = the most frequent label among v's neighbors in the
    PREVIOUS round's labeling, ties broken by the SMALLEST label.
    Exactly ``iterations`` rounds, no convergence test — which is
    what makes the result exactly replayable in unrolled SQL (the
    asynchronous random-visit-order variant of the paper converges
    faster but is irreproducible across engines by construction; a
    fixed-round synchronous sweep is the standard determinization,
    same trade as :func:`pagerank`'s fixed iterations). The edge list
    is symmetrized and self-loop-stripped first; after
    symmetrization every node has a neighbor, so no keep-own-label
    branch is needed. Returns (node, community).

    Scale shape (the :func:`pagerank` pattern): each round is ONE
    equi-join of the symmetrized edges with the (node-count-sized)
    label frame on the neighbor end plus one (node, label) hash
    aggregate and a per-node top-1 window — the label frame is orders
    of magnitude smaller than the edges and broadcasts when it fits;
    ``localCheckpoint`` truncates lineage per round (reliable
    ``checkpoint`` on a cluster). Hot-community skew lands in the
    hash aggregate, where map-side partials absorb it. No reference
    analog (`Spatially ETL test.py` has no graph surface); completes
    the graph family (pagerank / triangles / connected components /
    reachability) with its community member.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    sym = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = sym.count()
    parts = max(
        1,
        min(
            sym.sparkSession.sparkContext.defaultParallelism,
            n_edges // 200_000 + 1,
        ),
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .repartition(parts, "node")
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("node").orderBy(F.col("__c").desc(), F.col("label"))
    for _ in range(iterations):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "__n"), sym["dst"] == F.col("__n"))
            .select(F.col("src").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = (
            neigh.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
            .repartition(parts, "node")
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    broadcast_bytes_limit: int = 256 << 20,
) -> DataFrame:
    """Exact global triangle count over an undirected edge list
    (reversed duplicates and self-loops tolerated — edges are
    canonicalized and deduped first). Returns one row
    (n_edges, n_triangles).

    Degree-ordered orientation (the MapReduce clustering-coefficient
    scheme of Suri & Vassilvitskii, WWW'11): orient every edge from
    its lower (degree, id) endpoint to the higher one. Every triangle
    then has exactly one vertex with both out-edges (its orientation-
    minimum), so counting closed wedges counts each triangle exactly
    once — and the wedge count is bounded by O(m^1.5) regardless of
    degree skew. The naive common-neighbor self-join generates
    Σ deg(v)² wedges: one celebrity vertex of degree 10⁶ alone would
    emit 5·10¹¹ candidate rows; under degree ordering that same
    vertex emits none (everything orients INTO it).

    Plan: one dedup shuffle (canonical edges), one degree aggregate,
    then two equi-joins — wedge generation on the shared out-source,
    wedge closing against the oriented edge list. No cartesian, no
    per-vertex collect; all frames are edge- or wedge-sized.

    ``broadcast_bytes_limit`` gates the forced broadcast of the
    closing edge list (~64 B/edge as an in-memory hash relation —
    every executor AND the driver must hold that much; the 256 MB
    default ≈ 4M edges assumes ≥4 GB executors). Larger graphs take
    the shuffled-closing fallback, announced via a log warning.
    """
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented feeds THREE consumers (both wedge sides + the closing
    # build) — without a persist the canonicalize+degree-join chain
    # runs three times
    from pyspark.storagelevel import StorageLevel

    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dw"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    o1 = oriented.select(F.col("u"), F.col("w").alias("x"), F.col("dw").alias("dx"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("y"), F.col("dw").alias("dy"))
    # out-neighbor pairs ordered by the SAME (degree, id) key, so the
    # closing edge is oriented x -> y by construction
    wedges = o1.join(o2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    # e feeds three consumers (both degree sides, orientation, edge
    # count) — persist it so the dedup shuffle runs once; the wedge
    # frame is consumed exactly once (the closing semi-join) and is
    # never materialized standalone. The edge count is bounded scalar
    # metadata; release via caching.release_intermediates(result).
    from spatially_databricks_etl_spark.caching import register_persists

    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = e.count()
    # The closing check probes the O(m^1.5) wedge frame against the
    # O(m) edge list — NEVER shuffle the wedges: when the edge list
    # fits, force it broadcast so the wedge side stays map-only;
    # Spark's size estimate won't auto-broadcast a frame this side of
    # a shuffle. The gate is on ESTIMATED HASH-RELATION BYTES, not raw
    # rows: a (long, long) row is 16 B of data but ~64 B as an
    # in-memory BroadcastHashJoin relation (UnsafeRow header + hash
    # map entry + pointer overhead), so the default 256 MB limit
    # admits ~4M edges — sized for a modest 4 GB executor, not just
    # this box. Above the limit, fall back to the shuffled join (at
    # that scale a graph-partitioned algorithm is the right tool
    # anyway) and LOG the mode switch so a 100× run can see which
    # plan it got instead of silently crossing the cliff. Measured at
    # sf0.1 (1.2M edges, dense co-purchase graph): 46 s → 6 s
    # broadcast vs shuffled.
    est_bytes = n_edges * 64
    if est_bytes <= broadcast_bytes_limit:
        closing = F.broadcast(closing)
    else:
        import logging

        logging.getLogger(__name__).warning(
            "triangle_count: closing edge list (%d edges, ~%d MB as a "
            "hash relation) exceeds broadcast_bytes_limit=%d MB — "
            "falling back to a SHUFFLED closing join over the O(m^1.5) "
            "wedge frame; consider a graph-partitioned algorithm at "
            "this scale",
            n_edges,
            est_bytes >> 20,
            broadcast_bytes_limit >> 20,
        )
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    result = tri.agg(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_triangles"),
    )
    return register_persists(result, [e, oriented])


def feature_hash(
    df: DataFrame,
    *,
    cols: list[str],
    dims: int = 1024,
    out_col: str = "feature_idx",
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al., ICML'09): each
    (column, value) pair maps to a stable index in [0, dims) by
    hashing ``"col=value"`` — no vocabulary scan, no fitted state, no
    dictionary to ship, and unseen categories at serving time land in
    the same space. Appends an array column of one index per input
    column (null values yield a null slot — filter or impute
    upstream).

    md5 (not xxhash64) so the index assignment reproduces bit-for-bit
    on any engine — same determinism contract as ``hash_split`` and
    the A-Res samplers; 13 hex chars = 52 bits, exact in a double and
    far beyond any real ``dims``. Pure projection: no shuffle, no UDF,
    codegen end to end.
    """
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if not cols:
        raise ValueError("cols must be non-empty")
    idx = [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{c}="), F.col(c).cast("string"))), 1, 13
                ),
                16,
                10,
            ).cast("long"),
            F.lit(dims),
        ).cast("long")
        for c in cols
    ]
    return df.withColumn(out_col, F.array(*idx))


def repeated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 32,
    min_docs: int = 2,
    span_hash: bool = True,
) -> DataFrame:
    """Cross-document repeated-passage (boilerplate) detection: slide
    a fixed character window over every document at ``stride`` and
    report each span text that occurs in at least ``min_docs``
    DISTINCT documents — the span-granularity member of the dedup
    family (exact_dedup = whole doc, dedup_lines = line, MinHash =
    fuzzy doc; this catches the shared headers/footers/license blocks
    that survive all three), the Spark-feasible strided form of exact
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 — their suffix-array scan has
    no distributed analog; strided windows trade boundary-offset
    misses for one equi-shuffle).

    Returns (span, n_docs, n_occurrences) — exact longs, no floats.
    Documents shorter than ``window`` contribute nothing. Window
    starts are 1-based offsets {1, 1+stride, …} ≤ len−window+1, so a
    span duplicated at an unaligned offset can be missed — halve the
    stride to tighten recall at 2× the shuffle.

    Scale shape (``span_hash=True``, the default): span extraction is
    array-native codegen (sequence → transform(substring) → explode →
    xxhash64 — no per-doc shuffle, no Python), and the corpus-wide
    flag aggregate groups on the 8-BYTE hash, so its Exchange carries
    8 bytes per occurrence, not ``window``-char strings (~2× corpus
    bytes at the defaults — the round-13 soft spot). Hash groups
    passing the ≥min_docs pre-filter are then RE-VERIFIED on the
    actual text — the MinHash index discipline: the flagged-hash list
    (boilerplate-sized) broadcasts back against the extraction, and
    the exact per-TEXT distinct-doc count filters again on that
    candidate-sized slice, so an xxhash64 collision can only ever ADD
    a candidate the verify step then drops — results are
    bit-identical to the direct path. Span text itself appears only
    in the local persist and the candidate-sized verify shuffle.
    ``span_hash=False`` keeps the direct single-aggregate plan (text
    in the shuffle) for A/B and debugging.
    """
    if window < 1 or stride < 1:
        raise ValueError("repeated_spans: window and stride must be >= 1")
    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists

    docs = df.filter(F.length(F.col(text_col)) >= window).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    if not span_hash:
        spans = docs.select(
            "__id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(__t) - {window - 1}, {stride}),"
                    f" s -> substring(__t, s, {window}))"
                )
            ).alias("span"),
        )
        return (
            spans.groupBy("span")
            .agg(
                F.countDistinct("__id").cast("long").alias("n_docs"),
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            )
            .filter(F.col("n_docs") >= min_docs)
        )
    spans_h = docs.select(
        "__id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(__t) - {window - 1}, {stride}),"
                f" s -> struct(substring(__t, s, {window}) AS span))"
            )
        ).alias("x"),
    ).select(
        "__id", F.col("x.span").alias("span"), F.xxhash64("x.span").alias("h")
    )
    # two consumers (hash pre-filter + candidate pick) — persist once
    # or the corpus re-extracts per consumer. The span TEXT lives only
    # in this LOCAL cache and the candidate-sized verify below; the
    # corpus-wide aggregate's Exchange carries h alone (column
    # pruning), which is the scale-relevant byte count. At true
    # corpus scale prefer recompute over a 2×-corpus cache: drop the
    # persist and pay two map-only extraction scans instead.
    spans_h = spans_h.persist(StorageLevel.MEMORY_AND_DISK)
    flagged_h = (
        spans_h.groupBy("h")
        .agg(F.countDistinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("h")
    )
    out = (
        spans_h.join(flagged_h, "h")
        .groupBy("span")
        .agg(
            F.countDistinct("__id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return register_persists(out, [spans_h])


def remove_repeated_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 32,
    min_docs: int = 2,
    span_hash: bool = True,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the excision half of
    exact substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022: duplicated passages both
    waste training compute and amplify memorization;
    :func:`repeated_spans` detects them, this removes them). Strided
    fixed windows stand in for their suffix-array scan (which has no
    distributed analog) — same trade as the detector: a duplicate at
    an unaligned offset can be missed; halve ``stride`` to tighten
    recall at 2× the shuffle.

    Semantics (fully deterministic, SQL-replayable):

    - every ``window``-char span at 1-based starts {1, 1+stride, …}
      occurring in ≥ ``min_docs`` DISTINCT documents is flagged;
    - the CANONICAL occurrence — smallest (doc, pos) corpus-wide —
      is kept; every other occurrence (including later same-doc
      repeats) becomes a removal interval [pos, pos+window−1];
    - per document, overlapping/adjacent intervals merge
      (gaps-and-islands), and the kept complement segments
      concatenate in order into ``clean_text``.

    Returns (id_col, clean_text, removed_chars) — one row per input
    document; untouched documents (including those shorter than
    ``window``) pass through with removed_chars 0.

    Scale shape (``span_hash=True``, the default, per the 100 TB
    discipline this docstring used to only spec): span extraction is
    array-native codegen emitting (pos, span, xxhash64(span)) — the
    corpus-wide flag aggregate groups on the 8-byte hash, so its
    Exchange carries 8-BYTE keys with map-side combine, never the
    ``window``-char strings (which cost ~2× corpus bytes at the
    defaults). Hash groups passing the ≥min_docs pre-filter RE-VERIFY
    on actual text — the MinHash index discipline: the flagged-hash
    list (boilerplate-sized) broadcasts back against the extraction,
    and the exact per-TEXT distinct-doc count + canonical pick run on
    that candidate-sized slice — an xxhash64 collision can only ADD
    a candidate the verify step then drops, so results are
    bit-identical to ``span_hash=False`` (the direct text-in-shuffle
    plan, kept for A/B). Span text appears only in the local persist
    and the candidate-sized verify shuffle. Canonical selection
    is one row_number window partitioned by span over candidates;
    island-merge windows partition by document over REMOVAL INTERVALS
    ONLY; the rebuild is an interval-sized aggregate broadcast back
    to the corpus — the corpus itself never shuffles."""
    if window < 1 or stride < 1:
        raise ValueError("remove_repeated_spans: window and stride must be >= 1")
    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists

    docs = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    if span_hash:
        spans = docs.filter(F.length("__t") >= window).select(
            "__id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(__t) - {window - 1}, {stride}),"
                    f" s -> struct(s AS pos, substring(__t, s, {window}) AS span))"
                )
            ).alias("x"),
        ).select(
            "__id",
            F.col("x.pos").alias("pos"),
            F.col("x.span").alias("span"),
            F.xxhash64("x.span").alias("h"),
        )
        # two consumers (the flag aggregate and the candidate join) —
        # persist once or the corpus re-extracts per consumer. The
        # span TEXT lives only in this LOCAL cache and the
        # candidate-sized verify; the corpus-wide flag aggregate's
        # Exchange carries h alone (column pruning). At true corpus
        # scale prefer recompute over a 2×-corpus cache: drop the
        # persist and pay two map-only extraction scans instead.
        spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
        flagged_h = (
            spans.groupBy("h")
            .agg(F.countDistinct("__id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("h")
        )
        cand = spans.join(flagged_h, "h")
        w_txt = Window.partitionBy("span")
        verified = cand.withColumn(
            "__nd", F.size(F.collect_set("__id").over(w_txt))
        ).filter(F.col("__nd") >= min_docs)
        w_span = Window.partitionBy("span").orderBy("__id", "pos")
        removals = (
            verified.withColumn("__rn", F.row_number().over(w_span))
            .filter(F.col("__rn") > 1)
            .select(
                "__id",
                F.col("pos").alias("s"),
                (F.col("pos") + F.lit(window - 1)).alias("e"),
            )
        )
    else:
        spans = docs.filter(F.length("__t") >= window).select(
            "__id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(__t) - {window - 1}, {stride}),"
                    f" s -> struct(s AS pos, substring(__t, s, {window}) AS span))"
                )
            ).alias("x"),
        ).select("__id", F.col("x.pos").alias("pos"), F.col("x.span").alias("span"))
        # two consumers (the flag aggregate and the canonical-pick join) —
        # persist once or the corpus re-extracts per consumer
        spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
        flagged = (
            spans.groupBy("span")
            .agg(F.countDistinct("__id").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("span")
        )
        w_span = Window.partitionBy("span").orderBy("__id", "pos")
        removals = (
            spans.join(flagged, "span")
            .withColumn("__rn", F.row_number().over(w_span))
            .filter(F.col("__rn") > 1)
            .select(
                "__id",
                F.col("pos").alias("s"),
                (F.col("pos") + F.lit(window - 1)).alias("e"),
            )
        )
    w_doc = Window.partitionBy("__id").orderBy("s", "e")
    prev_max = F.max("e").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        removals.withColumn(
            "__new",
            F.when(prev_max.isNull() | (F.col("s") > prev_max + 1), 1).otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w_doc))
        .groupBy("__id", "__isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    per_doc = merged.groupBy("__id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__isls"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).cast("long").alias("__removed"),
    )
    out = (
        docs.join(per_doc, "__id", "left")
        .withColumn(
            "clean_text",
            F.when(F.col("__isls").isNull(), F.col("__t")).otherwise(
                F.expr(
                    "aggregate(__isls, struct(0 AS le, '' AS acc), "
                    "(st, x) -> struct(x.e AS le, concat(st.acc, "
                    "substring(__t, st.le + 1, x.s - st.le - 1)) AS acc), "
                    "st -> concat(st.acc, "
                    "substring(__t, st.le + 1, length(__t) - st.le)))"
                )
            ),
        )
        .select(
            F.col("__id").alias(id_col),
            "clean_text",
            F.coalesce("__removed", F.lit(0)).cast("long").alias("removed_chars"),
        )
    )
    return register_persists(out, [spans])


def rake_keyphrases(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    stopwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010,
    "Automatic Keyword Extraction from Individual Documents") — the
    keyphrase member of the text-analysis family. Candidate phrases
    are maximal runs of content words between breaks (stopwords or
    punctuation); each word scores deg/freq over the document's
    candidates (deg = Σ length of phrases containing it, freq = its
    occurrence count) and a phrase scores the sum of its words'
    scores — long multi-word phrases of co-occurring content words
    win, the RAKE signature.

    Exactness: word scores are fixed-point ``(deg·10⁶) div freq``
    integers, phrase scores their exact integer sums, ranking ties
    break (score DESC, phrase ASC) — the whole extraction is
    SQL-replayable, no float. Returns (id_col, phrase, score_e6,
    rank) — the top_k distinct phrases per document.

    Scale shape: tokenization explodes map-side; islands are one
    per-doc window (gaps-and-islands on token position). The
    phrase-word frame feeds THREE consumers (phrase lengths, word
    stats, phrase assembly), so it is persisted once — without the
    persist Catalyst re-tokenizes the corpus per consumer (4 scans,
    verified in the plan). Word stats and phrase assembly are per-doc
    hash aggregates on the persisted frame. No dictionary, no model,
    no Python."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists
    from spatially_databricks_etl_spark.functions.text import STOPWORDS

    sw = tuple(stopwords) if stopwords is not None else STOPWORDS
    # Explicit whitespace class, NOT \s: Java \s includes \x0B
    # (vertical tab) while the DuckDB RE2 oracle's \s does not, so a
    # document containing \x0B would tokenize differently engine vs
    # oracle. [ \t\n\f\r] pins the identical break set on both sides
    # (the literal control chars ride an F.lit, no SQL-literal
    # escaping ambiguity).
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)),
                F.lit("[a-z]+|[^a-z \t\n\f\r]+"),
                F.lit(0),
            )
        ).alias("pos", "tok"),
    )
    is_break = F.col("tok").isin(*sw) | ~F.col("tok").rlike("^[a-z]+$")
    w_doc = Window.partitionBy("__id").orderBy("pos")
    nonb = (
        toks.filter(~is_break)
        .withColumn("__isl", F.col("pos") - F.row_number().over(w_doc))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    plen = nonb.groupBy("__id", "__isl").agg(
        F.count(F.lit(1)).alias("__plen")
    )
    pw = nonb.join(plen, ["__id", "__isl"])
    wstats = pw.groupBy("__id", "tok").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("__plen").alias("__deg"),
    )
    scored = pw.join(wstats, ["__id", "tok"]).withColumn(
        "__wscore", F.expr("CAST((__deg * 1000000) div __freq AS BIGINT)")
    )
    phrases = scored.groupBy("__id", "__isl").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.sum("__wscore").cast("long").alias("score_e6"),
    )
    # identical phrase text within a doc scores identically (word
    # scores are doc-level) — keep one candidate per distinct phrase
    dist = phrases.groupBy("__id", "phrase").agg(
        F.max("score_e6").alias("score_e6")
    )
    wr = Window.partitionBy("__id").orderBy(F.col("score_e6").desc(), "phrase")
    out = (
        dist.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("__id").alias(id_col),
            "phrase",
            "score_e6",
            F.col("rank").cast("long").alias("rank"),
        )
    )
    return register_persists(out, [nonb])


def ngram_novelty(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct word n-grams that appear in NO other document — the
    memorization-risk / templating audit (a low-novelty document is
    mostly recombined corpus boilerplate; near-1 novelty marks unique
    content worth keeping; the doc-level complement of
    :func:`repeated_spans`' span view). Tokens are the corpus-standard
    lowercased ``[a-z]+`` extraction; n-grams are space-joined word
    windows.

    Returns (id_col, n_ngrams, n_novel, novelty_e6) — novelty_e6 =
    ``(n_novel·10⁶) div n_ngrams``, exact integers end to end.
    Documents with fewer than ``n`` tokens emit n_ngrams 0 and a NULL
    ratio (no silent 0-vs-undefined conflation).

    Scale shape: one corpus scan explodes distinct (doc, ngram) pairs;
    ONE hash aggregate computes per-ngram document frequency
    (map-side combine); a second counts novel vs total per doc. The
    n-gram strings shuffle once — at 100 TB, pre-hash them to 64-bit
    keys (xxhash64) exactly like :func:`repeated_spans`' scale note."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.storagelevel import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists

    tok_sql = f"regexp_extract_all(lower(`{text_col}`), '[a-z]+', 0)"
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.expr(
                # sequence(1, 0) DESCENDS in Spark — short docs need
                # an explicit empty-array branch, not a 0 upper bound
                f"CASE WHEN size({tok_sql}) >= {n} THEN"
                f" transform(sequence(1, size({tok_sql}) - {n - 1}),"
                f" i -> array_join(slice({tok_sql}, i, {n}), ' '))"
                f" ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("gram"),
    ).distinct()
    # two consumers (doc frequency, per-doc counts) — persist once or
    # Catalyst re-explodes the corpus per consumer (plan-verified)
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    per_doc = (
        grams.join(dfreq, "gram")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum((F.col("__df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce("n_ngrams", F.lit(0)) > 0,
                F.expr("CAST((n_novel * 1000000) div n_ngrams AS BIGINT)"),
            ).alias("novelty_e6"),
        )
    )
    return register_persists(out, [grams])


def vocab_growth(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoints: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: distinct-token count
    after each 1/``checkpoints`` fraction of the corpus, in document
    order — the corpus-health audit that separates healthy prose
    (vocabulary keeps growing sublinearly) from templated/stamped
    corpora (the curve flatlines early) and quantifies what another
    crawl dump would actually add. Tokens are the corpus-standard
    lowercased ``[a-z]+`` extraction; document order is ascending
    ``id_col``.

    Returns (checkpoint, n_docs, vocab): for checkpoint k,
    ``n_docs = (k·N) div checkpoints`` and ``vocab`` = distinct
    tokens appearing in the first n_docs documents. Exact integers.

    Scale shape: one corpus scan explodes distinct (token, doc)
    pairs; first occurrence per token is one hash aggregate (min doc
    rank); document ranks come from
    :func:`~spatially_databricks_etl_spark.operators.relational.distributed_row_number`
    over the ID FRAME ONLY (no payloads; no single-partition window);
    the closing counts are a |checkpoints|-row broadcast join."""
    if checkpoints < 1:
        raise ValueError(f"checkpoints must be >= 1, got {checkpoints}")
    from spatially_databricks_etl_spark.operators.relational import (
        distributed_row_number,
    )

    ids = distributed_row_number(
        df.select(F.col(id_col).alias("__id")), [F.asc("__id")], rank_col="__r"
    )
    n_total = ids.count()
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.expr(f"regexp_extract_all(lower(`{text_col}`), '[a-z]+', 0)")
            ).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.min("__id").alias("__first_id"))
    )
    first_rank = toks.join(
        ids.select(F.col("__id").alias("__first_id"), F.col("__r")), "__first_id"
    )
    bounds = [
        (k, (k * n_total) // int(checkpoints))
        for k in range(1, int(checkpoints) + 1)
    ]
    # literal checkpoint array explodes map-side — no join, no BNLJ
    cp_arr = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("checkpoint"),
                F.lit(nd).cast("long").alias("n_docs"),
            )
            for k, nd in bounds
        ]
    )
    counts = (
        first_rank.select("__r", F.explode(cp_arr).alias("__cp"))
        .filter(F.col("__r") < F.col("__cp.n_docs"))
        .groupBy(
            F.col("__cp.checkpoint").alias("checkpoint"),
            F.col("__cp.n_docs").alias("n_docs"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    cps = df.sparkSession.createDataFrame(bounds, "checkpoint long, n_docs long")
    return cps.join(
        counts.select("checkpoint", "vocab"), "checkpoint", "left"
    ).select(
        "checkpoint",
        "n_docs",
        F.coalesce("vocab", F.lit(0)).cast("long").alias("vocab"),
    )


def token_diversity(
    df: DataFrame,
    *,
    group_col: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group lexical diversity audit: documents, token count,
    distinct-token count and the type-token ratio — the corpus-
    composition check that flags templated/boilerplate/spammy sources
    (a source whose million tokens use a few hundred types is
    machine-generated or stamped from a template; healthy prose runs
    far higher). Tokens are the lowercased whitespace split with
    empties dropped (the repo's SQL-parity tokenization). Returns
    (group_key, n_docs, n_tokens, n_distinct_tokens, ttr_e6) where
    ttr_e6 = floor(distinct/tokens · 1e6 + 0.5) — exact longs plus
    ONE e6-floored division.

    Scale shape: one explode (map-side, no shuffle) feeding ONE hash
    aggregate on the group key with an exact count(distinct token)
    inside the shuffle (expand + two-phase agg); output is
    |groups|-sized. A hot group is the standard count-distinct skew
    case — Spark's partial aggregation absorbs it.
    """
    toks = df.filter(
        F.col(group_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__rid"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("__tok"),
    )
    out = toks.groupBy("__g").agg(
        F.countDistinct("__rid").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("__tok").cast("long").alias("n_distinct_tokens"),
    )
    ttr = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return out.select(
        F.col("__g").alias("group_key"),
        "n_docs",
        "n_tokens",
        "n_distinct_tokens",
        F.floor(ttr * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("ttr_e6"),
    )


def _bpe_words(
    docs: DataFrame, *, text_col: str, pattern: str, lowercase: bool
) -> DataFrame:
    """Word-frequency table for BPE: regex pre-tokenize (the classic
    word-boundary pre-tokenization every public BPE implementation
    applies before pair merging — Sennrich et al. 2016 §3) and ONE
    corpus-wide hash aggregate. This is the scale pivot: everything
    after operates on the VOCABULARY (Heaps'-law sublinear in corpus
    size), never the corpus again."""
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    return (
        docs.select(
            F.explode(F.regexp_extract_all(txt, F.lit(pattern), F.lit(0))).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _bpe_apply_merge(
    syms: DataFrame, pair: DataFrame, *, carry: list[str]
) -> DataFrame:
    """Apply ONE merge rule to a (word-partitioned) symbol table with
    leftmost-non-overlapping greedy semantics, expressed relationally
    so the exact same logic is replayable as oracle SQL:

    - match flag ``m`` marks positions where (sym, next-sym) equals
      the rule,
    - consecutive matching positions always overlap (they share the
      middle symbol), so maximal runs of matches form islands
      (gaps-and-islands: ``pos - row_number()`` among matches), and
      greedy-from-the-left merges exactly the ODD offsets within each
      island,
    - a merge head emits ``left || right`` and consumes the following
      row (``lag(head)``); survivors re-densify positions.

    ``pair`` is a ONE-row frame (left ``__a``, right ``__b``) ridden
    in via broadcast — no driver round-trip. All four windows
    partition by ``word``: one Exchange per round, reused."""
    wpos = Window.partitionBy("word").orderBy("pos")
    g = (
        syms.withColumn("nxt", F.lead("sym").over(wpos))
        .crossJoin(F.broadcast(pair.select("__a", "__b")))
        .withColumn(
            "m",
            F.coalesce(
                (F.col("sym") == F.col("__a")) & (F.col("nxt") == F.col("__b")),
                F.lit(False),
            ),
        )
    )
    g = g.withColumn(
        "isl",
        F.when(
            F.col("m"),
            F.col("pos")
            - F.row_number().over(Window.partitionBy("word", "m").orderBy("pos")),
        ),
    )
    g = g.withColumn(
        "head",
        F.col("m")
        & (
            F.row_number().over(Window.partitionBy("word", "isl").orderBy("pos")) % 2
            == 1
        ),
    ).withColumn("prev_head", F.lag("head").over(wpos))
    return (
        g.filter(~F.coalesce(F.col("prev_head"), F.lit(False)))
        .select(
            *carry,
            F.row_number().over(wpos).alias("__newpos"),
            F.when(F.col("head"), F.concat(F.col("sym"), F.col("nxt")))
            .otherwise(F.col("sym"))
            .alias("__newsym"),
        )
        .select(
            *carry,
            F.col("__newpos").alias("pos"),
            F.col("__newsym").alias("sym"),
        )
    )


def _superseding(old: DataFrame, new: DataFrame) -> DataFrame:
    """Return the eagerly checkpointed ``new`` after freeing the local
    checkpoint ``old`` it supersedes (``new`` no longer reads it)."""
    unpersist_checkpoint(old)
    return new


def _bpe_rounds(
    docs: DataFrame,
    *,
    text_col: str,
    merges: int,
    pattern: str,
    lowercase: bool,
    scoring: str = "freq",
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE trainer: returns (merge table, final symbol table).

    Distributed-BPE shape (no reference analog — `Spatially ETL
    test.py` has no tokenizer surface; the algorithm is Sennrich et
    al. 2016, determinized): ONE corpus scan builds the word-frequency
    table; every subsequent round touches only vocabulary-sized
    frames. Per round: one ``lead`` window (word-partitioned) + one
    (sym, next) hash aggregate with frequency weights for the pair
    counts, a 1-row sort-limit for the arg-max pair (ties broken
    (count DESC, left, right) — fully deterministic, which is what
    makes the whole training run value-oracle-able as unrolled SQL),
    and the gaps-and-islands merge apply. ``localCheckpoint``
    truncates lineage per round (the :func:`pagerank` /
    :func:`label_propagation` discipline); the 1-row arg-max is
    COLLECTED driver-side (round 15) — its two consumers (merge
    table, merge apply) then read a local literal instead of a
    checkpointed frame, which cuts two Spark jobs per round (the
    eager checkpoint of the 1-row frame and the emptiness probe)
    and makes the merge table itself a driver-local relation. The
    collect is O(1) — one (sym, sym, count, score) row per round —
    so it adds no scale constraint at any corpus size.

    Each round's checkpoint frees the one it supersedes
    (:func:`caching.unpersist_checkpoint`), so a training run holds
    one symbol-table checkpoint, the returned one.

    ``scoring`` selects the arg-max rule: ``"freq"`` is classic BPE
    (highest pair count); ``"likelihood"`` is WordPiece (Schuster &
    Nakajima 2012; used by BERT) — highest cnt(pair)/(cnt(a)·cnt(b)),
    computed as the exact fixed-point integer
    ``(cnt·10¹⁸) div (cnt_a·cnt_b)`` on DECIMAL(38,0) so the arg-max
    (ties → count DESC, left, right) is deterministic and replayable
    as unrolled SQL with HUGEINT arithmetic — no float anywhere. The
    unigram table is one extra vocabulary-sized aggregate per round;
    the asymptotics don't change."""
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    if scoring not in ("freq", "likelihood"):
        raise ValueError(f"scoring must be 'freq' or 'likelihood', got {scoring!r}")
    words = _bpe_words(docs, text_col=text_col, pattern=pattern, lowercase=lowercase)
    syms = (
        words.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .withColumn("sym", F.expr("substring(word, CAST(pos AS INT), 1)"))
        .repartition("word")
        .localCheckpoint(eager=True)
    )
    # size the per-round shuffles to the SYMBOL table (vocabulary-
    # scale — tiny next to the corpus), not the session default: the
    # count runs on the checkpointed frame, so it never re-touches
    # the corpus (the label_propagation discipline)
    n_syms = syms.count()
    parts = max(
        1,
        min(
            docs.sparkSession.sparkContext.defaultParallelism,
            n_syms // 200_000 + 1,
        ),
    )
    syms = _superseding(syms, syms.repartition(parts, "word").localCheckpoint(eager=True))
    wpos = Window.partitionBy("word").orderBy("pos")
    merge_rows: list[tuple] = []
    for rnd in range(1, merges + 1):
        counts = (
            syms.withColumn("nxt", F.lead("sym").over(wpos))
            .filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
        )
        if scoring == "likelihood":
            uni = syms.groupBy("sym").agg(F.sum("freq").alias("__u"))
            counts = (
                counts.join(
                    uni.select("sym", F.col("__u").alias("__ua")), "sym"
                )
                .join(
                    uni.select(
                        F.col("sym").alias("nxt"), F.col("__u").alias("__ub")
                    ),
                    "nxt",
                )
                .withColumn(
                    "__sc",
                    F.expr(
                        "CAST((CAST(cnt AS DECIMAL(38,0))"
                        " * 1000000000000000000)"
                        " div (CAST(__ua AS DECIMAL(38,0)) * __ub)"
                        " AS BIGINT)"
                    ),
                )
            )
            order = [F.col("__sc").desc(), F.col("cnt").desc(), "sym", "nxt"]
            score_col = F.col("__sc")
        else:
            order = [F.col("cnt").desc(), "sym", "nxt"]
            score_col = F.col("cnt").cast("long")
        # the 1-row arg-max is collected driver-side: its two
        # consumers (merge table, merge apply) then read a local
        # literal — ONE job per round instead of three (the former
        # eager 1-row checkpoint + emptiness-probe pair measured
        # ~0.2-0.4 s/round of pure job overhead at local[32]); a
        # lazy frame would instead re-run the count aggregate inside
        # every consumer's job (~1.6x slower, round-12 measurement)
        top_rows = (
            counts.orderBy(*order)
            .limit(1)
            .select(
                F.col("sym").alias("__a"),
                F.col("nxt").alias("__b"),
                F.col("cnt").cast("long").alias("__cnt"),
                score_col.cast("long").alias("__score"),
            )
            .collect()
        )
        # pair counts exhausted before the requested round budget:
        # classic BPE stops when no pair remains (Sennrich 2016 §3.2).
        # Without this guard an empty merge pair would annihilate
        # the symbol table through the broadcast cross join in
        # _bpe_apply_merge — every document silently dropped.
        if not top_rows:
            break
        t = top_rows[0]
        merge_rows.append((rnd, t["__a"], t["__b"], t["__cnt"], t["__score"]))
        pair = arrow_frame(
            docs.sparkSession, [(t["__a"], t["__b"])], "__a string, __b string"
        )
        syms = _superseding(
            syms,
            _bpe_apply_merge(syms, pair, carry=["word", "freq"])
            .repartition(parts, "word")
            .localCheckpoint(eager=True),
        )
    merges_df = arrow_frame(
        docs.sparkSession,
        merge_rows,
        "round long, left_sym string, right_sym string,"
        " pair_count long, score long",
    )
    return merges_df, syms


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> DataFrame:
    """Train a byte-pair-encoding merge table over a document corpus
    (Sennrich, Haddow & Birch 2016, "Neural Machine Translation of
    Rare Words with Subword Units") — the tokenizer-training member
    of the LLM-data-pipeline family. Returns one row per merge round:
    (round, left_sym, right_sym, pair_count), where pair_count is the
    frequency-weighted corpus count that made the pair the arg-max.

    Deterministic end-to-end (arg-max ties broken (count DESC, left,
    right); merge application is leftmost-non-overlapping greedy), so
    a fixed round count is exactly replayable in unrolled SQL — full
    value verification of an iterative distributed algorithm, like
    :func:`pagerank`.

    100 TB story: the corpus is touched ONCE (regex pre-tokenize +
    word-frequency hash aggregate, map-side partials absorbing hot
    words); all training rounds run on the vocabulary, which grows
    sublinearly with corpus size (Heaps' law) and is re-partitioned
    by word exactly once per round — every window in a round reuses
    that one Exchange. The arg-max is a 1-row sort-limit COLLECTED
    driver-side (O(1) — one winning pair per round, at any corpus
    size), and the pair re-enters the merge apply as a broadcast
    local relation: no O(corpus) step after the first scan."""
    merges_df, syms = _bpe_rounds(
        docs, text_col=text_col, merges=merges, pattern=pattern, lowercase=lowercase
    )
    unpersist_checkpoint(syms)  # the merge table is driver-local rows
    return merges_df.select("round", "left_sym", "right_sym", "pair_count")


def wordpiece_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> DataFrame:
    """Train a WordPiece merge table (Schuster & Nakajima 2012, the
    BERT tokenizer's training rule): per round, merge the pair
    maximizing the LIKELIHOOD score cnt(pair)/(cnt(left)·cnt(right))
    rather than raw frequency — frequency favors merging two already-
    common symbols; likelihood favors pairs that co-occur far more
    than their parts predict, yielding morpheme-like units earlier.

    Returns (round, left_sym, right_sym, pair_count, score) where
    score is the exact fixed-point integer
    ``(cnt·10¹⁸) div (cnt_left·cnt_right)`` — no float anywhere, so
    the full training run (arg-max ties → count DESC, left, right)
    replays as unrolled SQL with HUGEINT arithmetic, like
    :func:`bpe_train`.

    Shares :func:`bpe_train`'s single-corpus-scan shape; the unigram
    table adds one vocabulary-sized aggregate per round. The merge
    rules feed :func:`bpe_encode` unchanged (application semantics
    are identical — only the selection rule differs)."""
    merges_df, syms = _bpe_rounds(
        docs,
        text_col=text_col,
        merges=merges,
        pattern=pattern,
        lowercase=lowercase,
        scoring="likelihood",
    )
    unpersist_checkpoint(syms)  # the merge table is driver-local rows
    return merges_df


def bpe_token_freq(
    docs: DataFrame,
    *,
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
    top_n: int = 0,
) -> DataFrame:
    """Corpus token frequencies under a freshly-trained BPE merge
    table: (token, freq), frequency-weighted by word counts — the
    "what does the learned vocabulary actually look like" audit that
    follows tokenizer training. ``top_n`` keeps the most frequent
    tokens (ties broken by token — deterministic boundary). Shares
    one trainer pass with :func:`bpe_train`; the final symbol table
    is vocabulary-sized, so the closing aggregate is trivial."""
    _, syms = _bpe_rounds(
        docs, text_col=text_col, merges=merges, pattern=pattern, lowercase=lowercase
    )
    out = (
        syms.groupBy("sym")
        .agg(F.sum("freq").cast("long").alias("freq"))
        .select(F.col("sym").alias("token"), "freq")
    )
    if top_n > 0:
        out = out.orderBy(F.col("freq").desc(), "token").limit(top_n)
    return out


def bpe_encode(
    docs: DataFrame,
    merge_rules: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> DataFrame:
    """Encode documents with an already-trained BPE merge list
    (applied in training order): returns (id_col, tokens
    array<string>). The apply side of :func:`bpe_train`.

    Scale shape: merges are applied to the DISTINCT-word table (the
    same vocabulary-sized frame training used), then joined back to
    the documents' word sequence — the join's build side is the
    vocabulary, broadcastable at any corpus size; per-document token
    arrays re-assemble with one ``collect_list`` + sort-by-position
    flatten. The corpus is scanned once and shuffled once (by doc id
    for the re-assembly)."""
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    doc_words = docs.select(
        F.col(id_col).alias("__did"),
        F.posexplode(F.regexp_extract_all(txt, F.lit(pattern), F.lit(0))).alias(
            "__wp", "word"
        ),
    )
    vocab = doc_words.select("word").distinct()
    syms = (
        vocab.select(
            "word",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .withColumn("sym", F.expr("substring(word, CAST(pos AS INT), 1)"))
        .repartition("word")
        .localCheckpoint(eager=True)
    )
    spark = docs.sparkSession
    for left, right in merge_rules:
        pair = arrow_frame(spark, [(left, right)], "__a string, __b string")
        syms = (
            _bpe_apply_merge(syms, pair, carry=["word"])
            .repartition("word")
            .localCheckpoint(eager=True)
        )
    word_toks = syms.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda s: s["sym"],
        ).alias("__wtoks")
    )
    return (
        doc_words.join(F.broadcast(word_toks), "word")
        .groupBy("__did")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__wp", "__wtoks"))),
                    lambda s: s["__wtoks"],
                )
            ).alias("tokens")
        )
        .select(F.col("__did").alias(id_col), "tokens")
    )


def deterministic_shuffle(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: str = "0",
    position_col: str = "position",
) -> DataFrame:
    """Seeded GLOBAL shuffle order for training — the "shuffle 100 TB
    without a shuffle service meltdown" primitive: every epoch needs
    the corpus in a different pseudorandom order, the order must be
    REPRODUCIBLE (same seed → same order, for restarts and debugging),
    and a naive ``ORDER BY rand()`` is neither (rand() is
    partition-placement-dependent) nor scalable (a global sort through
    one task). Assigns each row ``position`` = its 0-based rank under
    the md5(seed:id) total order — deterministic, uniform, and
    engine-agnostic (the same construction :func:`hash_split` uses for
    assignment, here used for ordering).

    Scale shape: rides :func:`distributed_row_number` — a range
    Exchange on the hash key plus a #partitions-row offset manifest;
    no single-partition window, no driver-side data. A new epoch is a
    new ``seed`` — no state carried between epochs."""
    from spatially_databricks_etl_spark.operators.relational import (
        distributed_row_number,
    )

    key = F.md5(
        F.concat(
            F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")
        )
    )
    keyed = docs.withColumn("__shufkey", key)
    ranked = distributed_row_number(
        keyed, [F.col("__shufkey"), F.col(id_col)], rank_col=position_col
    )
    return ranked.drop("__shufkey")


def tokenizer_fertility(
    docs: DataFrame,
    *,
    lang_col: str = "lang",
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> DataFrame:
    """Per-language tokenizer FERTILITY under a freshly-trained BPE
    vocabulary — the standard multilingual tokenizer-quality eval
    (fertility = tokens per word; ~1 means the vocabulary fits the
    language, high fertility means over-segmentation and wasted
    context budget — the metric behind every "tokenizer tax" table).
    Returns per ``lang_col`` group: (lang, n_words, n_tokens,
    fertility_e6, chars_per_token_e6) — exact integer ratios
    (``x·10⁶ div y``).

    Scale shape: one trainer pass (:func:`bpe_train`'s
    single-corpus-scan shape); the final symbol table gives every
    distinct word's token count in one vocabulary-sized aggregate,
    which broadcasts into the per-language word sequence — corpus
    scanned twice total (word counts; per-lang fertility), no
    per-row Python."""
    _, syms = _bpe_rounds(
        docs,
        text_col=text_col,
        merges=merges,
        pattern=pattern,
        lowercase=lowercase,
    )
    word_tok = syms.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("__ntok")
    )
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    doc_words = docs.select(
        F.col(lang_col).alias("lang"),
        F.explode(F.regexp_extract_all(txt, F.lit(pattern), F.lit(0))).alias(
            "word"
        ),
    )
    agg = (
        doc_words.join(F.broadcast(word_tok), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__ntok").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("__chars"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_tokens",
        F.expr("(n_tokens * 1000000) div n_words").alias("fertility_e6"),
        F.expr("(__chars * 1000000) div n_tokens").alias(
            "chars_per_token_e6"
        ),
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, int],
    *,
    group_col: str = "lang",
    text_col: str = "text",
    total_tokens: int = 1_000_000,
) -> DataFrame:
    """Training-data mixture PLAN: given integer domain weights (the
    target mixture as a rational distribution — the public Pile /
    DoReMi-style domain-weights table) and a total token budget,
    compute per domain how many tokens to draw, the sampling rate,
    and the oversampling epoch count when the target exceeds what the
    domain holds. The planning stage ahead of :func:`sample_mixture`
    (which draws the rows); rates > 1e6 (rate_e6) mean repeat the
    domain across epochs, the standard under-resourced-domain
    up-sampling.

    Exact integer arithmetic end to end (and therefore fully
    SQL-oracle-able): tokens are the corpus-standard ``[a-z]+`` regex
    count on the lowercased text; ``target = floor(T·w / ΣW)`` with
    ΣW the STATIC sum over the weight table (domains listed but
    absent from the corpus emit no row — they cannot silently
    reweight the others); ``sample_rate_e6 = floor(target·1e6 /
    avail)``; ``epochs = ceil(target / avail)`` as
    ``(target + avail − 1) div avail``.

    Returns (group, n_docs, avail_tokens, target_tokens,
    sample_rate_e6, epochs).

    Scale shape: ONE corpus scan into a |domains|-row hash aggregate
    (map-side combine absorbs hot domains); everything after is
    arithmetic on that tiny frame. At 100 TB this is exactly one
    pass, shuffle carries |domains| rows."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if total_tokens < 0:
        raise ValueError(f"total_tokens must be >= 0, got {total_tokens}")
    w_den = sum(weights.values())
    wcol = None
    for g, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"weight for {g!r} must be >= 0, got {w}")
        cond = F.col("group") == F.lit(g)
        wcol = F.when(cond, F.lit(int(w))) if wcol is None else wcol.when(
            cond, F.lit(int(w))
        )
    toks = F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)))
    agg = (
        docs.select(F.col(group_col).alias("group"), toks.alias("__t"))
        .withColumn("__w", wcol)
        .filter(F.col("__w").isNotNull())
        .groupBy("group", "__w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("avail_tokens"),
        )
    )
    # integer `div` everywhere — no float in the plan, so the oracle's
    # BIGINT `//` replays the identical values at any magnitude
    agg = agg.withColumn(
        "target_tokens",
        F.expr(
            f"CAST((CAST({int(total_tokens)} AS BIGINT) * __w)"
            f" div {int(w_den)} AS BIGINT)"
        ),
    )
    rate = F.expr(
        "CAST((target_tokens * CAST(1000000 AS BIGINT)) div avail_tokens AS BIGINT)"
    )
    epochs = F.expr(
        "CAST((target_tokens + avail_tokens - 1) div avail_tokens AS BIGINT)"
    )
    return agg.select(
        "group",
        "n_docs",
        "avail_tokens",
        "target_tokens",
        F.when(F.col("avail_tokens") > 0, rate).alias("sample_rate_e6"),
        F.when(F.col("avail_tokens") > 0, epochs).alias("epochs"),
    )


def mixture_temperature(
    docs: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    alpha: float = 0.5,
    total_tokens: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled training-mixture plan: per-domain sampling
    shares ∝ availᵅ — the standard low-resource up-weighting for
    multilingual / multi-domain corpora (mT5 uses α=0.3, XLM-R α=0.7;
    α=1 is proportional, α→0 uniform). The DATA-DRIVEN sibling of
    :func:`mixture_plan` (which takes explicit weights).

    Determinism contract: the only transcendental is availᵅ, which is
    immediately quantized to a 64-bit fixed-point score
    ``floor(availᵅ · 1e6)``; every downstream number (shares, targets,
    rates, epochs) is exact integer arithmetic on those scores —
    float-summation order can never perturb the result, and the
    DuckDB oracle replays it bit-for-bit. At the default α=0.5 the
    power is ``sqrt``, which IEEE 754 requires to be CORRECTLY
    ROUNDED, so even the score is bit-identical across engines
    (general ``pow`` is not so guaranteed — catalog/oracle use 0.5).

    Returns (group, n_docs, avail_tokens, weight_e6, target_tokens,
    sample_rate_e6, epochs) — weight_e6 is the fixed-point mixture
    share, the rest follow :func:`mixture_plan`'s contract.

    Scale shape: ONE corpus scan into a |domains|-row hash aggregate;
    the share denominator rides a broadcast 1-row total. At 100 TB:
    one pass, shuffle carries |domains| rows."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if total_tokens < 0:
        raise ValueError(f"total_tokens must be >= 0, got {total_tokens}")
    toks = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0))
    )
    agg = (
        docs.select(F.col(group_col).alias("group"), toks.alias("__t"))
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("avail_tokens"),
        )
    )
    powed = (
        F.sqrt(F.col("avail_tokens"))
        if alpha == 0.5
        else F.pow(F.col("avail_tokens"), F.lit(float(alpha)))
    )
    agg = agg.withColumn(
        "__s", F.floor(powed * F.lit(1_000_000.0)).cast("long")
    )
    total = agg.agg(F.sum("__s").cast("long").alias("__stot"))
    out = agg.crossJoin(F.broadcast(total))
    out = out.withColumn(
        "weight_e6",
        F.expr("CAST((__s * CAST(1000000 AS BIGINT)) div __stot AS BIGINT)"),
    ).withColumn(
        "target_tokens",
        F.expr(
            f"CAST((CAST({int(total_tokens)} AS DECIMAL(38,0)) * __s)"
            f" div __stot AS BIGINT)"
        ),
    )
    rate = F.expr(
        "CAST((CAST(target_tokens AS DECIMAL(38,0)) * 1000000)"
        " div avail_tokens AS BIGINT)"
    )
    epochs = F.expr(
        "CAST((target_tokens + avail_tokens - 1) div avail_tokens AS BIGINT)"
    )
    return out.select(
        "group",
        "n_docs",
        "avail_tokens",
        "weight_e6",
        "target_tokens",
        F.when(F.col("avail_tokens") > 0, rate).alias("sample_rate_e6"),
        F.when(F.col("avail_tokens") > 0, epochs).alias("epochs"),
    )


def bpe_save_merges(merges: DataFrame, path: str) -> None:
    """Persist a trained merge table (:func:`bpe_train`'s or
    :func:`wordpiece_train`'s output) as a parquet artifact — the
    tokenizer is a PRODUCT: trained once on the corpus, then applied
    by every downstream encode job, so it gets the same multi-writer
    arbitration the persisted-index family has
    (`operators/indexstore.py`): version snapshot at entry, atomic
    claim before the visible overwrite — two racing trainers cannot
    silently interleave; the loser raises
    ``ConcurrentIndexWriteError`` having written nothing. A WordPiece
    table's likelihood ``score`` column rides along when present, so
    both tokenizer families round-trip losslessly."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)
    cols = [
        F.col("round").cast("long").alias("round"),
        F.col("left_sym").cast("string").alias("left_sym"),
        F.col("right_sym").cast("string").alias("right_sym"),
        F.col("pair_count").cast("long").alias("pair_count"),
    ]
    if "score" in merges.columns:
        cols.append(F.col("score").cast("long").alias("score"))
    merges.select(*cols).coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a persisted BPE merge table back as the ordered rule list
    :func:`bpe_encode` consumes (training order = ``round`` order).
    The artifact is rounds-sized — a bounded-metadata read, the
    kmeans-centroid class."""
    from spatially_databricks_etl_spark.sources.files import scan_parquet

    rows = scan_parquet(spark, path).orderBy("round").collect()
    return [(r["left_sym"], r["right_sym"]) for r in rows]


def bpe_train_encode(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Train BPE and encode the SAME corpus in one pass: the trainer's
    final symbol table already IS the encoding of every distinct word
    (that is what the merge rounds compute), so corpus encoding needs
    no second merge-application sweep — just the ordered per-word
    re-assembly join :func:`bpe_encode` uses. Returns (merge table,
    encoded docs (id_col, tokens)).

    Measured ~1.5x faster than the separate-call route
    (:func:`bpe_train` + :func:`bpe_encode` re-applies every rule to
    the vocabulary a second time — A/B at sf0.1: 10.9s -> 7.0s warm);
    the corpus is still scanned exactly twice (word counts;
    word-sequence re-assembly) — the minimum for train+encode."""
    merges_df, syms = _bpe_rounds(
        docs, text_col=text_col, merges=merges, pattern=pattern, lowercase=lowercase
    )
    merges_df = merges_df.select("round", "left_sym", "right_sym", "pair_count")
    encoded = _encode_from_syms(
        docs,
        syms,
        id_col=id_col,
        text_col=text_col,
        pattern=pattern,
        lowercase=lowercase,
    )
    return merges_df, encoded


def _encode_from_syms(
    docs: DataFrame,
    syms: DataFrame,
    *,
    id_col: str,
    text_col: str,
    pattern: str,
    lowercase: bool,
) -> DataFrame:
    """Re-assemble per-document token arrays from a trainer's final
    symbol table (the single-pass encode tail shared by
    :func:`bpe_train_encode` and :func:`wordpiece_train_encode`):
    the vocabulary-sized word→tokens table broadcasts into the
    corpus word sequence; one doc-id shuffle re-assembles order."""
    word_toks = syms.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda s: s["sym"],
        ).alias("__wtoks")
    )
    txt = F.col(text_col)
    if lowercase:
        txt = F.lower(txt)
    doc_words = docs.select(
        F.col(id_col).alias("__did"),
        F.posexplode(F.regexp_extract_all(txt, F.lit(pattern), F.lit(0))).alias(
            "__wp", "word"
        ),
    )
    return (
        doc_words.join(F.broadcast(word_toks), "word")
        .groupBy("__did")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__wp", "__wtoks"))),
                    lambda s: s["__wtoks"],
                )
            ).alias("tokens")
        )
        .select(F.col("__did").alias(id_col), "tokens")
    )


def wordpiece_train_encode(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: int = 8,
    pattern: str = "[a-z]+",
    lowercase: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Train WordPiece and encode the SAME corpus in one pass — the
    likelihood-rule twin of :func:`bpe_train_encode`, giving the
    second tokenizer family the same production lifecycle as the
    first (VERDICT r13 item 5): the trainer's final symbol table
    already IS every distinct word's encoding, so no second
    merge-application sweep runs. Returns (merge table incl. the
    exact fixed-point ``score`` column, encoded docs (id_col,
    tokens)). The merge table round-trips through
    :func:`bpe_save_merges` / :func:`bpe_load_merges` (score column
    preserved; multi-writer arbitration applies) and the loaded rules
    re-encode identically through :func:`bpe_encode` — application
    semantics are selection-rule-agnostic.

    Scale shape = :func:`bpe_train_encode`: corpus scanned exactly
    twice (word counts; word-sequence re-assembly), all rounds
    vocabulary-sized, plus WordPiece's one unigram aggregate per
    round."""
    merges_df, syms = _bpe_rounds(
        docs,
        text_col=text_col,
        merges=merges,
        pattern=pattern,
        lowercase=lowercase,
        scoring="likelihood",
    )
    encoded = _encode_from_syms(
        docs,
        syms,
        id_col=id_col,
        text_col=text_col,
        pattern=pattern,
        lowercase=lowercase,
    )
    return merges_df, encoded


def kcore(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """k-core peeling (Seidman 1983's coreness, determinized the
    :func:`label_propagation` way): symmetrize + strip self-loops,
    then run exactly ``rounds`` SYNCHRONOUS peeling sweeps — each
    round simultaneously removes every node whose degree in the
    CURRENT surviving subgraph is < ``k``. After enough rounds this
    is exactly the k-core (the maximal subgraph of min-degree ≥ k);
    a fixed round count makes the intermediate states — and therefore
    the whole run — exactly replayable as unrolled SQL, the same
    trade as pagerank's fixed iterations (peeling converges in at
    most the graph's degeneracy-ordering depth; callers size
    ``rounds`` like label_propagation's ``iterations``). Returns
    (node, degree) for the surviving nodes, ``degree`` their degree
    inside the surviving subgraph.

    Scale shape: each round is ONE hash aggregate (degrees of the
    current edge set) + one semi-join to drop edges touching peeled
    nodes; the edge frame shrinks monotonically, lineage is truncated
    per round (``localCheckpoint``; reliable ``checkpoint`` on a
    cluster), and the shuffle parallelism is sized to the surviving
    edge count — the :func:`connected_components` discipline. No
    driver collects; the peel predicate is a broadcastable
    degree-frame semi-join."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    e = (
        e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    parts = max(
        1,
        min(
            edges.sparkSession.sparkContext.defaultParallelism,
            n_edges // 200_000 + 1,
        ),
    )
    e = e.repartition(parts, "src").localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
        keep = deg.filter(F.col("__d") >= k).select("src")
        e = (
            e.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .repartition(parts, "src")
            .localCheckpoint(eager=True)
        )
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )
