"""Data-profiling operators: equal-width histograms and correlation
matrices (north-star extension; the reference computes no statistics
at all — its only aggregate-shaped work is the row filter at
`Spatially ETL test.py:208-223`).

Scale shape: both are single-pass mergeable aggregates — map-side
partials combine, the shuffle carries O(bins) / O(k²) rows, and
nothing data-sized ever reaches the driver.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equal-width histogram of a numeric column.

    Returns (bucket, lo_edge, hi_edge, n) with ``bucket`` in
    0..bins-1; empty buckets are omitted (left to the caller — a
    dense axis is one `sequence` join away). Bounds default to the
    column's min/max (one cheap aggregate, collect O(1)); the bucket
    expression is plain floor arithmetic — identical IEEE ops in any
    engine, so a differential oracle reproduces the exact assignment,
    unlike engine-specific `width_bucket` variants. The top edge
    closes the last bucket (x == hi lands in bins-1, the standard
    convention).
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if lo is None or hi is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        if row["lo"] is None or row["hi"] is None:
            raise ValueError(f"histogram: no non-null values in {col!r}")
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if not hi > lo:
        raise ValueError(f"need hi ({hi}) > lo ({lo})")
    c = F.col(col).cast("double")
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((c - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins)).cast("int")
        ),
    )
    width = (hi - lo) / bins
    return (
        df.filter(c.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("lo_edge"),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 6).alias("hi_edge"),
            F.col("n").cast("long").alias("n"),
        )
    )


def winsorize(
    df: DataFrame,
    col: str,
    *,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
    exact: bool = True,
) -> DataFrame:
    """Clamp a numeric column at its [p_lo, p_hi] percentiles — the
    standard outlier treatment before scaling/featurizing.

    ``exact=True`` uses Spark's exact ``percentile`` (full-sort
    aggregate — fine to a few hundred million rows, and the
    linear-interpolation semantics match DuckDB's ``quantile_cont``
    for the differential oracle). At 100 TB switch ``exact=False`` for
    ``percentile_approx`` (mergeable t-digest-style sketch, one pass,
    bounded memory) — same API, approximate cut points.
    """
    if not 0.0 <= p_lo < p_hi <= 1.0:
        raise ValueError("need 0 <= p_lo < p_hi <= 1")
    fn = F.percentile if exact else F.percentile_approx
    row = df.agg(
        fn(F.col(col), F.array(F.lit(p_lo), F.lit(p_hi))).alias("q")
    ).collect()[0]
    if row["q"] is None:
        raise ValueError(f"winsorize: no non-null values in {col!r}")
    lo, hi = float(row["q"][0]), float(row["q"][1])
    c = F.col(col)
    clamped = F.when(c < lo, F.lit(lo)).when(c > hi, F.lit(hi)).otherwise(c)
    return df.withColumn(out_col or col, clamped)


def weighted_sample(
    df: DataFrame,
    *,
    weight_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-Res, public algorithm): each row gets
    key = u^(1/w) with u a hash-derived uniform in (0, 1], and the
    top-n keys are the sample — inclusion probability rises with
    weight, and the whole draw is a pure function of (id, salt), so
    it reproduces on any engine, cluster size, or row order (the
    DuckDB oracle restates it exactly; md5-based like hash_split).

    Rows with non-positive weight are excluded (their inclusion
    probability is zero). The top-n is a TakeOrdered (parallel
    partial top-n, no global sort, no single-partition window);
    changing ``salt`` redraws. One scan, driver receives n rows'
    worth of ordering work only.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    # 13 hex chars = 52 bits — exact in a double on every engine
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(16.0**13 + 1.0)
    key = F.pow(u, 1.0 / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__k", key)
        .orderBy(F.col("__k").desc(), F.col(id_col))
        .limit(n)
        .drop("__k")
    )


def weighted_sample_by_group(
    df: DataFrame,
    *,
    group_cols: list[str],
    weight_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic weighted sampling: the A-Res key of
    :func:`weighted_sample`, ranked WITHIN each group — the standard
    balanced-corpus construction (e.g. n docs per language, weighted
    by quality/length). One window over (group → key desc); the same
    draw on any engine or partitioning. Rows with non-positive weight
    are excluded."""
    from pyspark.sql import Window

    if n_per_group < 1:
        raise ValueError("n_per_group must be >= 1")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / F.lit(16.0**13 + 1.0)
    key = F.pow(u, 1.0 / F.col(weight_col).cast("double"))
    w = Window.partitionBy(*group_cols).orderBy(key.desc(), F.col(id_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__rn")
    )


def robust_zscore(
    df: DataFrame,
    col: str,
    *,
    out_col: str = "robust_z",
    exact: bool = True,
) -> DataFrame:
    """Median/MAD z-score: 0.6745·(x − median)/MAD (the 0.6745
    consistency constant makes MAD estimate σ under normality) — the
    outlier score that, unlike mean/stddev, is not itself dragged by
    the outliers it is hunting. Exact medians interpolate linearly
    (DuckDB ``quantile_cont`` parity); ``exact=False`` switches both
    to ``percentile_approx`` for the one-pass sketch path at scale.
    Degenerate MAD = 0 (over half the values identical) yields null
    scores rather than infinities."""
    if exact:
        # distributed-selection path: identical interpolation to
        # F.percentile / quantile_cont, parallel in every phase and
        # insensitive to the distinct-value ratio (see
        # exact_quantile_select docstring)
        med = exact_quantile_select(df, col, 0.5)
        mad = exact_quantile_select(
            df.select(F.abs(F.col(col) - F.lit(med)).alias(col)), col, 0.5
        )
    else:
        med_raw = df.agg(F.percentile_approx(F.col(col), F.lit(0.5))).collect()[0][0]
        if med_raw is None:
            raise ValueError(f"robust_zscore: no non-null values in {col!r}")
        med = float(med_raw)
        mad = float(
            df.agg(
                F.percentile_approx(F.abs(F.col(col) - F.lit(med)), F.lit(0.5))
            ).collect()[0][0]
        )
    c = F.col(col)
    score = (
        F.lit(None).cast("double")
        if mad == 0.0
        else F.lit(0.6745) * (c - F.lit(med)) / F.lit(mad)
    )
    return df.withColumn(out_col, score)


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregate pass
    (k·(k-1)/2 mergeable corr states — no per-pair scans, no driver
    data path). Returns long-form (col_a, col_b, corr) with
    col_a < col_b lexically; self-pairs (always 1.0) are omitted."""
    if len(cols) < 2:
        raise ValueError("corr_matrix needs >= 2 columns")
    pairs = [(a, b) if a < b else (b, a) for a, b in combinations(cols, 2)]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__corr_{i}") for i, (a, b) in enumerate(pairs)
    ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__corr_{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return row.select(F.explode(structs).alias("__p")).select(
        "__p.col_a", "__p.col_b", "__p.corr"
    )


def skew_profile(
    df: DataFrame, key_cols: list[str], *, top_n: int = 10
) -> DataFrame:
    """Key-skew diagnosis for a planned join/aggregation: per-key
    counts → the ``top_n`` heaviest keys with their share of all rows
    and their ratio to the mean key weight (``skew_x``; AQE's skew
    threshold is ~5x median partition — keys showing 100x+ here are
    the ones that need salting or a broadcast rewrite BEFORE the
    24-hour straggler, not after).

    Plan shape: one hash-count shuffle on the key (map-side combined,
    narrow rows) → a single-row global summary (count + distinct keys,
    mergeable) broadcast back over the per-key counts → global top-n
    via TakeOrderedAndProject (per-partition heaps, k rows to the
    driver-side merge — no full sort). Nothing data-sized leaves the
    executors.
    """
    if not key_cols:
        raise ValueError("skew_profile needs >= 1 key column")
    if top_n < 1:
        raise ValueError(f"top_n ({top_n}) must be >= 1")
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count("*").alias("__n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("__n_keys") / F.col("__total"), 4
            ).alias("skew_x"),
        )
        .orderBy(F.col("n_rows").desc(), *key_cols)
        .limit(top_n)
    )


def exact_quantile_from_counts(df: DataFrame, col: str, q: float) -> float:
    """Exact linearly-interpolated quantile (``quantile_cont``
    semantics, identical to ``F.percentile``) computed from the
    VALUE-COUNT histogram instead of Spark's percentile aggregate.

    Why: ``F.percentile`` merges a per-partition value→count hash map
    through the shuffle and interpolates on a single reducer — ~3 s
    for 600 k doubles (measured sf0.1), dominated by map merge + GC.
    This path does one map-side-combined ``groupBy(col).count()``
    (shuffle carries only DISTINCT values) and one cumulative-sum
    window over the distinct-value frame, then reads off the two
    bracketing values. For measure-like columns (prices, scores,
    durations) distinct ≪ rows and the whole thing is a few hundred
    ms. The single-partition cumulative window is over DISTINCT values
    only; if a column is near-unique at extreme scale, fall back to
    ``percentile_approx`` (see ``robust_zscore(exact=False)``).

    Nulls are ignored, matching ``percentile``/``quantile_cont``.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    from pyspark.sql import Window

    vc = (
        df.select(F.col(col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = vc.select("__v", F.sum("__c").over(w).alias("__cum")).persist()
    try:
        total = cum.agg(F.max("__cum")).first()[0]
        if total is None:
            raise ValueError(f"exact_quantile_from_counts: no non-null values in {col!r}")
        h = (total - 1) * q
        lo_rank, hi_rank = int(h // 1) + 1, int(-(-h // 1)) + 1  # 1-based ranks
        row = (
            cum.where(F.col("__cum") >= lo_rank)
            .orderBy("__v")
            .select("__v", "__cum")
            .limit(2)
            .collect()
        )
        lo_val = float(row[0]["__v"])
        if hi_rank <= row[0]["__cum"]:
            hi_val = lo_val
        else:
            hi_val = float(row[1]["__v"])
        frac = h - (lo_rank - 1)
        return lo_val + frac * (hi_val - lo_val)
    finally:
        cum.unpersist()


def exact_quantile_select(df: DataFrame, col: str, q: float) -> float:
    """Exact linearly-interpolated quantile by DISTRIBUTED SELECTION:
    range-partition the values (each partition owns a disjoint sorted
    range), count rows per partition, locate the two bracketing global
    ranks inside their partitions, and fetch them by partition-local
    row index — the textbook k-th-element algorithm on a cluster.

    Unlike ``F.percentile`` (per-partition value→count hash maps
    merged on one reducer) and :func:`exact_quantile_from_counts`
    (single-partition cumulative window over DISTINCT values), every
    phase here is parallel and O(rows/partitions) per task, so it
    holds for near-unique columns at any scale. Three jobs over a
    persisted single-column frame: count, per-partition sizes, rank
    lookup. Partition-local indexes come from
    ``monotonically_increasing_id``'s documented layout (partition id
    in the high bits, per-partition record number in the low 33).
    """
    return exact_quantiles_select(df, col, [q])[0]


def exact_quantiles_select(
    df: DataFrame, col: str, qs: list[float], *, storage_level=None
) -> list[float]:
    """Multi-quantile form of :func:`exact_quantile_select`: ALL
    requested quantiles share one range-partitioned sort and one
    per-partition size count; the bracketing ranks for every q are
    fetched in a single lookup job. Cost is therefore ~independent of
    ``len(qs)`` — the shape an equi-height binner needs.

    Budget note for 100 TB callers: the sorted single-column frame is
    persisted ACROSS THREE JOBS (sizes, rank lookup, release) and is
    O(rows) — one 8-byte value plus partition/index bookkeeping per
    non-null row. That persist is the operator's dominant memory/disk
    line item at scale. The default ``MEMORY_AND_DISK`` spills
    gracefully; pass ``storage_level=StorageLevel.DISK_ONLY`` to keep
    a huge selection frame out of executor memory entirely (the two
    follow-up jobs are a count and a point lookup — disk-resident is
    fine), or pre-filter/sample the column if an approximate answer
    suffices (``sketches.approx_quantiles`` is O(accuracy) state).
    """
    from pyspark.storagelevel import StorageLevel

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
    if not qs:
        return []
    vals = df.select(F.col(col).alias("__v")).where(F.col("__v").isNotNull())
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    s = (
        vals.repartitionByRange(par, F.col("__v"))
        .sortWithinPartitions("__v")
        .select(
            "__v",
            F.spark_partition_id().alias("__p"),
            (F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))).alias(
                "__i"
            ),
        )
        .persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    )
    try:
        sizes = {
            r["__p"]: r["cnt"]
            for r in s.groupBy("__p").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n = sum(sizes.values())
        if n == 0:
            raise ValueError(f"exact_quantile_select: no non-null values in {col!r}")

        def locate(rank: int):
            off = 0
            for p in sorted(sizes):  # range partitions ascend with the values
                if rank < off + sizes[p]:
                    return p, rank - off
                off += sizes[p]
            raise AssertionError("rank out of range")

        wanted: dict[tuple[int, int], float] = {}
        brackets = []
        for q in qs:
            h = (n - 1) * q
            lo_rank, hi_rank = int(h // 1), int(-(-h // 1))  # 0-based global ranks
            lo_key, hi_key = locate(lo_rank), locate(hi_rank)
            wanted[lo_key] = wanted[hi_key] = None
            brackets.append((h, lo_rank, lo_key, hi_key))
        cond = None
        for p, i in wanted:
            c = (F.col("__p") == p) & (F.col("__i") == i)
            cond = c if cond is None else (cond | c)
        for r in s.where(cond).collect():
            key = (r["__p"], r["__i"])
            if key in wanted:
                wanted[key] = float(r["__v"])
        out = []
        for h, lo_rank, lo_key, hi_key in brackets:
            lo_val, hi_val = wanted[lo_key], wanted[hi_key]
            out.append(lo_val + (h - lo_rank) * (hi_val - lo_val))
        return out
    finally:
        s.unpersist()


def histogram_equiheight(
    df: DataFrame, col: str, *, bins: int = 4, exact: bool = True
) -> DataFrame:
    """Equal-HEIGHT histogram (quantile binning): cut the column at
    its i/bins quantiles so each bucket holds ~the same row count —
    the feature-discretization / data-drift binning that equal-width
    histograms can't provide on skewed columns. Bucket rule: bucket =
    number of cutpoints <= x (ties go right), so bucket 0 is
    (-inf, c1) and bucket bins-1 is [c_{bins-1}, +inf).

    ``exact=True`` computes cutpoints via
    :func:`exact_quantiles_select` (one shared sort for all of them,
    ``quantile_cont`` parity — what makes the catalog query
    value-oracle-able); ``exact=False`` uses ``percentile_approx``
    for the one-pass sketch path at extreme scale. Counting is one
    map-side-combined aggregation over ``bins`` keys.

    Returns (bucket, n) for non-empty buckets; near-constant columns
    may produce fewer than ``bins`` distinct buckets (duplicate
    cutpoints collapse).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    qs = [i / bins for i in range(1, bins)]
    if exact:
        cuts = exact_quantiles_select(df, col, qs)
    else:
        row = df.agg(
            F.percentile_approx(F.col(col), F.array(*[F.lit(q) for q in qs])).alias("q")
        ).first()
        if row["q"] is None:
            raise ValueError(f"histogram_equiheight: no non-null values in {col!r}")
        cuts = [float(v) for v in row["q"]]
    c = F.col(col)
    bucket = F.lit(0)
    for cut in cuts:
        bucket = bucket + (c >= F.lit(cut)).cast("int")
    return (
        df.where(c.isNotNull())
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Whole-table column profile in ONE aggregation job: for every
    requested column, (n_rows, n_distinct, n_nulls, null_frac) — the
    first pass any ingest/quality pipeline runs over a new table.

    All metrics for all columns are computed in a single ``agg`` (one
    scan; Spark plans the multi-distinct via Expand, multiplying rows
    by the distinct-column count map-side — at extreme widths, batch
    the columns or swap ``countDistinct`` for
    ``approx_count_distinct``). The one-row result is unpivoted to a
    (column, metrics) row per column with an inline struct explode —
    nothing but the profile ever reaches the driver.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("column_profile: no columns requested")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"__d_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__z_{c}"))
    one = df.agg(*aggs)
    packed = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("__n").cast("long").alias("n_rows"),
                        F.col(f"__d_{c}").cast("long").alias("n_distinct"),
                        F.col(f"__z_{c}").cast("long").alias("n_nulls"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return packed.select(
        "p.column",
        "p.n_rows",
        "p.n_distinct",
        "p.n_nulls",
        F.round(F.col("p.n_nulls") / F.col("p.n_rows"), 6).alias("null_frac"),
    )


def drift_psi(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    col: str,
    bins: int = 10,
    eps: float = 1e-6,
    span: tuple[float, float] | None = None,
    binning: str = "width",
    edges: list[float] | None = None,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard distribution-drift monitor a production
    pipeline runs between yesterday's and today's data (PSI < 0.1
    stable, 0.1–0.25 moderate shift, > 0.25 investigate).

    Equal-width bins span the COMBINED min/max of both sides (so both
    histograms share edges); each side's bin proportions are
    ``eps``-floored before the log so empty bins contribute a large
    finite penalty instead of ±inf. Returns one row per non-empty
    bin: (bin, n_a, n_b, p_a, p_b, psi_contrib) with
    psi_contrib = (p_a − p_b)·ln(p_a/p_b); sum the column for the
    headline PSI. The raw per-bin counts (n_a, n_b) are emitted so a
    monitor can report batch sizes and so bin membership is directly
    observable (sum(n_b) = the comparison side's non-null row count —
    every value lands in some bin).

    Scale shape: one min/max aggregate per side (map-side combine),
    the shared edges ride a ONE-ROW broadcast frame onto a tagged
    union, bucket assignment is a codegen floor expression, and the
    histogram is a single groupBy(bin) over (side, bin) partial
    counts — two scans, one small shuffle, no driver data collect.
    Degenerate input (all values equal → zero width) lands everything
    in bin 0 on both sides, PSI 0 — the correct "no drift" answer.

    ``span=(lo, hi)`` pins the bin edges instead of deriving them from
    the combined data — REQUIRED when the same bins must hold across
    calls (a streaming monitor scoring every micro-batch against one
    reference histogram; see ``streaming.stateful.drift_monitor_sink``).
    Out-of-span values clamp into the edge bins.

    ``binning="quantile"`` is the industry-canonical PSI form: the bin
    edges are the REFERENCE side's i/bins quantiles (deciles for
    bins=10, via :func:`exact_quantiles_select` — one shared sort),
    bucket rule = number of cutpoints <= x, ties right (the
    :func:`histogram_equiheight` contract). Because the edges come
    only from ``df_a``, a stray outlier in the comparison side cannot
    stretch the span and dilute every bin the way equal-width binning
    lets it — it just clamps into the top/bottom bucket, which is
    exactly the out-of-support mass PSI should see. ``span`` is a
    width-binning concept and is rejected with quantile binning; to
    pin quantile edges across calls (streaming), pass
    ``edges=[...]`` computed once from the reference.
    """
    binned = _drift_binned_counts(
        df_a, df_b, col=col, bins=bins, span=span, binning=binning, edges=edges
    )
    return _psi_from_counts(binned, eps)


def _drift_binned_counts(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    col: str,
    bins: int,
    span: tuple[float, float] | None,
    binning: str,
    edges: list[float] | None,
) -> DataFrame:
    """Shared two-sample binning for the drift monitors
    (:func:`drift_psi`, :func:`drift_ks`): validate the binning
    contract, tag-union both sides, bucket by equal-width span or
    reference quantiles, and return one (bin, __na, __nb) row per
    non-empty bin (one small shuffle; edges ride a one-row broadcast
    or a literal cutpoint expression)."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if binning not in ("width", "quantile"):
        raise ValueError(f"binning must be 'width' or 'quantile', got {binning!r}")
    if binning == "quantile" and span is not None:
        raise ValueError(
            "span pins equal-WIDTH edges; with binning='quantile' pass "
            "edges=[...] to pin cutpoints instead"
        )
    if edges is not None and binning != "quantile":
        raise ValueError("edges=[...] requires binning='quantile'")
    a = df_a.select(F.col(col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    b = df_b.select(F.col(col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    tagged = a.withColumn("__side", F.lit("a")).unionByName(
        b.withColumn("__side", F.lit("b"))
    )
    side_counts = [
        F.sum(F.when(F.col("__side") == "a", 1).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__side") == "b", 1).otherwise(0)).alias("__nb"),
    ]
    if binning == "quantile":
        if edges is not None:
            cuts = [float(c) for c in edges]
        else:
            cuts = exact_quantiles_select(a, "__x", [i / bins for i in range(1, bins)])
        bucket = F.lit(0)
        for cut in cuts:
            bucket = bucket + (F.col("__x") >= F.lit(float(cut))).cast("int")
        return tagged.groupBy(bucket.cast("long").alias("bin")).agg(*side_counts)
    if span is not None:
        lo, hi = float(span[0]), float(span[1])
        if not hi >= lo:
            raise ValueError(f"span must satisfy hi >= lo, got {span}")
        span_df = tagged.sparkSession.createDataFrame(
            [(lo, hi)], "__lo double, __hi double"
        )
    else:
        span_df = tagged.agg(
            F.min("__x").alias("__lo"), F.max("__x").alias("__hi")
        )
    return (
        tagged.crossJoin(F.broadcast(span_df))
        .withColumn(
            "bin",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
                F.greatest(
                    F.least(
                        F.floor(
                            (F.col("__x") - F.col("__lo"))
                            / ((F.col("__hi") - F.col("__lo")) / F.lit(float(bins)))
                        ),
                        F.lit(bins - 1),
                    ),
                    F.lit(0),
                )
            ).cast("long"),
        )
        .groupBy("bin")
        .agg(*side_counts)
    )


def drift_ks(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    col: str,
    bins: int = 100,
    span: tuple[float, float] | None = None,
    binning: str = "quantile",
    edges: list[float] | None = None,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov drift monitor: the
    complement to :func:`drift_psi` (PSI weighs proportional mass
    shifts per bin; KS is the sup-norm distance between the two
    empirical CDFs, sensitive to location/shape shifts PSI's
    log-ratio can underweight). Production monitors compute KS on a
    binned ECDF — exact within 1/bins of the unbinned statistic,
    and unlike a full-sort ECDF it needs no global ordering of the
    DATA: binning is the same one-shuffle histogram as
    :func:`drift_psi` (shared ``binning``/``span``/``edges``
    contract, reference-quantile edges by default), and the
    cumulative sums run over the BINS-sized frame (≤ ``bins`` rows),
    where a single-partition window is the intended shape, not a
    scale smell.

    Returns one row per non-empty bin: (bin, n_a, n_b, cdf_a, cdf_b,
    ks_contrib) with ks_contrib = |cdf_a − cdf_b| at the bin's upper
    edge; the KS statistic is ``max(ks_contrib)``. Counts are exact
    integers, so both engines derive identical CDF doubles (one
    division of exact longs) — the cross-engine determinism story of
    the count-based monitors.
    """
    binned = _drift_binned_counts(
        df_a, df_b, col=col, bins=bins, span=span, binning=binning, edges=edges
    )
    return _ks_from_counts(binned)


def _ks_from_counts(binned: DataFrame) -> DataFrame:
    """(bin, __na, __nb) → (bin, n_a, n_b, cdf_a, cdf_b, ks_contrib):
    the binned-ECDF tail shared by :func:`drift_ks` and the streaming
    drift monitor (``streaming.stateful.drift_monitor_sink``), so the
    per-micro-batch KS is BY CONSTRUCTION the batch statistic on the
    same counts. Cumsums run on the ≤bins-row frame (the
    single-partition window there is the intended shape); totals ride
    a one-row broadcast."""
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals = binned.agg(
        F.sum("__na").cast("double").alias("__ta"),
        F.sum("__nb").cast("double").alias("__tb"),
    )
    out = (
        binned.withColumn("__ca", F.sum("__na").over(w))
        .withColumn("__cb", F.sum("__nb").over(w))
        .crossJoin(F.broadcast(totals))
        .withColumn("cdf_a", F.col("__ca") / F.col("__ta"))
        .withColumn("cdf_b", F.col("__cb") / F.col("__tb"))
        .withColumn("ks_contrib", F.abs(F.col("cdf_a") - F.col("cdf_b")))
    )
    return out.select(
        "bin",
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        "cdf_a",
        "cdf_b",
        "ks_contrib",
    )


def drift_chi2(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    col: str,
    max_categories: int = 10_000,
) -> DataFrame:
    """Two-sample chi-square homogeneity drift for a CATEGORICAL
    column — the member of the drift family (equal-width PSI,
    quantile PSI, binned KS) that covers enum-like columns where
    numeric binning is meaningless: language tags, event types,
    source labels, model-version stamps. Pearson's statistic over the
    2×C contingency table: per category c,
    e_side = (n_a + n_b) · (T_side / (T_a + T_b)) and
    contrib = (n_a − e_a)²/e_a + (n_b − e_b)²/e_b; the headline
    statistic is the sum (d.o.f. = C − 1).

    Returns one row per observed category: (category, n_a, n_b, e_a,
    e_b, chi2_contrib). Nulls are dropped (the numeric monitors'
    contract); a category seen on either side contributes on both
    (its expected counts are positive whenever either total is).
    Every emitted double derives from exact integer counts through a
    fixed op order, so any engine replays the values bit-identically
    — no eps flooring needed (a category with zero grand total never
    appears, so expectations are never zero when both sides are
    non-empty).

    Scale shape: one tagged union + one groupBy(category) with
    map-side combine (a heavy category is just a bigger partial
    count — no skew hazard), totals ride a one-row broadcast. The
    result is category-cardinality-sized; ``max_categories`` fails
    fast when the column is not actually categorical (an id column
    would silently turn the monitor into a table-sized report) — the
    check is one ``limit(n+1).count()`` on the already-aggregated
    frame, never on the raw data.
    """
    a = df_a.select(F.col(col).cast("string").alias("__c")).filter(
        F.col("__c").isNotNull()
    )
    b = df_b.select(F.col(col).cast("string").alias("__c")).filter(
        F.col("__c").isNotNull()
    )
    tagged = a.withColumn("__side", F.lit("a")).unionByName(
        b.withColumn("__side", F.lit("b"))
    )
    binned = tagged.groupBy("__c").agg(
        F.sum(F.when(F.col("__side") == "a", 1).otherwise(0)).alias("__na"),
        F.sum(F.when(F.col("__side") == "b", 1).otherwise(0)).alias("__nb"),
    )
    if binned.limit(max_categories + 1).count() > max_categories:
        raise ValueError(
            f"drift_chi2: more than {max_categories} distinct categories in "
            f"{col!r} — this monitor is for enum-like columns; raise "
            "max_categories explicitly if the cardinality is intended"
        )
    totals = binned.agg(
        F.sum("__na").cast("double").alias("__ta"),
        F.sum("__nb").cast("double").alias("__tb"),
    )
    row_tot = F.col("__na") + F.col("__nb")
    grand = F.col("__ta") + F.col("__tb")
    out = (
        binned.crossJoin(F.broadcast(totals))
        .withColumn("e_a", row_tot * (F.col("__ta") / grand))
        .withColumn("e_b", row_tot * (F.col("__tb") / grand))
        .withColumn(
            "chi2_contrib",
            ((F.col("__na") - F.col("e_a")) * (F.col("__na") - F.col("e_a")))
            / F.col("e_a")
            + ((F.col("__nb") - F.col("e_b")) * (F.col("__nb") - F.col("e_b")))
            / F.col("e_b"),
        )
    )
    return out.select(
        F.col("__c").alias("category"),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        "e_a",
        "e_b",
        "chi2_contrib",
    )


def _psi_from_counts(binned: DataFrame, eps: float) -> DataFrame:
    """(bin, __na, __nb) → (bin, n_a, n_b, p_a, p_b, psi_contrib):
    the eps-floored proportion + log-contribution tail shared by both
    binning strategies. Totals ride a one-row broadcast frame."""
    totals = binned.agg(
        F.sum("__na").cast("double").alias("__ta"),
        F.sum("__nb").cast("double").alias("__tb"),
    )
    e = F.lit(float(eps))
    out = (
        binned.crossJoin(F.broadcast(totals))
        .withColumn("p_a", F.greatest(F.col("__na") / F.col("__ta"), e))
        .withColumn("p_b", F.greatest(F.col("__nb") / F.col("__tb"), e))
        .withColumn(
            "psi_contrib", (F.col("p_a") - F.col("p_b")) * F.log(F.col("p_a") / F.col("p_b"))
        )
    )
    return out.select(
        "bin",
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        "p_a",
        "p_b",
        "psi_contrib",
    )


def _wasserstein_segments(
    *, bins: int, binning: str, span: tuple[float, float] | None, cuts: list[float]
) -> list[float]:
    """Per-bin integration-segment widths for the binned W1 distance:
    the binned CDF difference |F_a − F_b| evaluated at bin ``i``'s
    upper edge holds constant over the NEXT inter-edge segment, so
    bin ``i``'s contribution integrates over that segment's width.
    Equal-width mode (pinned span): every bin but the last gets the
    constant width (hi−lo)/bins (the last bin's upper edge IS the
    span end — both CDFs are 1 there, and there is no segment above
    it inside the span). Quantile mode: bin ``i``'s segment is
    [c_{i+1}, c_{i+2}), so widths are cut differences and the top TWO
    bins get 0 — the segment above the last interior cutpoint is
    unbounded, and a W1 over an unbounded tail is undefined on binned
    data; dropping it is the standard binned-EMD truncation (the
    reference-quantile edges put exactly 1/bins of reference mass
    out there, so the truncation is a fixed, known slice)."""
    if binning == "width":
        lo, hi = span  # validated non-None by the caller
        w = (float(hi) - float(lo)) / float(bins)
        return [w] * (bins - 1) + [0.0]
    seg = [0.0] * bins
    for i in range(bins - 2):
        seg[i] = float(cuts[i + 1]) - float(cuts[i])
    return seg


def drift_wasserstein(
    df_a: DataFrame,
    df_b: DataFrame,
    *,
    col: str,
    bins: int = 100,
    span: tuple[float, float] | None = None,
    binning: str = "quantile",
    edges: list[float] | None = None,
) -> DataFrame:
    """Binned 1-Wasserstein (earth-mover) drift monitor — the member
    of the drift family (PSI, binned KS, categorical chi-square) that
    reports HOW FAR the distribution moved in the column's own units:
    W1 = ∫|F_a(x) − F_b(x)| dx, the area between the two ECDFs, which
    for a binned ECDF is the exact sum of |ΔCDF at each edge| ×
    inter-edge segment width. KS answers "did it move?" with a
    scale-free sup-norm; W1 answers "by how much?" (a uniform +δ
    location shift gives W1 ≈ δ), which is what a paging threshold in
    physical units (dollars, tokens, ms) wants.

    Same two-sample contract as :func:`drift_ks`: quantile mode
    (default) pins the REFERENCE side's i/bins cutpoints (outlier
    robust — a comparison-side outlier clamps into an edge bin
    instead of stretching every width); equal-width mode requires an
    explicit ``span`` — W1 integrates physical widths, so a
    data-derived span would let one outlier inflate every segment and
    make the statistic incomparable across runs. Returns one row per
    non-empty bin: (bin, n_a, n_b, cdf_a, cdf_b, w1_contrib); the
    statistic is ``sum(w1_contrib)``. Counts are exact longs → the
    CDF doubles replay bit-identically in any engine; widths are
    differences of the identical cutpoint doubles, so each contrib is
    one IEEE multiply both engines agree on. A bin empty on BOTH
    sides is absent from the frame and contributes zero — with
    reference-quantile edges every bin holds reference mass by
    construction, so this only arises under extreme ties (same caveat
    as :func:`drift_ks`).

    Scale shape: identical to :func:`drift_ks` — quantile cutpoints
    via one distributed exact-selection sort on the reference side
    only, then ONE tagged-union histogram shuffle; the CDF cumsum and
    the width lookup (an ``element_at`` into a bins-sized array
    literal) run on the ≤bins-row frame.
    """
    if binning == "width" and span is None:
        raise ValueError(
            "drift_wasserstein with binning='width' requires an explicit span "
            "— W1 integrates physical bin widths, and a data-derived span "
            "would move with every batch's outliers; use binning='quantile' "
            "for data-adaptive edges"
        )
    cuts: list[float] = []
    if binning == "quantile":
        if edges is not None:
            cuts = [float(c) for c in edges]
        else:
            a = df_a.select(F.col(col).cast("double").alias("__x")).filter(
                F.col("__x").isNotNull()
            )
            cuts = exact_quantiles_select(a, "__x", [i / bins for i in range(1, bins)])
        edges = cuts
    binned = _drift_binned_counts(
        df_a, df_b, col=col, bins=bins, span=span, binning=binning, edges=edges
    )
    seg = _wasserstein_segments(bins=bins, binning=binning, span=span, cuts=cuts)
    seg_lit = F.array(*[F.lit(float(x)) for x in seg])
    return (
        _ks_from_counts(binned)
        .withColumn(
            "w1_contrib",
            F.col("ks_contrib") * F.element_at(seg_lit, (F.col("bin") + 1).cast("int")),
        )
        .drop("ks_contrib")
    )


def drift_embedding(
    ref: DataFrame,
    cur: DataFrame,
    *,
    vec_col: str = "embedding",
    value_decimals: int = 6,
) -> DataFrame:
    """EMBEDDING-space drift between two snapshots — the member the
    drift family was missing: PSI/KS/chi2/Wasserstein profile scalar
    columns, but an LLM pipeline's core payload is an
    ``array<float>`` column, and "did the embedding distribution
    move" (new corpus mix, re-embedded model version, upstream
    featurizer change) is the question a retrieval/dedup deployment
    asks before trusting its indexes. No reference analog
    (`Spatially ETL test.py:120-168` — the reference has no arrays at
    all).

    Two summary statistics per call, one row out:

    - ``centroid_cos_e6``: cosine similarity between the two MEAN
      vectors. Identity that makes it exact: cos(mean_r, mean_c) =
      cos(sum_r, sum_c) — the 1/n factors cancel — so it is computed
      entirely from per-dimension EXACT scaled-integer sums
      (``decimal(38,0)``, the weighted_quantiles discipline): dot and
      the two squared norms are exact integer aggregates; the final
      cos is IEEE ops on exact operands, identical on both engines.
      1.0 = no directional drift.
    - ``mean_shift_l2_e6``: ‖mean_r − mean_c‖₂, via the common
      denominator: mean_r − mean_c = (S_r·n_c − S_c·n_r)/(n_r·n_c)
      per dimension — the numerator is an exact integer, its squared
      sum an exact integer, and the one division + sqrt happen on
      exact operands. Reported in the embedding's own units.

    Scale shape (100 TB): one ``posexplode`` + hash aggregate per
    side compresses everything to |dims| rows (map-side combine; the
    shuffle carries dims × partials, never vectors); the dim frames
    join on the dimension id; counts ride one-row broadcasts (the
    accepted scalar-join pattern). Headroom (ADVICE r11 — the binding
    term is the SQUARED common denominator (S_r·n_c − S_c·n_r)², not
    the raw sums): decimal(38,0) needs |S|·n ≲ 5e18, so at unit-scale
    values and value_decimals=6 (S ≈ 1e6·n) the bound is n ≲ ~2e6
    rows per side — shrink ``value_decimals`` for corpora beyond that
    (the statistic loses nothing: it is a ratio). The bound is
    ENFORCED, not advisory: conservative double-precision shadow
    magnitudes ride the same aggregate, and a breach raises
    ``USER_RAISED_EXCEPTION`` at execution instead of the silent
    null-drop Spark's non-ANSI decimal overflow would produce (the
    DuckDB oracle's HUGEINT raises loudly in the same situation; the
    guard may fire up to ~10% before the exact decimal limit —
    conservative by design).

    Returns one row: (n_ref, n_cur, centroid_cos_e6,
    mean_shift_l2_e6); null statistics when either side is empty or
    a norm is zero.
    """
    scale = 10**value_decimals
    # counts cover exactly the rows whose components entered the sums
    # (null-vector rows carry no position in embedding space)
    counts = (
        ref.filter(F.col(vec_col).isNotNull())
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_ref"))
        .crossJoin(
            cur.filter(F.col(vec_col).isNotNull()).agg(
                F.count(F.lit(1)).cast("decimal(38,0)").alias("n_cur")
            )
        )
    )
    dims = (
        _embedding_dim_sums(ref, vec_col, scale, "r")
        .join(_embedding_dim_sums(cur, vec_col, scale, "c"), "dim", "full_outer")
        .select(
            F.coalesce(F.col("s_r"), F.lit(0).cast("decimal(38,0)")).alias("s_r"),
            F.coalesce(F.col("s_c"), F.lit(0).cast("decimal(38,0)")).alias("s_c"),
        )
    )
    return _embedding_drift_stats(dims, counts, scale)


def _embedding_dim_sums(df: DataFrame, vec_col: str, scale: int, tag: str) -> DataFrame:
    """(dim, s_<tag>) exact scaled-integer component sums — the shared
    half of :func:`drift_embedding` and the streaming monitor sink
    (one posexplode + hash aggregate; |dims| rows out)."""
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(F.col(vec_col)).alias("dim", "__v"))
        .groupBy("dim")
        .agg(
            F.sum(
                F.floor(
                    F.col("__v").cast("double") * F.lit(float(scale))
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias(f"s_{tag}")
        )
    )


def _embedding_drift_stats(dims: DataFrame, counts: DataFrame, scale: int) -> DataFrame:
    """The exact-integer tail shared by :func:`drift_embedding` and
    the streaming monitor: ``dims`` = (s_r, s_c) decimal sums per
    dimension, ``counts`` = one row (n_ref, n_cur) decimals; emits the
    one-row (n_ref, n_cur, centroid_cos_e6, mean_shift_l2_e6)."""
    joined = dims.crossJoin(F.broadcast(counts))
    # double-precision SHADOW magnitudes (upper bounds of every exact
    # decimal term by the triangle inequality: |Σa| ≤ Σ|a| and
    # (s_r·n_c − s_c·n_r)² ≤ (|s_r|·n_c + |s_c|·n_r)²) ride the same
    # aggregate; past ~0.9·10^38 the exact decimal(38,0) arithmetic
    # is at risk of Spark's silent non-ANSI overflow→null, so the
    # guard raises LOUDLY instead (ADVICE r11). Doubles cannot
    # overflow here and their ~1e-16 relative error is absorbed by
    # the 10% margin.
    sr_d = F.abs(F.col("s_r").cast("double"))
    sc_d = F.abs(F.col("s_c").cast("double"))
    nr_d = F.col("n_ref").cast("double")
    nc_d = F.col("n_cur").cast("double")
    agg = joined.agg(
        F.sum((F.col("s_r") * F.col("s_c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__dot"),
        F.sum((F.col("s_r") * F.col("s_r")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__qr"),
        F.sum((F.col("s_c") * F.col("s_c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("__qc"),
        F.sum(
            (
                (F.col("s_r") * F.col("n_cur") - F.col("s_c") * F.col("n_ref"))
                * (F.col("s_r") * F.col("n_cur") - F.col("s_c") * F.col("n_ref"))
            ).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("__num2"),
        F.sum(sr_d * sc_d).alias("__sh_dot"),
        F.sum(sr_d * sr_d).alias("__sh_qr"),
        F.sum(sc_d * sc_d).alias("__sh_qc"),
        F.sum(
            (sr_d * nc_d + sc_d * nr_d) * (sr_d * nc_d + sc_d * nr_d)
        ).alias("__sh_num2"),
    )
    # null shadows (empty dims frame) are the legitimate empty-input
    # case, not a breach — coalesce them to "within bounds"
    guard = F.assert_true(
        F.coalesce(
            F.greatest("__sh_dot", "__sh_qr", "__sh_qc", "__sh_num2")
            <= F.lit(9.0e37),
            F.lit(True),
        ),
        F.lit(
            "drift_embedding: decimal(38,0) headroom exceeded — the "
            "squared common-denominator drift terms would overflow "
            "(silent null under non-ANSI Spark). Shrink value_decimals "
            "(the statistics are ratios; precision of the inputs, not "
            "the result, is what changes) or split the snapshot."
        ),
    ).cast("double")
    cos = F.coalesce(
        guard,
        F.when(
            (F.col("__qr") > 0) & (F.col("__qc") > 0),
            F.col("__dot").cast("double")
            / (
                F.sqrt(F.col("__qr").cast("double"))
                * F.sqrt(F.col("__qc").cast("double"))
            ),
        ),
    )
    l2 = F.coalesce(
        guard,
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.sqrt(F.col("__num2").cast("double"))
            / (F.col("n_ref") * F.col("n_cur")).cast("double")
            / F.lit(float(scale)),
        ),
    )
    return agg.crossJoin(F.broadcast(counts)).select(
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias(
            "centroid_cos_e6"
        ),
        F.floor(l2 * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias(
            "mean_shift_l2_e6"
        ),
    )


def embedding_quality(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    value_decimals: int = 6,
) -> DataFrame:
    """HYGIENE profile of an ``array<float>`` embedding column — the
    pre-flight check an LLM pipeline runs before trusting a snapshot
    to its ANN/dedup/drift machinery (a ragged dimension or a batch
    of zero/NaN vectors silently poisons every cosine downstream).
    One row out:

    - ``n_rows`` / ``n_null_vec`` / ``n_empty_vec`` — presence;
    - ``dim_min`` / ``dim_max`` — RAGGED-DIMENSION detection over
      non-empty vectors (equal ⇒ rectangular, the invariant every
      consumer assumes but none verifies);
    - ``n_nonfinite_vec`` — vectors containing any NaN/±Inf
      component (excluded from the norm statistics: a NaN would
      otherwise swallow the aggregate);
    - ``n_zero_vec`` — vectors whose every component rounds to 0 at
      ``value_decimals`` (cosine-undefined rows);
    - ``norm_rms_e6`` — root-mean-square L2 norm of the valid
      vectors, from EXACT scaled-integer squared sums
      (the ``weighted_quantiles``/``drift_embedding`` decimal
      discipline): per-row Σc² accumulates in decimal(38,0) — NOT
      int64, whose silent non-ANSI wrap at ~9.2e18 (one component of
      ~3e3 at value_decimals=6 squares past it) would corrupt the
      statistic with no error; decimal holds ~1e38, i.e. ~1e12-scale
      components, far past any real embedding — the cross-row total
      is decimal(38,0) too, and the single division + sqrt + e6 floor
      happen on exact operands — engine-replayable to the last digit
      (DuckDB's BIGINT oracle raises loudly at the int64 line, which
      the fixtures never approach).

    Scale shape: ONE pass, one 1-row aggregate — the per-row work
    (transform/aggregate HOFs over the array) is codegen'd map-side;
    nothing shuffles but the final partials. No reference analog
    (`Spatially ETL test.py` has no array columns).
    """
    scale = 10**value_decimals
    v = F.col(vec_col)
    nonfinite = F.exists(
        v,
        lambda x: F.isnan(x.cast("double"))
        | (x.cast("double") == F.lit(float("inf")))
        | (x.cast("double") == F.lit(float("-inf"))),
    )
    c = F.transform(
        v,
        lambda x: F.floor(
            x.cast("double") * F.lit(float(scale)) + F.lit(0.5)
        ).cast("long"),
    )
    sq = F.aggregate(
        c,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc
        + (x.cast("decimal(19,0)") * x.cast("decimal(19,0)")).cast(
            "decimal(38,0)"
        ),
    )
    maxabs = F.array_max(F.transform(c, lambda x: F.abs(x)))
    is_valid = v.isNotNull() & (F.size(v) > 0) & ~nonfinite
    per = df.select(
        v.isNull().alias("__null"),
        (v.isNotNull() & (F.size(v) == 0)).alias("__empty"),
        (v.isNotNull() & (F.size(v) > 0) & nonfinite).alias("__nonfin"),
        F.when(is_valid, F.size(v)).alias("__dim"),
        F.when(is_valid & (maxabs == 0), True).alias("__zero"),
        F.when(is_valid, sq).cast("decimal(38,0)").alias("__sq"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__null"), 1).otherwise(0)).alias("n_null_vec"),
        F.sum(F.when(F.col("__empty"), 1).otherwise(0)).alias("n_empty_vec"),
        F.sum(F.when(F.col("__nonfin"), 1).otherwise(0)).alias("n_nonfinite_vec"),
        F.min("__dim").alias("dim_min"),
        F.max("__dim").alias("dim_max"),
        F.sum(F.when(F.col("__zero"), 1).otherwise(0)).alias("n_zero_vec"),
        F.count("__sq").alias("__n_valid"),
        F.sum("__sq").cast("decimal(38,0)").alias("__sum_sq"),
    )
    rms = F.when(
        F.col("__n_valid") > 0,
        F.sqrt(
            F.col("__sum_sq").cast("double")
            / (
                F.col("__n_valid").cast("double")
                * F.lit(float(scale) * float(scale))
            )
        ),
    )
    return agg.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null_vec").cast("long").alias("n_null_vec"),
        F.col("n_empty_vec").cast("long").alias("n_empty_vec"),
        F.col("n_nonfinite_vec").cast("long").alias("n_nonfinite_vec"),
        F.col("dim_min").cast("long").alias("dim_min"),
        F.col("dim_max").cast("long").alias("dim_max"),
        F.col("n_zero_vec").cast("long").alias("n_zero_vec"),
        F.floor(rms * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("norm_rms_e6"),
    )


def mutual_info(
    df: DataFrame,
    *,
    col_x: str,
    col_y: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Mutual information between two CATEGORICAL columns, emitted as
    per-cell contributions — the dependence-structure member of the
    profiling family (corr_matrix covers numeric-numeric; this covers
    enum-enum: language × source, event_type × device, label ×
    shard). For each observed cell (x, y):

      pmi      = ln( n_xy · n  /  (n_x · n_y) )
      contrib  = (n_xy / n) · pmi          (MI = Σ contribs ≥ 0)

    Returns (x, y, n_xy, pmi_e6, mi_contrib_e6): exact joint count
    plus the e6-floored pointwise mutual information and MI
    contribution. Per-cell rows (not one total) keep every emitted
    double ONE libm ``ln`` plus one IEEE multiply away from exact
    integer counts — the drift_psi contribution idiom, so any engine
    replays them under the standard e6 floor. Nulls on either column
    are dropped.

    Scale shape: ONE groupBy(x, y) hash-aggregate over the data
    (map-side combine; a hot cell is just a bigger partial count);
    both marginals and the grand total are re-aggregated FROM the
    joint frame (≤ cells rows), so the raw data is scanned exactly
    once. Marginals join back by equi-join; the grand total rides a
    one-row broadcast. ``max_cells`` fails fast when a column is
    id-typed (checked with one limit(n+1).count() on the aggregated
    frame, never on the raw data).
    """
    pairs = df.select(
        F.col(col_x).cast("string").alias("__x"),
        F.col(col_y).cast("string").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    joint = pairs.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    if joint.limit(max_cells + 1).count() > max_cells:
        raise ValueError(
            f"mutual_info: more than {max_cells} distinct ({col_x!r}, "
            f"{col_y!r}) cells — this profiler is for enum-like columns; "
            "raise max_cells explicitly if the cardinality is intended"
        )
    marg_x = joint.groupBy("__x").agg(F.sum("n_xy").cast("long").alias("n_x"))
    marg_y = joint.groupBy("__y").agg(F.sum("n_xy").cast("long").alias("n_y"))
    total = joint.agg(F.sum("n_xy").cast("long").alias("__n"))
    out = (
        joint.join(marg_x, "__x")
        .join(marg_y, "__y")
        .crossJoin(F.broadcast(total))
    )
    # Pinned op order: ratio of exact long products -> one ln -> one
    # multiply. Products stay below 2^63 for any table under ~3e9
    # rows (n_xy*n <= n^2); the catalog query's oracle replays the
    # identical expression.
    ratio = (F.col("n_xy") * F.col("__n")).cast("double") / (
        F.col("n_x") * F.col("n_y")
    ).cast("double")
    pmi = F.log(ratio)
    contrib = (F.col("n_xy").cast("double") / F.col("__n").cast("double")) * pmi
    e6 = F.lit(1000000.0)
    half = F.lit(0.5)
    return out.select(
        F.col("__x").alias("x"),
        F.col("__y").alias("y"),
        "n_xy",
        F.floor(pmi * e6 + half).cast("long").alias("pmi_e6"),
        F.floor(contrib * e6 + half).cast("long").alias("mi_contrib_e6"),
    )


def grouped_ols(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    x_decimals: int = 0,
    y_decimals: int = 0,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) with
    EXACT integer moment accumulation — in-database ML that stays
    deterministic across engines and partitionings. The caller
    declares the fixed decimal precision of each column
    (``x_decimals`` / ``y_decimals``, e.g. 0 for integer-valued
    quantities, 2 for money); x and y are scaled to integers, the
    five sufficient statistics (n, Σx, Σy, Σx², Σxy) accumulate as
    exact integers (128-bit where products can exceed 2⁶³), and the
    slope/intercept come from one closed-form division each:

      slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)   [scaled units]
      intercept = (Σy − slope_scaled·Σx) / n            [y units]

    Returns (group_cols..., n, slope_e6, intercept_e6) where slope
    is in ORIGINAL y-units per x-unit. Groups with zero x-variance
    yield null slope/intercept (the SQL NULL-division contract).

    Why not ``regr_slope``: streaming covariance accumulates doubles
    whose partial-sum ORDER depends on the partitioning, so two runs
    (or two engines) disagree in low-order bits. Exact integer
    moments make the whole fit a pure function of the data — the
    same discipline as the repo's TPC-H money sums — at the cost of
    requiring fixed-decimal inputs, which is what production metric
    columns are.

    Scale shape: ONE hash aggregate (map-side combine) whose shuffle
    carries five numbers per group; the closed-form solve is
    per-group codegen arithmetic. No iteration, no driver collect.
    """
    sx10 = F.lit(float(10**x_decimals))
    sy10 = F.lit(float(10**y_decimals))
    # Scaled-integer representations: floor(v*10^d + 0.5) is exact for
    # values that truly carry <= d decimals (the caller's contract).
    xs = F.floor(F.col(x_col).cast("double") * sx10 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    ys = F.floor(F.col(y_col).cast("double") * sy10 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(*group_cols, xs.alias("__xs"), ys.alias("__ys"))
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__xs").cast("decimal(38,0)").alias("__sx"),
        F.sum("__ys").cast("decimal(38,0)").alias("__sy"),
        F.sum(F.col("__xs") * F.col("__xs")).cast("decimal(38,0)").alias("__sxx"),
        F.sum(F.col("__xs") * F.col("__ys")).cast("decimal(38,0)").alias("__sxy"),
    )
    # All four combination terms are exact decimal(38,0) integers;
    # the ONLY rounding in the whole fit is the final decimal->double
    # cast (correctly rounded in both Spark and DuckDB) and the one
    # IEEE division — identical everywhere.
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    den = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    slope_scaled = F.when(den != F.lit(0.0), num / den)  # ys per xs unit
    # Back to original units: y = ys/10^dy, x = xs/10^dx.
    slope = slope_scaled * sx10 / sy10
    intercept_scaled = (
        F.col("__sy").cast("double") - slope_scaled * F.col("__sx").cast("double")
    ) / F.col("__n").cast("double")
    intercept = intercept_scaled / sy10
    e6 = F.lit(1000000.0)
    half = F.lit(0.5)
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.floor(slope * e6 + half).cast("long").alias("slope_e6"),
        F.floor(intercept * e6 + half).cast("long").alias("intercept_e6"),
    )


def _profile_batch_rows(
    df: DataFrame, cols: dict[str, int], batch_id: str
) -> DataFrame:
    """One (col_name, …) row per profiled column for ONE ingest batch:
    exact mergeable statistics only (counts, scaled-integer sum, min,
    max) — everything a later merge can combine without rescanning."""
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c, dec in cols.items():
        scaled = F.floor(
            F.col(c).cast("double") * F.lit(float(10**dec)) + F.lit(0.5)
        ).cast("decimal(38,0)")
        aggs.append(F.count(F.col(c)).cast("long").alias(f"__nn_{c}"))
        aggs.append(F.sum(scaled).cast("decimal(38,0)").alias(f"__s_{c}"))
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
    row = df.agg(*aggs)
    outs = [
        row.select(
            F.lit(c).alias("col_name"),
            F.lit(int(dec)).cast("int").alias("decimals"),
            F.lit(batch_id).alias("batch_id"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            F.col(f"__s_{c}").alias("sum_scaled"),
            F.col(f"__mn_{c}").alias("min_val"),
            F.col(f"__mx_{c}").alias("max_val"),
        )
        for c, dec in cols.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def profile_write_store(
    df: DataFrame, path: str, *, cols: dict[str, int], batch_id: str
) -> None:
    """Materialize an INCREMENTAL column-profile store: per-batch
    exact sufficient statistics (row/nonnull counts, fixed-decimal
    scaled-integer sum, min, max) persisted as parquet partitioned by
    ``batch_id``, plus a JSON sidecar pinning the profiled columns and
    their declared decimal precisions (the :func:`grouped_ols`
    exact-moment contract). At 100 TB the profile pass over history is
    paid ONCE at ingest; each new batch adds one batch-sized scan and
    a ≤|cols|-row partition — reading the whole-corpus profile never
    rescans raw data (:func:`profile_read_store` merges the tiny stats
    frame). ``cols`` maps column → decimals (0 for integer-valued,
    2 for money, …).

    This is the CREATE operation: a STATIC overwrite that truncates
    any stats directory already at ``path``, so re-creating over an
    old store can never mix stale batch partitions or a changed
    cols/decimals contract into later merges. Incremental ingest goes
    through :func:`profile_append_store`, which alone uses dynamic
    partition overwrite.
    """
    import json
    import os

    stats = _profile_batch_rows(df, cols, batch_id)
    (
        stats.repartition(1)
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(path, "stats"))
    )
    meta_dir = os.path.join(path, "_profile_meta")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, "meta.json"), "w") as fh:
        json.dump({"cols": {c: int(d) for c, d in cols.items()}}, fh)


def profile_append_store(df: DataFrame, path: str, *, batch_id: str) -> None:
    """Profile ONE new ingest batch into an existing store: replays
    the column/decimal contract from the sidecar and overwrites ONLY
    this batch's partition (dynamic partition overwrite → re-ingesting
    the same batch id is idempotent, the drift-sink discipline).
    Raw history is never rescanned."""
    import json
    import os

    with open(os.path.join(path, "_profile_meta", "meta.json")) as fh:
        cols = {c: int(d) for c, d in json.load(fh)["cols"].items()}
    stats = _profile_batch_rows(df, cols, batch_id)
    (
        stats.repartition(1)
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("batch_id")
        .parquet(os.path.join(path, "stats"))
    )


def profile_delete_batch(spark: SparkSession, path: str, batch_id: str) -> None:
    """Delete ONE batch's statistics from the incremental profile
    store — the lifecycle symmetry the index family's
    ``*_delete_index`` established (``operators/indexstore.py``): a
    quarantined / re-stated ingest batch drops out of the merged
    profile without rescanning anything. Because the store is
    partitioned by ``batch_id`` and every statistic is a mergeable
    partial, the delete IS a partition drop — no tombstones, no
    stats adjustment: :func:`profile_read_store` over the remaining
    partitions is bit-identical to a store that never saw the batch
    (pytest-pinned). Deleting an absent batch_id is a no-op; deleting
    the last batch leaves a valid empty store (read returns zero
    rows)."""
    import os
    import shutil

    part = os.path.join(path, "stats", f"batch_id={batch_id}")
    shutil.rmtree(part, ignore_errors=True)


def profile_read_store(spark: SparkSession, path: str) -> DataFrame:
    """Whole-corpus profile from the persisted store WITHOUT touching
    raw data: merge the per-batch exact statistics (counts and scaled
    sums add; min/max fold) and derive the mean as ONE division of the
    exact decimal sum — so the merged profile is bit-identical to a
    from-scratch profile over the unioned raw batches (pytest-pinned
    append ≡ rebuild). Returns (col_name, n_batches, n_rows,
    n_nonnull, min_val, max_val, mean_e6); a store whose every batch
    has been deleted (:func:`profile_delete_batch`) reads as zero
    rows, not an error."""
    import os

    from pyspark.errors import AnalysisException

    from spatially_databricks_etl_spark.sources.files import scan_parquet

    try:
        stats = scan_parquet(spark, os.path.join(path, "stats"))
    except AnalysisException:
        # every batch partition deleted — schema can no longer be
        # inferred from files; an empty store is a valid store
        return spark.createDataFrame(
            [],
            "col_name string, n_batches long, n_rows long, n_nonnull long, "
            "min_val double, max_val double, mean_e6 long",
        )
    merged = stats.groupBy("col_name", "decimals").agg(
        F.countDistinct("batch_id").cast("long").alias("n_batches"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_nonnull").cast("long").alias("n_nonnull"),
        F.sum("sum_scaled").cast("decimal(38,0)").alias("__s"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )
    mean = (
        F.col("__s").cast("double") / F.col("n_nonnull").cast("double")
    ) / F.pow(F.lit(10.0), F.col("decimals").cast("double"))
    return merged.select(
        "col_name",
        "n_batches",
        "n_rows",
        "n_nonnull",
        "min_val",
        "max_val",
        F.when(
            F.col("n_nonnull") > 0,
            F.floor(mean * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
        ).alias("mean_e6"),
    )


def column_entropy(
    df: DataFrame, cols: list[str], *, max_values: int = 100_000
) -> DataFrame:
    """Shannon entropy (nats) of each categorical column's value
    distribution, from EXACT counts — the distribution-skew member of
    the profiling family (`skew_profile` finds hot keys; entropy
    summarizes the whole shape in one number: 0 = constant column,
    ln(k) = uniform over k values). Per column:

      H = Σ −(n_v/n)·ln(n_v/n)      over observed values v

    Returns (col_name, n_rows, n_distinct, entropy_e6, max_entropy_e6)
    where max_entropy = ln(n_distinct) — the pair normalizes to a
    fill-ratio without hiding the raw value. Nulls are dropped (an
    all-null column yields a zero row).

    Cross-engine determinism: a bare float SUM of the per-value
    contributions would be summation-ORDER-dependent, so H is a LEFT
    FOLD over the contributions sorted by value (collect → array_sort
    → aggregate) — any engine replays it with an ordered aggregate
    (DuckDB ``sum(x ORDER BY v)``), making the double bit-identical
    before the e6 floor. The collect runs on the ≤distinct-values
    frame, guarded by ``max_values`` (the :func:`mutual_info`
    fail-fast for id-typed columns).

    Scale shape: per column, ONE groupBy(value) hash aggregate over
    the data (map-side combine); the fold runs on the value-sized
    frame. k columns = k aggregates over one shared scan.
    """
    outs = []
    for c in cols:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(c).cast("string").alias("__v"))
            .agg(F.count(F.lit(1)).cast("long").alias("__n_v"))
        )
        if counts.limit(max_values + 1).count() > max_values:
            raise ValueError(
                f"column_entropy: more than {max_values} distinct values in "
                f"{c!r} — this profiler is for enum-like columns; raise "
                "max_values explicitly if the cardinality is intended"
            )
        total = counts.agg(F.sum("__n_v").cast("long").alias("__n"))
        p = F.col("__n_v").cast("double") / F.col("__n").cast("double")
        contribs = F.array_sort(
            F.collect_list(F.struct(F.col("__v"), (-p * F.log(p)).alias("__c")))
        )
        outs.append(
            counts.crossJoin(F.broadcast(total))
            .agg(
                contribs.alias("__cs"),
                F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct"),
            )
            .select(
                F.lit(c).alias("col_name"),
                "n_rows",
                "n_distinct",
                F.floor(
                    F.aggregate(
                        F.col("__cs"), F.lit(0.0), lambda acc, x: acc + x["__c"]
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("entropy_e6"),
                F.when(
                    F.col("n_distinct") > 0,
                    F.floor(
                        F.log(F.col("n_distinct").cast("double"))
                        * F.lit(1000000.0)
                        + F.lit(0.5)
                    ).cast("long"),
                ).alias("max_entropy_e6"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def weighted_quantiles(
    df: DataFrame,
    *,
    val_col: str,
    weight_col: str,
    qs_permille: list[int],
    weight_decimals: int = 0,
    max_values: int = 1_000_000,
) -> DataFrame:
    """EXACT weighted quantiles: the smallest value v whose cumulative
    weight reaches q of the total — the profiling primitive behind
    "the token-weighted median document length" or "the revenue-
    weighted p90 order size", where unweighted quantiles mislead.
    Quantiles are declared in PERMILLE (500 = median) so the cut rule

      cumw · 1000 ≥ q_permille · W

    is pure integer arithmetic on exact decimal(38,0) scaled weights
    (``weight_decimals`` declares the weight column's fixed decimal
    precision, the :func:`grouped_ols` contract) — no float compare,
    no interpolation, bit-identical in any engine. Ties on the cut:
    the lower-bound convention (first value reaching the mass).
    Returns (q_permille, value) per requested quantile. Rows with
    null or non-positive weight are dropped.

    Scale shape: ONE groupBy(value) hash aggregate over the data
    (map-side combine) compresses to the distinct-value frame
    (``max_values``-guarded); the cumulative sum and the per-q picks
    run on that frame (the single-partition window there is the
    intended shape — same contract as drift_ks's cumsum). For
    continuous high-cardinality columns, quantize the value column
    first (the caller owns the bucketing rule).
    """
    if not qs_permille or any(not 0 < q <= 1000 for q in qs_permille):
        raise ValueError("qs_permille must be within 1..1000")
    scale = F.lit(float(10**weight_decimals))
    w = F.floor(F.col(weight_col).cast("double") * scale + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    base = df.filter(
        F.col(val_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(F.col(val_col).cast("double").alias("__v"), w.alias("__w"))
    counts = base.groupBy("__v").agg(
        F.sum("__w").cast("decimal(38,0)").alias("__wv")
    )
    if counts.limit(max_values + 1).count() > max_values:
        raise ValueError(
            f"weighted_quantiles: more than {max_values} distinct values in "
            f"{val_col!r} — quantize the value column first, or raise "
            "max_values explicitly"
        )
    from pyspark.sql.window import Window

    cum = counts.withColumn(
        "__cw",
        F.sum("__wv")
        .over(Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0))
        .cast("decimal(38,0)"),
    )
    total = counts.agg(F.sum("__wv").cast("decimal(38,0)").alias("__W"))
    hit = cum.crossJoin(F.broadcast(total))
    outs = []
    for q in qs_permille:
        outs.append(
            hit.filter(
                F.col("__cw") * F.lit(1000) >= F.lit(q) * F.col("__W")
            )
            .agg(F.min("__v").alias("value"))
            .select(
                F.lit(q).cast("int").alias("q_permille"),
                "value",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def gini_concentration(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    value_decimals: int = 0,
) -> DataFrame:
    """Gini coefficient of how concentrated a measure is across
    groups — the inequality member of the profiling family
    (``column_entropy`` scores a categorical MIX; this scores a
    MEASURE's concentration: "do 1% of customers carry 90% of
    revenue?", "does one source dominate token mass?"). Per-group
    totals x₁ ≤ … ≤ xₙ (sorted ascending, group key as tiebreak):

      G = Σᵢ (2i − n − 1)·xᵢ  /  (n · Σᵢ xᵢ)          ∈ [0, 1)

    Returns ONE row (n_groups, total_scaled, gini_e6). The totals
    accumulate as exact decimal(38,0) scaled integers
    (``value_decimals`` — the :func:`grouped_ols` contract), the
    numerator/denominator are exact integer sums/products, and G is
    ONE IEEE division before the e6 floor — bit-identical anywhere.
    The formula is permutation-invariant across equal totals, so the
    tiebreak never changes the value, only makes the rank total.
    Groups with negative totals are rejected (Gini is undefined).

    Scale shape: ONE hash aggregate over the data to per-group totals
    (map-side combine); the rank + two reductions run on the
    |groups|-sized frame — the single-partition window there is the
    intended shape (the weighted_quantiles cumsum contract). An
    empty input yields (0, 0, null).
    """
    from pyspark.sql.window import Window

    scale = F.lit(float(10**value_decimals))
    xs = F.floor(F.col(value_col).cast("double") * scale + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    totals = (
        df.filter(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.sum(xs).cast("decimal(38,0)").alias("__x"))
    )
    w = Window.orderBy(F.col("__x").asc(), F.col("__g").asc())
    ranked = totals.withColumn("__i", F.row_number().over(w).cast("long"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(F.sum("__x"), F.lit(0)).cast("decimal(38,0)").alias("__sx"),
        F.coalesce(F.min("__x"), F.lit(0)).cast("decimal(38,0)").alias("__mn"),
        F.coalesce(
            F.sum(
                (F.lit(2) * F.col("__i")).cast("decimal(38,0)") * F.col("__x")
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__s2ix"),
    )
    # G = (Σ2i·x − (n+1)·Σx) / (n·Σx): both terms exact decimals, one
    # double division. Negative totals make G meaningless — fail fast.
    num = (
        F.col("__s2ix")
        - (F.col("n_groups") + F.lit(1)).cast("decimal(38,0)") * F.col("__sx")
    ).cast("double")
    den = (F.col("n_groups").cast("decimal(38,0)") * F.col("__sx")).cast("double")
    gini = F.when(
        (F.col("n_groups") > 0) & (F.col("__sx") > 0) & (F.col("__mn") >= 0),
        num / den,
    )
    return agg.select(
        "n_groups",
        F.col("__sx").cast("long").alias("total_scaled"),
        F.floor(gini * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("gini_e6"),
    )


def ts_anomaly(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: list[str] | None = None,
    bucket: str = "hour",
    period: int = 24,
    threshold: float = 3.5,
    value_decimals: int = 2,
    detrend_window: int | None = None,
) -> DataFrame:
    """Time-series anomaly scoring by SEASONAL-NAIVE residuals — the
    member the drift family lacks: drift_psi/ks/chi2/wasserstein
    detect distribution shift BETWEEN two snapshots; this scores
    anomalies ALONG time within one series. No reference analog (the
    reference never aggregates, `Spatially ETL test.py:120-168`).

    Method (seasonal-naive forecast + robust residual z, the
    textbook first-line detector — Hyndman & Athanasopoulos,
    "Forecasting: Principles and Practice", §5.2 public material):
    per key, the series y(t) = Σ value over ``bucket`` windows; the
    forecast for bucket t is y(t − period buckets) (e.g. hour-of-day
    seasonality for hourly buckets with period=24); the residual
    r(t) = y(t) − y(t − period) is scored with the
    :func:`robust_zscore` kernel per key — z = 0.6745·(r − median(r))
    / MAD(r) — so a level shift or spike is measured against the
    key's own typical seasonal deviation, and the estimator is not
    dragged by the anomalies it hunts. Buckets with no observation a
    period earlier are not scored (no forecast exists); a key with
    MAD = 0 yields null z (the robust_zscore degenerate contract).

    Cross-engine determinism: the bucket sums accumulate as exact
    ``decimal(38, value_decimals)`` integers (the grouped_ols /
    weighted_quantiles discipline) so y, y_prev and r are exact in
    any summation order; the seasonal match is a timestamp EQUI-join
    (bucket = prev_bucket + period, exact interval arithmetic — no
    positional lag, so gaps in the series align correctly); medians
    are exact linear interpolation (``F.percentile`` ≡ DuckDB
    ``quantile_cont``) over identical doubles; z is three IEEE ops on
    identical operands. The graded form emits z e6-floored.

    ``detrend_window=W`` (STL-lite, VERDICT r10 item 6): for a
    TRENDING series the plain seasonal residual y(t) − y(t−period)
    conflates the trend with the anomaly — a steady ramp scores like
    a slow-motion level shift. With detrending, each bucket first
    subtracts its trailing-window trend estimate — the mean of the
    previous W OBSERVED buckets (a ROWS frame, so series gaps shorten
    the lookback rather than silently spanning it; the frame EXCLUDES
    the current bucket so a spike never drags its own baseline) — and
    the seasonal residual is taken between the DETRENDED values:
    r(t) = (y(t) − T(t)) − (y(t−p) − T(t−p)). Exactness discipline:
    computed as (exact integer Σ difference) − (T_t − T_p) with each
    T a single division of exact decimal operands — the identical
    expression tree on both engines, so every double matches
    bit-for-bit. Buckets whose trailing frame is empty (first
    observed bucket per key) have no trend estimate and are not
    scored, on either side of the seasonal match.

    Returns (key..., bucket, y, y_prev, residual, z_e6, is_anomaly)
    for every scored bucket.

    Scale shape (100 TB): ONE hash aggregate compresses the raw
    events to the bucket grid (map-side combine; the shuffle carries
    |keys|·|buckets| rows, not events); the seasonal join and the
    per-key median/MAD aggregates run on that compressed frame; the
    per-key stats frame (|keys| rows) broadcast-joins back. No
    windows over the raw data, no driver collects.
    """
    keys = list(key_cols) if key_cols else ["event_type"]
    scale = 10**value_decimals
    ts_b = F.date_trunc(bucket, F.col(ts_col))
    y = (
        df.filter(
            F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(*[F.col(k) for k in keys], ts_b.alias("bucket"))
        .agg(
            F.sum(
                F.floor(
                    F.col(value_col).cast("double") * F.lit(float(scale))
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("__ys")
        )
    )
    if detrend_window is not None:
        from pyspark.sql.window import Window

        wtr = (
            Window.partitionBy(*keys)
            .orderBy("bucket")
            .rowsBetween(-int(detrend_window), -1)
        )
        y = y.withColumn(
            "__tsum", F.sum("__ys").over(wtr).cast("decimal(38,0)")
        ).withColumn("__tcnt", F.count(F.lit(1)).over(wtr).cast("long"))
    cur = y.alias("cur")
    prev_cols = [
        *[F.col(k).alias(f"__pk_{k}") for k in keys],
        (
            F.col("bucket")
            + F.expr(f"INTERVAL {int(period)} {bucket.upper()}S")
        ).alias("__pbucket"),
        F.col("__ys").alias("__ys_prev"),
    ]
    if detrend_window is not None:
        prev_cols += [
            F.col("__tsum").alias("__tsum_prev"),
            F.col("__tcnt").alias("__tcnt_prev"),
        ]
    prev = y.select(*prev_cols).alias("prev")
    cond = F.col("cur.bucket") == F.col("prev.__pbucket")
    for k in keys:
        cond = cond & (F.col(f"cur.{k}") == F.col(f"prev.__pk_{k}"))
    if detrend_window is not None:
        # the identical float expression tree the oracle replays:
        # exact integer Σ difference, minus the difference of the two
        # trend estimates (each ONE division of exact operands)
        trend_c = F.col("cur.__tsum").cast("double") / F.col("cur.__tcnt").cast(
            "double"
        )
        trend_p = F.col("prev.__tsum_prev").cast("double") / F.col(
            "prev.__tcnt_prev"
        ).cast("double")
        residual = (
            (F.col("cur.__ys") - F.col("prev.__ys_prev")).cast("double")
            - (trend_c - trend_p)
        ) / F.lit(float(scale))
        joined = cur.join(prev, cond, "inner").filter(
            (F.col("cur.__tcnt") > 0) & (F.col("prev.__tcnt_prev") > 0)
        )
    else:
        residual = (
            F.col("cur.__ys") - F.col("prev.__ys_prev")
        ).cast("double") / F.lit(float(scale))
        joined = cur.join(prev, cond, "inner")
    scored = joined.select(
        *[F.col(f"cur.{k}") for k in keys],
        F.col("cur.bucket").alias("bucket"),
        (F.col("cur.__ys").cast("double") / F.lit(float(scale))).alias("y"),
        (F.col("prev.__ys_prev").cast("double") / F.lit(float(scale))).alias(
            "y_prev"
        ),
        residual.alias("residual"),
    )
    stats = scored.groupBy(*[F.col(k) for k in keys]).agg(
        F.percentile(F.col("residual"), F.lit(0.5)).alias("__med")
    )
    with_med = scored.join(F.broadcast(stats), keys)
    mad = with_med.groupBy(*[F.col(k) for k in keys]).agg(
        F.percentile(
            F.abs(F.col("residual") - F.col("__med")), F.lit(0.5)
        ).alias("__mad")
    )
    full = with_med.join(F.broadcast(mad), keys)
    z = F.when(
        F.col("__mad") > 0.0,
        F.lit(0.6745) * (F.col("residual") - F.col("__med")) / F.col("__mad"),
    )
    return full.select(
        *keys,
        "bucket",
        "y",
        "y_prev",
        "residual",
        F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("z_e6"),
        F.when(
            z.isNotNull(), F.abs(z) > F.lit(float(threshold))
        ).alias("is_anomaly"),
    )


def ts_changepoint(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: list[str] | None = None,
    bucket: str = "hour",
    value_decimals: int = 2,
    min_buckets: int = 8,
) -> DataFrame:
    """Level-shift (changepoint) detection by the CUSUM statistic —
    the "WHEN did the series change" member completing the
    time-series trio: drift says two snapshots differ,
    :func:`ts_anomaly` flags single-bucket spikes, this locates a
    sustained level change (Page, "Continuous Inspection Schemes",
    Biometrika 1954 — public algorithm, re-expressed as exact
    DataFrame algebra). No reference analog — the reference has no
    aggregation surface at all (`Spatially ETL test.py:120-168`).

    Per key, the bucketed series y_1..y_n (Σ value per ``bucket``
    window, exact scaled-integer decimals — the ts_anomaly/grouped_ols
    discipline) yields the centered cumulative sums
    S_t = Σ_{i≤t} (y_i − ȳ). To stay engine-exact, S_t is computed in
    the INTEGER form S'_t = n·C_t − t·T (C_t the running sum, T the
    total): decimal(38,0) products/differences with no division until
    the final statistic. The changepoint estimate is the EARLIEST
    bucket attaining max_t |S'_t|; the reported statistic
    D = max_t |C_t/T − t/n| = max|S'_t|/(n·T) ∈ [0, 1] is the
    mass-vs-time discrepancy (the CUSUM range in relative form, the
    same shape as a KS distance against the uniform-time null): a
    constant series scores exactly 0, a single sharp level shift at
    fraction f with level ratio r scores |f(1−f)(r−1)|/(f·r+1−f)-ish
    — large when the shift is big and central. One division of exact
    operands, e6-floored. Keys with T = 0 (or all-null) emit null D;
    keys with fewer than ``min_buckets`` scored buckets are dropped
    (a 3-bucket "changepoint" is noise, and the floor keeps the
    statistic's null behavior honest).

    Returns one row per key:
    (key..., n_buckets, cp_bucket, s_abs_max, cusum_e6).
    ``s_abs_max`` = max|S'_t| is emitted as the exact decimal's STRING
    form, not a long: n·C_t − t·T can exceed 2⁶³ for long/heavy series,
    where a long cast would go null under Spark's non-ANSI semantics
    while DuckDB's HUGEINT→BIGINT cast raises — the string of the
    exact integer is identical on both engines at every magnitude.

    Scale shape (100 TB): ONE hash aggregate compresses events to the
    bucket grid; the running sum is a window over the |buckets|-sized
    per-key frame (single-partition per key — the intended shape, the
    drift_ks/weighted_quantiles contract, bounded by the bucket grid
    not the data); the argmax reduction is one more aggregate on that
    frame. No raw-data windows, no collects.
    """
    from pyspark.sql.window import Window

    keys = list(key_cols) if key_cols else ["event_type"]
    scale = 10**value_decimals
    ts_b = F.date_trunc(bucket, F.col(ts_col))
    y = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(*[F.col(k) for k in keys], ts_b.alias("bucket"))
        .agg(
            F.sum(
                F.floor(
                    F.col(value_col).cast("double") * F.lit(float(scale))
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("__ys")
        )
    )
    wseq = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wkey = Window.partitionBy(*keys)
    cum = (
        y.withColumn("__c", F.sum("__ys").over(wseq).cast("decimal(38,0)"))
        .withColumn("__t", F.row_number().over(Window.partitionBy(*keys).orderBy("bucket")).cast("decimal(38,0)"))
        .withColumn("__n", F.count(F.lit(1)).over(wkey).cast("decimal(38,0)"))
        .withColumn("__tot", F.sum("__ys").over(wkey).cast("decimal(38,0)"))
    )
    s = cum.withColumn(
        "__s_abs",
        F.abs(
            (F.col("__n") * F.col("__c") - F.col("__t") * F.col("__tot")).cast(
                "decimal(38,0)"
            )
        ),
    )
    per_key = s.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("__s_abs").alias("__smax"),
        F.max("__n").alias("__nn"),
        F.max("__tot").alias("__t_tot"),
    )
    at_max = (
        s.join(F.broadcast(per_key.select(*keys, "__smax")), keys)
        .filter(F.col("__s_abs") == F.col("__smax"))
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.min("bucket").alias("cp_bucket"))
    )
    d = F.when(
        F.col("__t_tot") != 0,
        F.col("__smax").cast("double")
        / (F.col("__nn") * F.abs(F.col("__t_tot"))).cast("double"),
    )
    return (
        per_key.join(F.broadcast(at_max), keys)
        .filter(F.col("n_buckets") >= F.lit(int(min_buckets)))
        .select(
            *keys,
            "n_buckets",
            "cp_bucket",
            F.col("__smax").cast("string").alias("s_abs_max"),
            F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("cusum_e6"),
        )
    )


def ts_forecast(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: list[str] | None = None,
    bucket: str = "hour",
    period: int = 24,
    horizons: int = 12,
    value_decimals: int = 2,
) -> DataFrame:
    """Seasonal-naive-with-drift forecast — the FORECAST member of the
    time-series family (:func:`ts_anomaly` scores the past,
    :func:`ts_changepoint` locates shifts; this extrapolates forward).
    Method (Hyndman & Athanasopoulos, "Forecasting: Principles and
    Practice", §5.2 public material — the two benchmark methods
    composed): for horizon h, the seasonal-naive base is the observed
    bucket one whole season back from the forecast time
    (y(T + h − p·⌈h/p⌉)) and the drift term adds h · (y(T) − y(t₀)) /
    (n − 1), the line through the key's first and last observed
    buckets (0 when the key has a single bucket). Horizons whose
    seasonal source bucket was never observed are NOT emitted — no
    forecast exists, same honesty contract as ts_anomaly's unscored
    buckets.

    Cross-engine determinism (the ts_anomaly discipline): bucket sums
    accumulate as exact decimal(38, value_decimals) integers; the
    seasonal source is a timestamp EQUI-join on exact interval
    arithmetic; the emitted forecast is e6-floored from an expression
    tree replayed verbatim by the oracle (two divisions + one
    multiply-add on exact operands).

    Returns (key..., horizon, forecast_ts, forecast_e6).

    Scale shape (100 TB): ONE hash aggregate compresses raw events to
    the |keys|·|buckets| grid; per-key anchors are one aggregate +
    two equi-joins on that grid; horizons explode map-side (literal
    sequence, no join); the seasonal lookup is one equi-join on the
    grid. Nothing touches raw events twice, no windows, no driver
    collects."""
    if bucket not in ("hour", "day"):
        raise ValueError(f"bucket must be 'hour' or 'day', got {bucket!r}")
    if horizons < 1:
        raise ValueError(f"horizons must be >= 1, got {horizons}")
    from pyspark import StorageLevel

    from spatially_databricks_etl_spark.caching import register_persists

    keys = list(key_cols) if key_cols else ["event_type"]
    scale = 10**value_decimals
    grid = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(
            *[F.col(k) for k in keys],
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col(value_col).cast("double") * F.lit(float(scale))
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("__ys")
        )
        # the grid has FOUR consumers (per-key stats, the two anchor
        # joins, the seasonal-source join) — persist the compressed
        # |keys|·|buckets| frame so the raw events really are scanned
        # ONCE (release via caching.release_intermediates)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    st = grid.groupBy(*keys).agg(
        F.min("bucket").alias("__b0"),
        F.max("bucket").alias("__b1"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    yf = grid.select(
        *[F.col(k).alias(f"__fk_{k}") for k in keys],
        F.col("bucket").alias("__fb"),
        F.col("__ys").alias("__ys_first"),
    )
    yl = grid.select(
        *[F.col(k).alias(f"__lk_{k}") for k in keys],
        F.col("bucket").alias("__lb"),
        F.col("__ys").alias("__ys_last"),
    )
    cf = F.col("__fb") == F.col("__b0")
    cl = F.col("__lb") == F.col("__b1")
    for k in keys:
        cf = cf & (F.col(f"__fk_{k}") == F.col(k))
        cl = cl & (F.col(f"__lk_{k}") == F.col(k))
    anchors = st.join(yf, cf).join(yl, cl)
    fan = anchors.select(
        *keys,
        "__b1",
        "__n",
        "__ys_first",
        "__ys_last",
        F.explode(F.sequence(F.lit(1), F.lit(int(horizons)))).alias("horizon"),
    )
    # seasonal source offset: h − p·⌈h/p⌉ buckets back from the last
    # observed bucket (≤ 0 — always inside the observed range)
    off = (
        F.col("horizon")
        - F.lit(int(period))
        * F.ceil(F.col("horizon") / F.lit(float(period))).cast("int")
    ).cast("int")
    if bucket == "hour":
        fts = F.col("__b1") + F.make_interval(hours=F.col("horizon"))
        sts = F.col("__b1") + F.make_interval(hours=off)
    else:
        fts = F.col("__b1") + F.make_interval(days=F.col("horizon"))
        sts = F.col("__b1") + F.make_interval(days=off)
    fan = fan.select(
        *keys,
        "horizon",
        fts.alias("forecast_ts"),
        sts.alias("__src_bucket"),
        "__n",
        "__ys_first",
        "__ys_last",
    )
    src = grid.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        F.col("bucket").alias("__sb"),
        F.col("__ys").alias("__ys_src"),
    )
    cs = F.col("__sb") == F.col("__src_bucket")
    for k in keys:
        cs = cs & (F.col(f"__sk_{k}") == F.col(k))
    joined = fan.join(src, cs)
    slope = F.when(
        F.col("__n") > 1,
        (
            (F.col("__ys_last") - F.col("__ys_first")).cast("double")
            / F.lit(float(scale))
        )
        / (F.col("__n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    forecast = (
        F.col("__ys_src").cast("double") / F.lit(float(scale))
        + F.col("horizon").cast("double") * slope
    )
    out = joined.select(
        *keys,
        F.col("horizon").cast("long").alias("horizon"),
        "forecast_ts",
        F.floor(forecast * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("forecast_e6"),
    )
    return register_persists(out, [grid])
