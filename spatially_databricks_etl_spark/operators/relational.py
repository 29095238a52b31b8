"""Relational operators beyond the reference's surface (SURVEY.md §2b
gap table — the reference has no joins/aggs/windows/sorts at all).

Everything is declarative DataFrame composition: Catalyst picks
broadcast-hash vs sort-merge, AQE re-plans at runtime. The helpers
encode the *scale decisions* (broadcast hints, salting, as-of via
window instead of cross join) that a 100 TB deployment needs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.sources.arrow import arrow_frame


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives with fewer partitions (e.g. one small file → one
    partition, serializing any expensive per-row compute that
    follows). No-op when the input is already wide enough — at real
    scale scans arrive with thousands of splits and this never fires.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, *key_cols) if key_cols else df.repartition(par)
    return df


def broadcast_join(
    big: DataFrame, small: DataFrame, on: Sequence[str] | Column, how: str = "inner"
) -> DataFrame:
    """Equi-join with an explicit broadcast hint on the small side —
    dimension-table joins must never shuffle the fact table's 100 TB;
    broadcasting a <few-hundred-MB dim makes the join map-side."""
    return big.join(F.broadcast(small), on=on, how=how)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    *,
    key_cols: Sequence[str],
    broadcast_source: bool = True,
) -> DataFrame:
    """MERGE-style upsert as a batch relation: every source row wins
    over a target row with the same key (WHEN MATCHED THEN UPDATE SET
    *), unmatched source rows are appended (WHEN NOT MATCHED THEN
    INSERT *). Returns the merged DataFrame; pair with a sink writer
    for the reference's overwrite-table pattern (`Spatially ETL
    test.py:230-231` — its only write mode is full overwrite; this is
    the incremental version a daily 100 TB pipeline actually needs).

    Shape: LEFT ANTI join of target against the source KEYS, then
    unionByName with the source. Versus the full-outer-join +
    coalesce-every-column alternative this touches each target column
    once, and the anti-join probe side is just the source's key
    columns — broadcastable whenever the delta batch is small
    (the common case: a day's updates vs years of accumulated fact),
    making the whole merge a map-side pass over the target plus an
    append. Set ``broadcast_source=False`` when the delta itself is
    huge; Catalyst then falls back to a shuffled join on the keys.

    Contract (as SQL MERGE): ``source`` must be key-unique — duplicate
    source keys all survive into the output verbatim (the anti-join
    drops the target row either way); dedupe upstream if the delta
    can carry multiple versions of one key.
    """
    keys = source.select(*key_cols).dropDuplicates(list(key_cols))
    if broadcast_source:
        keys = F.broadcast(keys)
    untouched = target.join(keys, on=list(key_cols), how="left_anti")
    return untouched.unionByName(source)


def salted_join(
    big: DataFrame,
    skewed: DataFrame,
    key: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side's hot keys into
    ``salt_buckets`` sub-keys and explode the other side to match.
    Use when AQE skew-join isn't enough (e.g. one key ≫ others).
    Output columns = big ∪ skewed minus the helper salt columns.
    """
    big_s = big.withColumn("__salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets)))
    skewed_s = skewed.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = big_s.join(skewed_s, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy(...).limit(k)``. Spark plans this as
    TakeOrderedAndProject — per-partition heap + driver merge of k
    rows, no global sort. Always pass a unique tiebreaker column for
    determinism."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k per group via ``row_number() <= k`` — one shuffle on the
    group key; AQE handles group-size skew. Keeps the rank column."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    equi: Sequence[tuple[str, str]] = (),
    lower: tuple[str, str] | None = None,
    upper: tuple[str, str] | None = None,
) -> DataFrame:
    """Equi + range join: ``left.a = right.b AND right.lo <= left.x <
    right.hi``. With at least one equi key this is a normal hash/SMJ
    join with the range as a post-filter — scale-safe. Pure-range
    joins (no equi key) become BroadcastNestedLoop: only allow when
    one side is broadcastable."""
    conds: list[Column] = [left[a] == right[b] for a, b in equi]
    if lower is not None:
        conds.append(left[lower[0]] >= right[lower[1]])
    if upper is not None:
        conds.append(left[upper[0]] < right[upper[1]])
    if not conds:
        raise ValueError("range_join needs at least one condition")
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return left.join(right, on=cond)


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float | None = None,
    equi: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Scale path for the PURE range join (``lo <= point < hi`` with
    no equi key), which Spark would otherwise plan as a
    BroadcastNestedLoopJoin — O(|points|·|intervals|) comparisons and
    a hard broadcast-size ceiling. The standard range-bin rewrite
    (the optimization DuckDB and Databricks' range-join hint apply):
    every point maps to exactly ONE ``bin_width`` bin, every interval
    explodes to the bins it overlaps, the join becomes an EQUI join
    on the bin id (one hash shuffle, spillable, skew-handled by AQE),
    and the exact predicate runs as a post-filter. A matching pair
    meets only in the point's own bin, so no dedup is needed.

    ``bin_width`` is the knob: fanout per interval is
    ~len/bin_width + 1 rows, while selectivity of the post-filter
    improves as bins shrink. Set it near the TYPICAL interval length
    so most intervals explode to 1-2 bins; a pathological giant
    interval degrades gracefully into many narrow bin rows (rows,
    not a cross product). When omitted (None), the width is derived
    as the MEDIAN interval length (one ``percentile_approx``
    aggregate over the interval frame — a single cheap pre-pass):
    the median pins per-interval fanout to ~2 bins for at least half
    the intervals and bounds expected fanout by
    E[len]/median + 1, while outlier-giant intervals still degrade
    into rows, not products. Composes with ``equi`` keys when
    present. Returns the joined frame with both sides' columns.
    """
    if bin_width is None:
        row = intervals.agg(
            F.percentile_approx(
                F.col(hi_col).cast("double") - F.col(lo_col).cast("double"), 0.5
            ).alias("__w")
        ).first()
        bin_width = row["__w"] if row and row["__w"] else None
        if not bin_width or bin_width <= 0:
            # empty interval frame or degenerate (all zero-length)
            # intervals: any positive width is correct (zero-length
            # intervals match nothing under lo <= p < hi)
            bin_width = 1.0
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    w = F.lit(float(bin_width))
    p = points.withColumn("__bin", F.floor(F.col(point_col) / w))
    # sequence() includes floor(hi/w) even when hi is exactly on a bin
    # edge (hi is exclusive) — the extra bin row is dropped by the
    # exact post-filter, costing one row instead of a special case.
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    )
    on = [p["__bin"] == iv["__bin"]] + [p[a] == iv[b] for a, b in equi]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    return (
        p.join(iv, on=cond)
        .filter(
            (p[point_col] >= iv[lo_col]) & (p[point_col] < iv[hi_col])
        )
        .drop("__bin")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    direction: str = "backward",
    tolerance: "float | int | None" = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    the same key at-or-before (``backward``) / earliest at-or-after
    (``forward``) its timestamp.

    Implementation: union both sides tagged, single window sort per
    key carrying the right side's values via ``last(ignorenulls)``
    (backward) or first-over-following (forward), then keep left rows.
    One shuffle on the key — no range explosion, no per-row lookup;
    this is the scalable pattern (vs. a range join that would fan out
    or a Python loop that would not distribute).

    ``tolerance`` (staleness bound — the sensor/feature-lookup cutoff):
    the matched annotations null out when the matched right TIME is
    farther than ``tolerance`` from the left time (SECONDS for
    timestamp keys, the columns' own units for numeric keys; exact
    matches always allowed). This rides the same window plan as a
    post-fold conditional — zero extra shuffles — because a bounded
    backward/forward match IS the unbounded match when recent enough.
    The gate tests the matched right time as picked by the same
    last-non-null fold as the values.

    ``direction="nearest"``: the closer of the backward and forward
    candidates by absolute distance, equidistant ties resolving
    BACKWARD (the merge_asof contract, pinned against the cogroup
    path by test). Costs one extra window fold over the SAME key
    partitioning — still ONE shuffle, two sorts. Caveat: among
    duplicate right TIMES the payload choice is tie-nondeterministic
    (a distributed frame has no input order); the matched time is
    deterministic. Use ``udfs.asof_join_cogroup`` when input-order
    tie rules (or per-group pandas merge logic) matter.

    Null left times emit null annotations in every direction (the
    forward/desc sort would otherwise order null-time rows after
    every right row and silently annotate them — guarded explicitly).
    """
    # the matched right TIME rides along only when something consumes
    # it (tolerance gate / nearest argmin) — the plain directional
    # forms keep their original shuffle width
    needs_rt = tolerance is not None or direction == "nearest"
    rt_l = (
        [F.lit(None).cast(right.schema[right_time].dataType).alias("__rv__rt")]
        if needs_rt
        else []
    )
    rt_r = [F.col(right_time).alias("__rv__rt")] if needs_rt else []
    tag_l = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__rv_{c}") for c in right_values],
        *rt_l,
    )
    tag_r = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(tag_l.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__rv_{c}") for c in right_values],
        *rt_r,
    )
    unioned = tag_l.unionByName(tag_r)
    # right rows sort before left rows at equal time → at-or-before /
    # at-or-after both include exact matches
    w_b = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_f = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").desc(), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def fold(col: str, w) -> Column:
        return F.last(F.col(col), ignorenulls=True).over(w)

    if direction in ("backward", "forward"):
        w = w_b if direction == "backward" else w_f
        vals = {c: fold(f"__rv_{c}", w) for c in right_values}
        chosen_rt = fold("__rv__rt", w)
    elif direction == "nearest":
        # two folds over the SAME key partitioning (one Exchange, two
        # sorts): the closer candidate wins; an equidistant tie
        # resolves BACKWARD (the cogroup/merge_asof contract). Among
        # duplicate right TIMES the window form's payload choice is
        # tie-nondeterministic (a distributed frame has no input
        # order) — the matched time itself is deterministic; use
        # udfs.asof_join_cogroup when input-order tie rules matter.
        rt_b, rt_f = fold("__rv__rt", w_b), fold("__rv__rt", w_f)
        use_b = rt_b.isNotNull() & (
            rt_f.isNull() | ((F.col("__t") - rt_b) <= (rt_f - F.col("__t")))
        )
        vals = {
            c: F.when(use_b, fold(f"__rv_{c}", w_b)).otherwise(
                fold(f"__rv_{c}", w_f)
            )
            for c in right_values
        }
        chosen_rt = F.when(use_b, rt_b).otherwise(rt_f)
    else:
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}"
        )

    # a null left time orders nowhere → null annotations (without this
    # guard the forward/desc sort put null-time left rows AFTER every
    # right row and silently annotated them)
    ok = F.col("__t").isNotNull()
    if tolerance is not None:
        if not tolerance > 0:
            raise ValueError(f"tolerance must be positive, got {tolerance!r}")
        from pyspark.sql.types import TimestampNTZType, TimestampType

        is_ts = isinstance(
            right.schema[right_time].dataType, (TimestampType, TimestampNTZType)
        )
        bound = (
            F.expr(f"INTERVAL '{float(tolerance)}' SECOND")
            if is_ts
            else F.lit(tolerance)
        )
        ok = (
            ok
            & chosen_rt.isNotNull()
            & (chosen_rt >= F.col("__t") - bound)
            & (chosen_rt <= F.col("__t") + bound)
        )
    gated = [
        F.when(ok, vals[c]).otherwise(F.lit(None)).alias(c) for c in right_values
    ]
    out = unioned.select("__is_left", "__lrow", *gated).filter(
        F.col("__is_left") == 1
    )
    return out.select("__lrow.*", *right_values)


def hierarchical_time_rollup(
    df: DataFrame,
    time_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    levels: Sequence[str] = ("minute", "hour", "day"),
) -> DataFrame:
    """Hypertable-style cascading time rollup: minute → hour → day,
    where each coarser level aggregates the FINER LEVEL'S OUTPUT, not
    the raw rows.

    Scale rationale: raw data is touched exactly once (the finest
    bucket); every coarser level re-aggregates rows already reduced by
    orders of magnitude — at 100 TB the hour/day passes are ~1/60 and
    ~1/1440 of the base cost and can be materialized incrementally
    (the continuous-aggregate pattern). Only decomposable aggregates
    cascade (sum/count/min/max here; avg = sum/count at read time —
    never cascade avg directly).

    Returns (level, bucket_start, <key>, n_events, sum_value,
    max_value), one row-set per level, unioned.
    """
    cur = df.groupBy(
        F.date_trunc(levels[0], F.col(time_col)).alias("bucket_start"), F.col(key_col)
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(value_col).alias("sum_value"),
        F.max(value_col).alias("max_value"),
    )
    out = cur.withColumn("level", F.lit(levels[0]))
    for lvl in levels[1:]:
        cur = cur.groupBy(
            F.date_trunc(lvl, F.col("bucket_start")).alias("bucket_start"), F.col(key_col)
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.max("max_value").alias("max_value"),
        )
        out = out.unionByName(cur.withColumn("level", F.lit(lvl)))
    return out.select("level", "bucket_start", key_col, "n_events", "sum_value", "max_value")


def resample_ffill(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    unit: str = "day",
) -> DataFrame:
    """Time-series resample + forward fill: bucket each key's values
    to a regular ``unit`` grid (mean per bucket), materialize every
    bucket between the key's first and last observation, and carry the
    last observed value across gaps. Emits (key, bucket, filled_value,
    is_gap). The standard conforming step before any equi-spaced
    time-series model; no reference analog (it keeps years as ints,
    `Spatially ETL test.py:170-171`).

    Scale shape: the grid is built per key with ``sequence`` + explode
    (rows generated ∝ key's own span — no global calendar cross
    join), and the fill is one ``last(ignorenulls)`` running window
    per key. Grids of high-cardinality key sets parallelize across
    the key hash; a single key's multi-year daily grid is only ~10³
    rows, so no straggler risk.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    step = F.expr(f"interval 1 {unit}")
    per_bucket = (
        df.select(F.col(key_col), bucket.alias("bucket"), F.col(value_col))
        .groupBy(key_col, "bucket")
        # mean via exact decimal sum + one double division: fp sums are
        # order-dependent across engines/partitionings, and a 2-ulp
        # drift flips downstream rounding; the decimal sum is exact and
        # associative, so the mean is bit-reproducible anywhere
        .agg(
            (
                F.sum(F.col(value_col).cast("decimal(24,6)")).cast("double")
                / F.count(value_col)
            ).alias("v")
        )
    )
    grid = (
        per_bucket.groupBy(key_col)
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select(
            key_col,
            F.explode(F.sequence("mn", "mx", step)).alias("bucket"),
        )
    )
    joined = grid.join(per_bucket, on=[key_col, "bucket"], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        "bucket",
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("v").isNull().alias("is_gap"),
    )


def resample_interpolate(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    unit: str = "day",
) -> DataFrame:
    """Time-series resample + LINEAR interpolation: like
    :func:`resample_ffill` (same per-key grid, same reproducible
    bucket means) but gaps fill with the straight line between the
    surrounding observations instead of a step function — the
    conforming step for signals where a hold-last fill biases
    downstream models (sensor drift, prices between trades). Grid
    endpoints are always observed buckets, so every gap is interior
    and has both neighbors. Emits (key, bucket, filled_value, is_gap).

    Scale shape identical to ffill: the interpolation needs only FOUR
    running-window functions over ONE (key, bucket) sort — last/first
    value and last/first observed bucket on either side — no
    self-join on a time band, no per-gap subquery; Catalyst computes
    all four frames in a single Window operator pass.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    step = F.expr(f"interval 1 {unit}")
    per_bucket = (
        df.select(F.col(key_col), bucket.alias("bucket"), F.col(value_col))
        .groupBy(key_col, "bucket")
        .agg(
            (
                F.sum(F.col(value_col).cast("decimal(24,6)")).cast("double")
                / F.count(value_col)
            ).alias("v")
        )
    )
    grid = (
        per_bucket.groupBy(key_col)
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select(
            key_col,
            F.explode(F.sequence("mn", "mx", step)).alias("bucket"),
        )
    )
    joined = grid.join(per_bucket, on=[key_col, "bucket"], how="left")
    w_back = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("v").isNotNull(), F.col("bucket"))
    prev_v = F.last("v", ignorenulls=True).over(w_back)
    next_v = F.first("v", ignorenulls=True).over(w_fwd)
    prev_t = F.last(obs_bucket, ignorenulls=True).over(w_back)
    next_t = F.first(obs_bucket, ignorenulls=True).over(w_fwd)
    # fraction of the gap covered, in epoch seconds — unit-agnostic
    span = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
    frac = (F.unix_timestamp("bucket") - F.unix_timestamp(prev_t)) / span
    interp = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        prev_v + (next_v - prev_v) * frac
    )
    return joined.select(
        key_col,
        "bucket",
        interp.alias("filled_value"),
        F.col("v").isNull().alias("is_gap"),
    )


def scd2_from_changelog(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change log: collapse
    consecutive rows with the same ``attr_col`` value, then build
    versioned validity intervals — (key, attr, valid_from, valid_to,
    is_current) with ``valid_to`` null on the open current version.
    The incremental-dimension pattern the reference's full-overwrite
    write (`Spatially ETL test.py:230-231`) cannot express.

    Pure window algebra over one hash partition by key: change
    detection is ``lag``, interval close is ``lead`` — two passes over
    the same sort order, so Catalyst plans a single Exchange + Sort.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order])
    changes = (
        df.select(key_col, attr_col, *order)
        .withColumn("prev", F.lag(attr_col).over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col(attr_col)))
    )
    w2 = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order])
    return changes.select(
        key_col,
        attr_col,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def funnel_reached(
    events: DataFrame,
    steps: Sequence[str],
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Funnel / ordered-sequence analysis: per key, how many of
    ``steps`` were completed IN ORDER over the key's event-time
    history (the MATCH_RECOGNIZE-style workload; no reference
    analog). Returns (key, reached) with reached in [0, len(steps)].

    Shape: one shuffle groups each key's events; the in-order scan is
    a codegen'd ``aggregate`` fold over the sorted struct array — no
    UDF, no self-join cascade (a k-step funnel as k self-joins would
    be k shuffles and blow up on hot keys). Per-key sequences must fit
    in a task (events-per-user, not corpus size); for multi-million-
    event keys, pre-filter to the funnel's event types first — the
    fold only needs those.
    """
    step_arr = F.array(*[F.lit(s) for s in steps])
    seq = (
        events.filter(F.col(type_col).isin(list(steps)))
        .select(
            F.col(key_col),
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(tiebreak_col).alias("tb"),
                F.col(type_col).alias("et"),
            ).alias("e"),
        )
        .groupBy(key_col)
        .agg(F.sort_array(F.collect_list("e")).alias("seq"))
    )
    reached = F.aggregate(
        "seq",
        F.lit(0),
        lambda acc, x: F.when(
            (acc < F.size(step_arr))
            & (x["et"] == F.element_at(step_arr, acc + 1)),
            acc + 1,
        ).otherwise(acc),
    )
    return seq.select(key_col, reached.cast("long").alias("reached"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    *,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``) — the standard
    training-data rebalancing op (e.g. downsample the dominant
    language). One narrow pass, no shuffle: each row flips a seeded
    coin keyed by its stratum. Exact output is seed- and
    partitioning-dependent, so correctness is checked by property
    (per-stratum rates within tolerance), not by oracle."""
    return df.sampleBy(strata_col, fractions=fractions, seed=seed)


def bloom_build(
    keys: DataFrame, key: str, *, num_bits: int = 1 << 20, num_hashes: int = 5
) -> DataFrame:
    """Build a Bloom filter over ``keys[key]`` as a ONE-ROW DataFrame
    with column ``bf: array<long>`` (``num_bits / 64`` words, index =
    bit-position div 64). Pure DataFrame composition — the same
    shape Spark's adaptive runtime bloom filters use internally
    (public design: SPARK-32268 InjectRuntimeFilter), exposed as an
    explicit operator so the filter can be inspected, persisted, and
    reused across queries (PySpark exposes no ``stat.bloomFilter`` and
    ``bloom_filter_agg`` is not in the public function registry).

    Plan shape (scale analysis): one scan of the build side projecting
    ONLY the key → k=``num_hashes`` positions per key (seeded
    xxhash64, explode) → ``bit_or`` word aggregate on the bit-chunk id
    (one shuffle of (chunk, word) longs, map-side combined, at most
    ``num_bits/64`` groups) → union with the zero words and a final
    single-row densify (sorted collect_list is bounded: exactly
    ``num_bits/64`` longs ≈ ``num_bits/8`` bytes, independent of build
    cardinality — THE property that makes the filter broadcastable
    when the build side itself is far too big to broadcast exactly).

    False-positive rate ≈ (1 − e^(−k·n/m))^k for n distinct keys;
    defaults (m=2²⁰ bits, k=5) give ~2.2% at n=100k. No false
    negatives ever. NULL keys hash like any constant and never match
    an equi-join anyway; a downstream exact join keeps results exact
    regardless of fp hits.
    """
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits ({num_bits}) must be a positive multiple of 64")
    if num_hashes < 1:
        raise ValueError(f"num_hashes ({num_hashes}) must be >= 1")
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(num_bits))
                    for i in range(num_hashes)
                ]
            )
        ).alias("__pos")
    )
    sparse = (
        positions.select(
            F.shiftright("__pos", 6).alias("__chunk"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias(
                "__mask"
            ),
        )
        .groupBy("__chunk")
        .agg(F.bit_or("__mask").alias("__word"))
    )
    zeros = (
        keys.sparkSession.range(num_bits // 64)
        .select(F.col("id").alias("__chunk"))
        .withColumn("__word", F.lit(0).cast("long"))
    )
    dense = (
        sparse.unionByName(zeros)
        .groupBy("__chunk")
        .agg(F.bit_or("__word").alias("__word"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__chunk", "__word"))),
            lambda s: s.getField("__word"),
        ).alias("bf")
    )


def bloom_prune(
    fact: DataFrame,
    bloom: DataFrame,
    key: str,
    *,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Drop ``fact`` rows whose ``key`` is definitely absent from the
    Bloom filter built by :func:`bloom_build` (same num_bits and
    num_hashes REQUIRED — the positions must replay identically).

    The one-row bitmap broadcasts (a few MB regardless of build-side
    cardinality); membership is k O(1) word lookups
    (``get(bf, pos div 64) & (1 << pos % 64)``) per fact row — a
    narrow, codegen'd map pass. The fact side is never shuffled to be
    pruned; only surviving rows reach any downstream exchange. May
    keep false positives (rate set by the build parameters), never
    drops a true match.
    """
    out = fact.crossJoin(F.broadcast(bloom.select(F.col("bf").alias("__bf"))))
    for i in range(num_hashes):
        out = out.withColumn(
            "__pos", F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(num_bits))
        ).filter(
            F.expr(
                "(get(__bf, CAST(shiftright(__pos, 6) AS INT))"
                " & shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))) != 0"
            )
        )
    return out.drop("__bf", "__pos")


def bloom_prune_join(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """EXACT inner equi-join with a Bloom pre-prune on the fact side:
    build the filter from the dim keys, prune the fact scan down to
    (matches + a small fp fraction), then run the normal equi-join.

    When the dim side is selective but too large to broadcast exactly,
    this is the difference between shuffling the full 100 TB fact
    table and shuffling only the matching slice — the explicit,
    reusable form of a runtime row filter. The final join verifies
    every survivor, so the result is exactly the plain join's.
    """
    bloom = bloom_build(dim.select(dim_key), dim_key, num_bits=num_bits, num_hashes=num_hashes)
    pruned = bloom_prune(fact, bloom, fact_key, num_bits=num_bits, num_hashes=num_hashes)
    return pruned.join(dim, on=pruned[fact_key] == dim[dim_key], how="inner")


def sessionize(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 21600,
    order_cols: Sequence[str] = (),
    out_col: str = "session_id",
) -> DataFrame:
    """Gap-based batch sessionization: assign every row a per-key
    session id, where a new session starts whenever the gap to the
    key's previous event exceeds ``gap_seconds``. The batch analog of
    ``F.session_window`` (streaming/windows.py) with an explicit,
    joinable integer id per session instead of a time interval —
    the shape feature pipelines need to aggregate arbitrary
    per-session features afterwards. No reference analog (the
    reference has no window functions at all).

    ``order_cols`` breaks timestamp ties deterministically (pass the
    event's unique id).

    Scale shape: ONE Exchange (hash on ``key_col``); the lag
    change-detect and the running sum that numbers the sessions share
    the same partition-by-key sort, so the whole operator is a single
    shuffle + single sort regardless of input size — never a self-join
    or a per-session subquery. Skewed keys are bounded by the busiest
    single key's row count (same bound as any per-entity window).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | ((F.col(ts_col).cast("long") - prev_ts.cast("long")) > gap_seconds),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, running.cast("long"))


def cdc_apply(
    changelog: DataFrame,
    *,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a change-data-capture log (insert/update/delete rows with
    a per-key ordering column) to produce the final table state: the
    latest change per key wins; keys whose latest change is a delete
    disappear. The read-side half of the MERGE pattern
    (``merge_upsert`` handles upserts against an existing snapshot;
    this collapses a raw changelog into a snapshot). The reference's
    only write mode is full overwrite (`Spatially ETL
    test.py:230-231`); a daily 100 TB ingest replays the day's
    changelog instead of rewriting the table.

    Scale shape: one Exchange (hash on the key), one partition sort,
    ``row_number = 1`` keeps the newest change — never a per-key
    MAX-subquery join (two shuffles) or a driver-side replay. AQE
    handles hot keys; the output is strictly smaller than the log.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    return (
        changelog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .filter(F.col(op_col) != delete_op)
    )


# Measure-merge functions for partial-aggregate frames: count partials
# re-merge by summing.
_MERGE_FNS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def partial_aggregate(
    df: DataFrame, *, keys: Sequence[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Reduce raw rows to a partial-aggregate frame: one row per key
    group carrying decomposable measure columns. ``measures`` maps
    output column → (source column or '*', agg in sum|count|min|max).
    Pair with :func:`merge_aggregate`; non-decomposable results (avg)
    are derived at read time as sum/count.
    """
    aggs = []
    for out, (src, how) in measures.items():
        if how == "count":
            aggs.append(F.count("*" if src == "*" else src).alias(out))
        else:
            aggs.append(_MERGE_FNS[how](src).alias(out))
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregate(
    prior: DataFrame,
    delta: DataFrame,
    *,
    keys: Sequence[str],
    merges: dict[str, str],
) -> DataFrame:
    """Incremental materialized-view maintenance: merge a PRIOR
    partial-aggregate frame (yesterday's rollup) with a DELTA partial
    frame (today's partition, reduced by :func:`partial_aggregate`)
    without touching prior raw data. ``merges`` maps measure column →
    its merge function (count partials merge with sum).

    This is the continuous-aggregate pattern: at 100 TB the prior
    frame is orders of magnitude smaller than its raw history, so a
    daily refresh scans ONLY the new partition plus the rollup —
    union + one re-aggregation shuffle on the (already tiny) partial
    frames. Equivalence to the full recompute holds exactly for
    decomposable measures (oracle-checked by the
    ``incremental_rollup`` catalog query).
    """
    combined = prior.unionByName(delta)
    return combined.groupBy(*keys).agg(
        *[_MERGE_FNS[how](col).alias(col) for col, how in merges.items()]
    )


def rolling_features(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_rows: int = 7,
    order_cols: Sequence[str] = (),
    prefix: str = "roll_",
) -> DataFrame:
    """Per-key trailing-window features (avg/min/max/count over the
    last ``window_rows`` observations including the current one) — the
    standard leakage-free feature-engineering shape: every row sees
    only its own past. ``order_cols`` breaks timestamp ties
    deterministically.

    Scale shape: one Exchange (hash on key) + one partition sort
    shared by every frame; the trailing frame is O(window_rows) state
    per row inside the window operator — never a self-join on a time
    band (shuffle per feature) and never a per-row subquery.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return (
        df.withColumn(f"{prefix}avg", F.avg(value_col).over(w))
        .withColumn(f"{prefix}min", F.min(value_col).over(w))
        .withColumn(f"{prefix}max", F.max(value_col).over(w))
        .withColumn(f"{prefix}n", F.count(value_col).over(w).cast("long"))
    )


def ewma(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-key exponentially weighted moving average at each key's
    LAST observation: s_1 = x_1, s_t = alpha*x_t + (1-alpha)*s_{t-1},
    returned via its closed form
    s_n = (1-alpha)^(n-1)*x_1 + alpha*sum_{i>=2}((1-alpha)^(n-i)*x_i)
    so the whole computation is one window pass (row number + per-key
    count share a sort) and one aggregation — the recursion never
    executes sequentially and nothing iterates on the driver. Returns
    (key, n_rows, ewma).

    Weights underflow harmlessly for long histories ((1-alpha)^k → 0),
    matching the recursion's forgetting; exact equality with a serial
    replay is property-tested.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    wn = Window.partitionBy(key_col)
    decay = F.lit(1.0 - alpha)
    rows = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .withColumn(
            "__w",
            F.pow(decay, F.col("__n") - F.col("__rn"))
            * F.when(F.col("__rn") == 1, F.lit(1.0)).otherwise(F.lit(alpha)),
        )
    )
    return rows.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(value_col) * F.col("__w")).alias("ewma"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    op_col: str = "op",
) -> DataFrame:
    """Diff two table snapshots into a changelog — the inverse of
    :func:`cdc_apply`: emits one row per inserted ('I'), updated
    ('U') or deleted ('D') key, carrying the NEW payload for I/U and
    the OLD payload for D; unchanged keys produce nothing. Applying
    the result to ``old`` reproduces ``new`` exactly (property-tested
    round trip). This is how a pipeline without a transactional sink
    derives an incremental feed from full daily snapshots.

    ``compare_cols`` defaults to every non-key column shared by both
    sides; comparison is null-safe (NULL == NULL is unchanged).

    Scale shape: ONE full-outer sort-merge join hashed on the key —
    the unavoidable shuffle for an unsorted snapshot pair, and
    exactly zero Exchange when both snapshots are written
    ``write_bucketed`` on the key (sinks/layout.py), which is the
    intended pairing for repeated daily diffs at 100 TB.
    """
    keys = list(key_cols)
    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = [c for c in shared if c not in keys]
    cols = keys + list(compare_cols)
    # Prefix-rename each side before joining: the two snapshots often
    # share lineage (same base scan), and attribute references into a
    # self-join are ambiguous — distinct names never are. Presence is
    # tracked with explicit flags (not key nullness), so NULL key
    # values — matched null-safely — still classify correctly.
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in cols], F.lit(True).alias("__in_old")
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in cols], F.lit(True).alias("__in_new")
    )
    cond = [F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}")) for k in keys]
    j = o.join(n, cond, "full_outer")
    in_old = F.col("__in_old").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .otherwise(F.lit("U"))
    )
    out_cols = [op.alias(op_col)]
    for k in keys:
        out_cols.append(F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k))
    for c in compare_cols:
        out_cols.append(
            F.when(in_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
        )
    return j.filter(~in_old | ~in_new | changed).select(*out_cols)


def distributed_row_number(
    df: DataFrame,
    order_cols: Sequence[Column],
    *,
    rank_col: str = "__rank",
) -> DataFrame:
    """Global 0-based row numbers WITHOUT a single-partition window —
    the classic distributed-ranking construction (a plain
    ``row_number() OVER (ORDER BY …)`` funnels the whole frame through
    ONE task, the canonical driver-shaped scale killer):

    1. range-repartition + sort within partitions on ``order_cols``
       (the same machinery as a distributed ORDER BY);
    2. eagerly checkpoint — the frame has two consumers and
       repartitionByRange's boundary sampling is not guaranteed
       byte-stable across separate jobs;
    3. collect the #partitions-row count manifest (bounded metadata)
       into cumulative offsets;
    4. global rank = partition offset + per-partition row_number
       (partition-local window — no cross-partition sort).

    The ``order_cols`` total order must be UNIQUE (add an id
    tiebreak) or ranks within ties are partition-placement-dependent.
    Returns ``df``'s columns plus ``rank_col``."""
    nparts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    ranged = (
        df.repartitionByRange(nparts, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["__pid"], r["n"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    off_df = arrow_frame(
        df.sparkSession, list(offsets.items()), "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, F.col("__off") + F.row_number().over(w) - F.lit(1))
        .drop("__pid", "__off")
    )
