"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference is pure batch (SURVEY.md §2b lists streaming as a gap);
this module supplies the arbitrary-stateful piece of the Structured
Streaming surface: per-key state that survives across micro-batches
with an event-time timeout — the Spark-native replacement for a
hand-rolled stateful engine loop.

Scale notes: state lives in the executor state store (RocksDB/HDFS-
backed in production — set ``spark.sql.streaming.stateStore
.providerClass`` accordingly); keys shuffle once per micro-batch to
their state partition; the pandas function sees one key group per
call with Arrow-batched rows. Watermark-driven timeouts bound state
size — without them a 100 TB keyspace grows unbounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_OUTPUT = "user_id bigint, n_events bigint, sum_value double"
RUNNING_TOTALS_STATE = "n bigint, total double"


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [total]})


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained as explicit
    GroupState across micro-batches — the canonical custom-stateful
    shape (counters, sessionization, CDC merge all follow it).

    Streaming input → ``applyInPandasWithState`` (update mode,
    processing-time timeout); batch input → the semantically identical
    ``groupBy().agg()`` (a batch frame has exactly one "micro-batch",
    so running totals equal final totals)."""
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_TOTALS_OUTPUT,
            stateStructType=RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# Dynamic-partition overwrite (`partitionOverwriteMode=dynamic`) is a
# built-in *file-source* feature. A format that silently ignores the
# per-write option (older Delta, JDBC, arbitrary V2 sinks) would turn
# every micro-batch into a FULL-SINK truncate under mode("overwrite") —
# strictly worse than the duplicate-on-replay bug this writer exists to
# fix — so unsupported formats are rejected loudly instead.
_DYNAMIC_OVERWRITE_SAFE_FORMATS = frozenset({"parquet", "orc", "csv", "json", "text"})


def foreach_batch_writer(path: str, fmt: str = "parquet"):
    """``foreachBatch`` sink: apply an arbitrary BATCH writer to each
    micro-batch (the escape hatch for sinks without native streaming
    support — JDBC, MERGE INTO, multi-table fan-out).

    Idempotence contract, made real: the output is partitioned by
    ``__batch_id`` and written with dynamic-partition OVERWRITE, so a
    replayed micro-batch (same batch_id after a failure/restart)
    replaces its own partition instead of appending a duplicate copy.
    Partitions of other batch_ids are untouched (dynamic mode
    overwrites only partitions present in this write). This is the
    parquet-sink equivalent of a Delta ``MERGE`` keyed on batch_id.

    ``fmt`` is restricted to built-in file sources, the only writers
    that honor per-write ``partitionOverwriteMode``. For Delta use
    ``txnAppId``/``txnVersion`` or ``replaceWhere``; JDBC and other V2
    sinks need their own keyed-upsert writer.
    """
    if fmt not in _DYNAMIC_OVERWRITE_SAFE_FORMATS:
        raise ValueError(
            f"foreach_batch_writer: format {fmt!r} does not honor dynamic "
            f"partition overwrite (safe: {sorted(_DYNAMIC_OVERWRITE_SAFE_FORMATS)}); "
            "a replay would truncate the whole sink. Use a keyed-upsert "
            "writer (Delta txnAppId/txnVersion, replaceWhere, or MERGE) instead."
        )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .format(fmt)
            .save(path)
        )

    return write


def incremental_rollup_sink(
    path: str,
    *,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    fmt: str = "parquet",
):
    """``foreachBatch`` sink composing :func:`partial_aggregate` with
    the idempotent batch writer: each micro-batch is reduced to a
    PARTIAL aggregate (one row per key group, decomposable measures)
    and landed as its own ``__batch_id`` partition under dynamic-
    partition overwrite. A replayed micro-batch (same batch_id after
    failure recovery — Spark's checkpoint guarantees identical batch
    content) overwrites its own partial instead of double-counting,
    so the rollup stays exactly-once.

    Scale shape: the sink stores one key-group-sized partial per
    micro-batch, never raw events — at 100 TB the serving rollup is
    a merge-on-read over tiny partials (:func:`read_merged_rollup`),
    or a periodic compaction via
    ``operators.relational.merge_aggregate``. This is the streaming
    half of the continuous-aggregate pattern the batch
    ``incremental_rollup`` catalog query oracles.
    """
    from spatially_databricks_etl_spark.operators.relational import partial_aggregate

    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        base(partial_aggregate(batch_df, keys=keys, measures=measures), batch_id)

    return write


def read_merged_rollup(
    spark,
    path: str,
    *,
    keys: list[str],
    merges: dict[str, str],
    fmt: str = "parquet",
):
    """Merge-on-read of an :func:`incremental_rollup_sink` store:
    fold every per-batch partial into the current rollup with
    :func:`operators.relational.merge_aggregate` (prior = all earlier
    batches' partials, delta = the newest batch — the merge functions
    are associative and commutative, so the split is presentational).
    One groupBy over frames that are key-group-sized, not
    event-sized."""
    from spatially_databricks_etl_spark.operators.relational import merge_aggregate

    parts = spark.read.format(fmt).load(path)
    # max batch id is bounded metadata (one scalar), not data
    newest = parts.agg(F.max("__batch_id")).first()[0]
    prior = parts.filter(F.col("__batch_id") < newest).drop("__batch_id")
    delta = parts.filter(F.col("__batch_id") == newest).drop("__batch_id")
    return merge_aggregate(prior, delta, keys=keys, merges=merges)


USER_FEATURES_OUTPUT = (
    "user_id bigint, n_events bigint, sum_value double, "
    "max_value double, min_value double"
)


class _UserFeaturesProcessor:
    """StatefulProcessor maintaining per-user feature state (count,
    sum, max, min) with a single ValueState row — the Spark 4
    ``transformWithStateInPandas`` successor to the
    ``applyInPandasWithState`` pattern above (typed state handles,
    optional TTL, timers). Imported lazily so the module stays
    importable on Spark < 4."""

    def __new__(cls):
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class Impl(StatefulProcessor):
            def init(self, handle) -> None:
                self._state = handle.getValueState(
                    "features",
                    "n bigint, total double, mx double, mn double",
                )

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                if self._state.exists():
                    n, total, mx, mn = self._state.get()
                else:
                    n, total, mx, mn = 0, 0.0, float("-inf"), float("inf")
                for pdf in rows:
                    n += len(pdf)
                    total += float(pdf["value"].sum())
                    mx = max(mx, float(pdf["value"].max()))
                    mn = min(mn, float(pdf["value"].min()))
                self._state.update((n, total, mx, mn))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "sum_value": [total],
                        "max_value": [mx],
                        "min_value": [mn],
                    }
                )

            def close(self) -> None:
                pass

        return Impl()


def user_features_stateful(events: DataFrame) -> DataFrame:
    """Per-user feature state (count, sum, max, min of ``value``) via
    ``transformWithStateInPandas`` (Spark ≥4 arbitrary-stateful v2
    API) when the input streams; the semantically identical
    ``groupBy().agg()`` on a batch frame. All four accumulators are
    commutative/associative, so the streaming final state must equal
    the batch aggregate regardless of micro-batch slicing — that
    equivalence is the test oracle.

    Scale notes as for ``running_totals_stateful``: one shuffle per
    micro-batch to the key's state partition; fixed-size state per
    key (RocksDB-backed in production); TTL available via
    ``getValueState(ttlDurationMs=...)`` to bound a 100 TB keyspace.

    Runtime requirements for the streaming path: the RocksDB state
    store provider AND the ``protobuf`` Python package (the
    transformWithState driver worker speaks protobuf to the JVM) —
    absent in this container, so the stream-vs-batch parity test is
    env-gated (``pytest.importorskip``); the API usage follows the
    published Spark 4 interface.
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.min("value"), 4).alias("min_value"),
        )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserFeaturesProcessor(),
            outputStructType=USER_FEATURES_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


LATEST_STATE_OUTPUT = (
    "entity_id bigint, last_seq bigint, op string, status string, amount double"
)
LATEST_STATE_STATE = "last_seq bigint, op string, status string, amount double"


def _latest_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    best = tuple(state.get) if state.exists else None
    for pdf in pdfs:
        if not len(pdf):
            continue
        row = pdf.loc[pdf["seq"].idxmax()]
        if best is None or int(row["seq"]) > best[0]:
            best = (int(row["seq"]), row["op"], row["status"], float(row["amount"]))
    if best is not None:
        state.update(best)
        yield pd.DataFrame(
            {
                "entity_id": [key[0]],
                "last_seq": [best[0]],
                "op": [best[1]],
                "status": [best[2]],
                "amount": [best[3]],
            }
        )


def latest_state_stateful(changelog: DataFrame) -> DataFrame:
    """Streaming CDC state: the newest change per entity (BY sequence
    number, not arrival order) held as GroupState across micro-batches
    and re-emitted whenever it advances — the streaming twin of
    ``operators.relational.cdc_apply``, with tombstones KEPT (op='D'
    rows are emitted so a downstream sink can delete; filter them for
    snapshot semantics).

    Batch input takes the window row_number path — a batch frame is
    one micro-batch, so the final state equals latest-per-key (the
    batch-parity contract the DuckDB oracle checks); streaming input
    shuffles each micro-batch once to its state partition, state is
    O(1) per live entity. Late/out-of-order changes are handled by the
    seq comparison: a stale change never overwrites newer state —
    which arrival-order solutions (dropDuplicates, last()) get wrong.
    """
    if not changelog.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("entity_id").orderBy(F.col("seq").desc())
        return (
            changelog.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "entity_id",
                F.col("seq").alias("last_seq"),
                "op",
                "status",
                "amount",
            )
        )
    return (
        changelog.select("entity_id", "seq", "op", "status", "amount")
        .groupBy("entity_id")
        .applyInPandasWithState(
            _latest_state_fn,
            outputStructType=LATEST_STATE_OUTPUT,
            stateStructType=LATEST_STATE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drift_monitor_sink(
    path: str,
    reference: DataFrame,
    *,
    col: str,
    bins: int = 10,
    eps: float = 1e-6,
    fmt: str = "parquet",
    binning: str = "width",
):
    """``foreachBatch`` drift monitor: score every micro-batch's
    ``col`` distribution against a STATIC reference histogram and
    land one (psi, ks, emd, n_rows, n_bins) row per micro-batch —
    ``psi`` per :func:`operators.profile.drift_psi`, ``ks`` (the
    binned two-sample Kolmogorov–Smirnov statistic, max |ΔCDF|) per
    :func:`operators.profile.drift_ks`, and ``emd`` (the binned
    1-Wasserstein distance, Σ|ΔCDF|·segment width) per
    :func:`operators.profile.drift_wasserstein`, ALL derived from the
    same pinned-edge binned counts (one histogram pass; the KS/EMD
    tails are one extra cumsum over the ≤bins-row frame, zero new
    scans of the batch). The statistics page on different failure
    shapes: PSI weighs per-bin mass ratios, KS catches location/shape
    shifts whose per-bin log-ratios stay small, and EMD reports the
    shift magnitude in the column's own units so the paging threshold
    can live in dollars/tokens/ms. ``n_rows`` is the
    batch's non-null ``col`` count (every such value lands in some
    clamped bin, so it is exactly sum(n_b) of the binned frame; no
    second pass over the batch), ``n_bins`` the non-empty bin count —
    through the idempotent batch_id-partitioned
    writer — the streaming observability loop a training-data
    pipeline runs so a drifting upstream (schema holds, distribution
    doesn't) pages before the model quality does.

    The bin EDGES are computed once at sink construction and pinned
    for the query's lifetime — per-batch edges would make PSI values
    incomparable across batches (and nondeterministic under replay).
    ``binning="width"`` pins the reference's min/max span;
    ``binning="quantile"`` pins the reference's i/bins quantile
    cutpoints (the canonical, outlier-robust PSI form — see
    :func:`operators.profile.drift_psi`). Either way, out-of-support
    batch values clamp into the edge bins, which is exactly the
    "mass appearing outside the reference's support" signal PSI
    should see. Replayed batches overwrite their own partition (same
    contract as :func:`foreach_batch_writer`), so recovery never
    double-counts a monitoring row.
    """
    from spatially_databricks_etl_spark.operators.profile import (
        _drift_binned_counts,
        _ks_from_counts,
        _psi_from_counts,
        _wasserstein_segments,
        exact_quantiles_select,
    )

    if binning not in ("width", "quantile"):
        raise ValueError(f"binning must be 'width' or 'quantile', got {binning!r}")
    span = edges = None
    if binning == "quantile":
        # raises on an all-null reference, same contract as the span path
        edges = exact_quantiles_select(
            reference.select(F.col(col).cast("double").alias(col)),
            col,
            [i / bins for i in range(1, bins)],
        )
    else:
        row = reference.agg(
            F.min(F.col(col).cast("double")).alias("lo"),
            F.max(F.col(col).cast("double")).alias("hi"),
        ).first()
        if row["lo"] is None:
            raise ValueError("drift_monitor_sink: reference has no non-null values")
        span = (float(row["lo"]), float(row["hi"]))
    ref = reference.select(F.col(col).cast("double").alias(col)).persist()
    # per-bin W1 integration-segment widths, pinned once with the
    # edges (quantile: cut differences; width: the constant bin
    # width) — the earth-mover tail reuses the same binned counts
    seg = _wasserstein_segments(
        bins=bins, binning=binning, span=span, cuts=list(edges or [])
    )
    seg_lit = F.array(*[F.lit(float(x)) for x in seg])
    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # one histogram pass, persisted so the PSI and KS tails (each
        # a tiny aggregation over the ≤bins-row frame) never rescan
        # the micro-batch
        binned = _drift_binned_counts(
            ref, batch_df, col=col, bins=bins, span=span, binning=binning, edges=edges
        ).persist()
        try:
            psi_row = _psi_from_counts(binned, eps).agg(
                F.sum("psi_contrib").alias("psi"),
                F.sum("n_b").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_bins"),
            )
            ks_row = _ks_from_counts(binned).agg(
                F.max("ks_contrib").alias("ks"),
                F.sum(
                    F.col("ks_contrib")
                    * F.element_at(seg_lit, (F.col("bin") + 1).cast("int"))
                ).alias("emd"),
            )
            base(
                psi_row.crossJoin(F.broadcast(ks_row)).select(
                    "psi", "ks", "emd", "n_rows", "n_bins"
                ),
                batch_id,
            )
        finally:
            binned.unpersist()

    return write


def drift_monitor_sink_categorical(
    path: str,
    reference: DataFrame,
    *,
    col: str,
    max_categories: int = 10_000,
    fmt: str = "parquet",
):
    """``foreachBatch`` drift monitor for a CATEGORICAL column — the
    enum-column sibling of :func:`drift_monitor_sink` (which bins
    numerics): every micro-batch's category mix is scored against the
    STATIC reference with
    :func:`operators.profile.drift_chi2` and lands one
    (chi2, n_rows, n_categories) row per micro-batch through the same
    idempotent batch_id-partitioned writer — ``n_rows`` the batch's
    non-null count (= sum of its per-category counts), ``n_categories``
    the number of categories observed across reference ∪ batch. The
    reference frame persists once at sink construction (the numeric
    sink's contract); per batch the cost is one groupBy(category) over
    the micro-batch plus category-cardinality-sized arithmetic, and the
    ``max_categories`` guard fails the batch fast if the column turns
    out not to be enum-like. Replayed batches overwrite their own
    partition, so recovery never double-counts a monitoring row."""
    from spatially_databricks_etl_spark.operators.profile import drift_chi2

    ref = reference.select(F.col(col).cast("string").alias(col)).persist()
    n_ref = ref.filter(F.col(col).isNotNull()).count()  # also forces persist
    if n_ref == 0:
        raise ValueError(
            "drift_monitor_sink_categorical: reference has no non-null values"
        )
    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.filter(F.col(col).isNotNull()).limit(1).count() == 0:
            # chi-square is undefined against an empty side (expected
            # counts hit zero — unlike PSI there is no eps form); land
            # an honest null-statistic row instead of NaN arithmetic
            base(
                spark.createDataFrame(
                    [(None, 0, 0)],
                    "chi2 double, n_rows long, n_categories long",
                ),
                batch_id,
            )
            return
        scored = drift_chi2(
            ref, batch_df, col=col, max_categories=max_categories
        )
        base(
            scored.agg(
                F.sum("chi2_contrib").alias("chi2"),
                F.sum("n_b").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_categories"),
            ),
            batch_id,
        )

    return write


def quality_monitor_sink(
    path: str,
    rules: "dict[str, Column]",
    *,
    fmt: str = "parquet",
):
    """``foreachBatch`` data-quality monitor: evaluate the declared
    expectation rules (name → boolean Column, the
    :mod:`operators.quality` contract — null results count as
    failures) against every micro-batch and land ONE row PER RULE per
    batch, (rule, n_violations, n_rows), through the idempotent
    batch_id-partitioned writer — the streaming half of the quality
    family, alongside the drift monitors: drift pages when the
    DISTRIBUTION moves, this pages when declared ROW CONTRACTS start
    failing (null keys, out-of-range amounts, malformed enums).

    Clean rules still land a row (n_violations = 0) — a monitor that
    goes silent when healthy is indistinguishable from a dead one, so
    every batch writes the full |rules|-sized frame as its heartbeat.

    Scale shape: ONE aggregate over the micro-batch computes the row
    count and every rule's violation count as k+1 codegen'd
    conditional sums (no explode, no join, no second scan); the
    per-rule unpivot runs on the ONE-row aggregate frame. All outputs
    exact longs. Replayed batches overwrite their own partition, so
    recovery never double-counts a monitoring row (the
    :func:`foreach_batch_writer` contract).
    """
    base = foreach_batch_writer(path, fmt)
    names = list(rules)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        for i, name in enumerate(names):
            # coalesce the SUM too: an empty micro-batch sums zero rows
            # to NULL, and the heartbeat contract is n_violations = 0.
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.coalesce(rules[name], F.lit(False)), 0
                        ).otherwise(1)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__v_{i}")
            )
        row = batch_df.agg(*aggs)
        outs = [
            row.select(
                F.lit(name).alias("rule"),
                F.col(f"__v_{i}").alias("n_violations"),
                F.col("__n").alias("n_rows"),
            )
            for i, name in enumerate(names)
        ]
        frame = outs[0]
        for o in outs[1:]:
            frame = frame.unionByName(o)
        base(frame, batch_id)

    return write


def heavy_hitters_monitor_sink(
    path: str,
    key_col: str,
    *,
    capacity: int = 50,
    threshold_fraction: float | None = None,
    fmt: str = "parquet",
):
    """``foreachBatch`` heavy-hitters monitor: run the EXACT two-pass
    Misra–Gries operator (:func:`operators.sketches.heavy_hitters` —
    capped per-partition candidate summaries, then exact counting of
    candidates only) over every micro-batch and land its
    (key, n_rows, share) rows through the idempotent
    batch_id-partitioned writer — the streaming member the sketch
    family lacked (no reference analog; the reference is pure batch,
    `SURVEY.md` §2b). Hot-key EMERGENCE is exactly what an ops team
    watches between drift pages: drift monitors page when a value
    DISTRIBUTION moves, the quality monitor when row contracts fail,
    this when one key starts dominating a batch (skew forming, a
    runaway producer, a scraper loop).

    Every batch additionally lands ONE heartbeat row
    (key = null, n_rows = batch row count, share = null): a healthy
    batch usually has NO heavy hitters, and a monitor that goes
    silent when healthy is indistinguishable from a dead one (the
    :func:`quality_monitor_sink` contract). The null key is
    unambiguous — the operator ignores null keys, so no hitter row
    can carry one.

    Scale shape: per batch, one map-only Misra–Gries pass (O(capacity)
    state per task, no shuffle) + one broadcast-semi-join counting
    pass over the micro-batch — the batch never shuffles its full key
    space. Replayed batches overwrite their own partition
    (:func:`foreach_batch_writer`), so recovery never double-counts.
    Sink rows per batch ≡ the batch operator on the same rows, pinned
    by test.
    """
    from spatially_databricks_etl_spark.caching import release_intermediates
    from spatially_databricks_etl_spark.operators.sketches import heavy_hitters

    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        key_type = batch_df.schema[key_col].dataType.simpleString()
        total = batch_df.count()
        hh = heavy_hitters(
            batch_df,
            key_col,
            capacity=capacity,
            threshold_fraction=threshold_fraction,
        )
        heartbeat = spark.range(1).select(
            F.lit(None).cast(key_type).alias(key_col),
            F.lit(total).cast("long").alias("n_rows"),
            F.lit(None).cast("double").alias("share"),
        )
        try:
            base(
                hh.select(key_col, "n_rows", "share").unionByName(heartbeat),
                batch_id,
            )
        finally:
            release_intermediates(hh)

    return write


def seasonal_monitor_sink(
    path: str,
    reference: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: "list[str] | None" = None,
    threshold: float = 3.5,
    value_decimals: int = 2,
    fmt: str = "parquet",
):
    """``foreachBatch`` seasonal-anomaly monitor — the streaming
    sibling of :func:`operators.profile.ts_anomaly`, in the
    static-reference shape all the drift sinks use (a micro-batch
    rarely contains its own prior season, so the seasonal expectation
    comes from a profiled REFERENCE window instead of a lag):

    - at sink construction, the reference frame profiles once into
      per (key..., hour-of-day) robust level stats — exact-decimal
      hourly bucket sums (the ts_anomaly discipline), then
      median/MAD via ``F.percentile`` — a |keys|·24-row frame,
      persisted and broadcast into every batch;
    - per micro-batch, the batch's hourly bucket sums join their
      phase stats and score z = 0.6745·(y − med)/MAD; one row per
      (key, bucket) lands through the idempotent
      batch_id-partitioned writer as (key..., bucket, y, z_e6,
      is_anomaly). MAD = 0 phases yield null z (the robust_zscore
      degenerate contract); phases unseen in the reference emit the
      row with null z — a silent drop would hide exactly the novel
      traffic an anomaly monitor exists to flag.

    Division of monitoring labor: drift sinks page when the VALUE
    DISTRIBUTION moves, the quality sink when row contracts fail,
    the heavy-hitters sink when one key dominates, this when a key's
    VOLUME/LEVEL leaves its seasonal envelope (traffic drop, job
    stall, runaway producer at 3 am).

    Scale shape: the reference pays one hash aggregate + one
    per-(key, phase) percentile at construction; each batch pays one
    hash aggregate over the micro-batch plus a broadcast join against
    the 24·|keys|-row profile. Replays overwrite their own partition
    (:func:`foreach_batch_writer`).
    """
    keys = list(key_cols) if key_cols else ["event_type"]
    scale = float(10**value_decimals)

    def bucket_sums(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
            .groupBy(
                *[F.col(k) for k in keys],
                F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            )
            .agg(
                F.sum(
                    F.floor(
                        F.col(value_col).cast("double") * F.lit(scale) + F.lit(0.5)
                    ).cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .alias("__ys")
            )
            .withColumn("y", F.col("__ys").cast("double") / F.lit(scale))
            .withColumn("__phase", F.hour("bucket"))
        )

    profile = (
        bucket_sums(reference)
        .groupBy(*[F.col(k) for k in keys], F.col("__phase"))
        .agg(F.percentile(F.col("y"), F.lit(0.5)).alias("__med"))
    )
    ref_with_med = bucket_sums(reference).join(
        F.broadcast(profile), [*keys, "__phase"]
    )
    stats = (
        ref_with_med.groupBy(*[F.col(k) for k in keys], F.col("__phase"))
        .agg(
            F.percentile(
                F.abs(F.col("y") - F.col("__med")), F.lit(0.5)
            ).alias("__mad"),
            F.min("__med").alias("__med"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stats.count()  # force the reference profile once, at construction
    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scored = bucket_sums(batch_df).join(
            F.broadcast(stats), [*keys, "__phase"], "left"
        )
        z = F.when(
            F.col("__mad") > 0.0,
            F.lit(0.6745) * (F.col("y") - F.col("__med")) / F.col("__mad"),
        )
        base(
            scored.select(
                *keys,
                "bucket",
                "y",
                F.floor(z * F.lit(1000000.0) + F.lit(0.5))
                .cast("long")
                .alias("z_e6"),
                F.when(z.isNotNull(), F.abs(z) > F.lit(float(threshold))).alias(
                    "is_anomaly"
                ),
            ),
            batch_id,
        )

    return write


def embedding_drift_monitor_sink(
    path: str,
    reference: DataFrame,
    *,
    vec_col: str = "embedding",
    value_decimals: int = 6,
    fmt: str = "parquet",
):
    """``foreachBatch`` EMBEDDING-drift monitor — the streaming form
    of :func:`operators.profile.drift_embedding`, completing the
    monitor family's symmetry (scalar drift, quality, heavy hitters,
    seasonal — and now the ``array<float>`` payload): every
    micro-batch lands one (n_ref, n_cur, centroid_cos_e6,
    mean_shift_l2_e6) row scoring the batch's embedding distribution
    against a STATIC reference snapshot — the "did the embedder /
    upstream corpus mix move" page a retrieval pipeline needs before
    its indexes quietly degrade.

    The reference is reduced ONCE at sink construction to its exact
    per-dimension scaled-integer sums and row count (|dims| driver
    values — bounded by the embedding width, never by the reference's
    size) and pinned for the query's lifetime, the drift_monitor_sink
    edge-pinning discipline: per-batch work is ONE posexplode + hash
    aggregate over the batch plus exact-integer algebra on the
    |dims|-row frame. Statistics are IDENTICAL to calling
    ``drift_embedding(reference, batch)`` directly (same exact
    operands, same expression tree — pinned by test). Replayed
    batches overwrite their own partition (the
    :func:`foreach_batch_writer` contract), so recovery never
    double-counts a monitoring row.
    """
    from spatially_databricks_etl_spark.operators.profile import (
        _embedding_dim_sums,
        _embedding_drift_stats,
    )

    scale = 10**value_decimals
    ref_rows = [
        (int(r["dim"]), str(r["s_r"]))
        for r in _embedding_dim_sums(reference, vec_col, scale, "r").collect()
    ]
    n_ref = int(
        reference.filter(F.col(vec_col).isNotNull()).count()
    )
    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if ref_rows:
            refdf = spark.createDataFrame(
                ref_rows, "dim int, s_r_s string"
            ).select("dim", F.col("s_r_s").cast("decimal(38,0)").alias("s_r"))
        else:
            refdf = spark.createDataFrame([], "dim int, s_r decimal(38,0)")
        dims = (
            refdf.join(
                _embedding_dim_sums(batch_df, vec_col, scale, "c"),
                "dim",
                "full_outer",
            )
            .select(
                F.coalesce(F.col("s_r"), F.lit(0).cast("decimal(38,0)")).alias(
                    "s_r"
                ),
                F.coalesce(F.col("s_c"), F.lit(0).cast("decimal(38,0)")).alias(
                    "s_c"
                ),
            )
        )
        counts = batch_df.filter(F.col(vec_col).isNotNull()).agg(
            F.lit(n_ref).cast("decimal(38,0)").alias("n_ref"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n_cur"),
        )
        base(_embedding_drift_stats(dims, counts, scale), batch_id)

    return write


def embedding_quality_monitor_sink(
    path: str,
    *,
    vec_col: str = "embedding",
    value_decimals: int = 6,
    fmt: str = "parquet",
):
    """``foreachBatch`` embedding-HYGIENE monitor — the streaming form
    of :func:`operators.profile.embedding_quality`, the pre-flight
    check's continuous twin: every micro-batch lands one
    (n_rows, n_null_vec, n_empty_vec, n_nonfinite_vec, dim_min,
    dim_max, n_zero_vec, norm_rms_e6) row, so a bad embedder deploy
    (NaN burst, dimension change, zero-vector flood) pages on the
    batch that shipped it instead of poisoning the ANN/dedup indexes
    silently. Unlike the drift monitor there is NO reference state —
    the profile is intrinsic to the batch — so the sink is exactly
    the batch operator behind the idempotent
    :func:`foreach_batch_writer` (sink row ≡
    ``embedding_quality(batch)`` bitwise, pinned by test; replays
    overwrite their own batch partition, never double-count).

    Per-batch cost: the operator's one map-side pass + 1-row
    aggregate — no state store, no shuffle beyond the final partials.
    """
    from spatially_databricks_etl_spark.operators.profile import embedding_quality

    base = foreach_batch_writer(path, fmt)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        base(
            embedding_quality(
                batch_df, vec_col=vec_col, value_decimals=value_decimals
            ),
            batch_id,
        )

    return write


def index_ingest_sink(path: str, append, *, empty_batches_log: bool = True):
    """``foreachBatch`` INGEST into a persisted index — the streaming
    write path for the whole index family: pass any of the family's
    appenders (``bm25_append_index``, ``minhash``-style writers take
    ``(batch_df, path)`` — so do ``lsh/ivf/ivfpq_append_index``) and
    every micro-batch appends incrementally, never re-processing the
    standing corpus (the appenders' contract).

    Idempotence — the part a bare appender cannot give you: appends
    are NOT naturally replay-safe (a restarted query re-delivers the
    last micro-batch, and appending it twice double-counts postings /
    duplicates vectors — the one violation the append contracts
    forbid). This sink implements the keyed-transaction pattern the
    :func:`foreach_batch_writer` docstring points to for Delta
    (``txnAppId``/``txnVersion``), on plain parquet: a tiny
    ``{path}/_ingest_log`` sidecar records every committed batch_id;
    a batch already in the log is SKIPPED wholesale. Residual window,
    stated honestly: if the process dies between append-complete and
    log-commit, the replay re-appends (at-least-once for that one
    batch). TWO ways to close it: (a) pass an UPSERT instead of an
    appender (``bm25_upsert_index``, ``lsh/ivf/ivfpq_upsert_index``,
    ``minhash_upsert_index`` — same ``(batch_df, path)`` signature) —
    re-ingesting the same batch replaces it with identical content,
    so even the crash-window replay converges to exactly-once results
    (pinned by test); or (b) an atomic commit protocol — what Delta's
    transaction log provides and this environment cannot install
    (SCALE.md "Dependency gates"); on such a store, swap the log for
    the table's native txn keys. The upsert route also makes the sink
    a streaming UPDATE path: batches may carry replacements for
    already-indexed ids, not just new documents.

    ``empty_batches_log=True`` logs empty batches too (so a replayed
    empty batch skips the appender — some appenders pay a standing-
    index read even for zero rows).

    Scale shape: the log read is one tiny sidecar scan per batch
    (batch-count rows); everything else is the appender's own
    incremental cost. Compaction (``*_compact_index``) is unaffected
    — it rewrites data generations, and the log keeps only batch ids,
    not layout.
    """
    from pyspark.errors import AnalysisException

    from spatially_databricks_etl_spark.sources.files import scan_parquet

    log_path = f"{path}/_ingest_log"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            done = scan_parquet(spark, log_path).filter(
                F.col("batch_id") == int(batch_id)
            ).limit(1).count()
        except AnalysisException:
            done = 0
        if done:
            return
        is_empty = batch_df.limit(1).count() == 0
        if not is_empty:
            append(batch_df, path)
        if not is_empty or empty_batches_log:
            spark.createDataFrame(
                [(int(batch_id),)], "batch_id long"
            ).write.mode("append").parquet(log_path)

    return write


class QueryMetricsRecorder:
    """Streaming-engine observability through Spark's own
    ``StreamingQueryListener``: every lifecycle event and every micro-batch
    progress report lands as one JSON line under ``{path}`` —
    queryable later with ``spark.read.json`` for the ops questions the
    per-batch DATA monitors (drift/quality/heavy-hitters/seasonal
    sinks) don't answer: is the query keeping up (batch duration vs
    trigger interval), how many rows per trigger, is state size
    growing, when did it restart and why.

    Construction is cheap; call :meth:`attach`/:meth:`detach` around
    the session's streaming lifetime. Records are written driver-side
    with plain file appends (the listener runs on the driver; on an
    object store, point ``path`` at a local spool and ship it — the
    same pattern as any driver log). Each line carries
    (event, query_id, run_id, timestamp) plus, for progress events,
    the full progress report Spark already serializes (numInputRows,
    batchDuration, stateOperators, sources...).
    """

    def __init__(self, path: str):
        import os

        from pyspark.sql.streaming import StreamingQueryListener

        os.makedirs(path, exist_ok=True)
        self._file = os.path.join(path, "query_metrics.jsonl")
        recorder = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                recorder._emit(
                    {
                        "event": "started",
                        "query_id": str(event.id),
                        "run_id": str(event.runId),
                        "name": event.name,
                        "timestamp": event.timestamp,
                    }
                )

            def onQueryProgress(self, event):
                import json as _json

                rec = _json.loads(event.progress.json)
                rec["event"] = "progress"
                recorder._emit(rec)

            def onQueryIdle(self, event):
                recorder._emit(
                    {
                        "event": "idle",
                        "query_id": str(event.id),
                        "run_id": str(event.runId),
                        "timestamp": event.timestamp,
                    }
                )

            def onQueryTerminated(self, event):
                recorder._emit(
                    {
                        "event": "terminated",
                        "query_id": str(event.id),
                        "run_id": str(event.runId),
                        "exception": event.exception,
                    }
                )

        self._listener = _Listener()

    def _emit(self, record: dict) -> None:
        import json as _json

        with open(self._file, "a") as fh:
            fh.write(_json.dumps(record) + "\n")

    def attach(self, spark) -> "QueryMetricsRecorder":
        spark.streams.addListener(self._listener)
        return self

    def detach(self, spark) -> None:
        spark.streams.removeListener(self._listener)
