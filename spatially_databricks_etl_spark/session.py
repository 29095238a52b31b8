"""SparkSession factory and fixture-table loading.

Replaces the reference's Databricks-managed session + widget/secret
config (``Spatially ETL test.py:38-85``) with a local-first factory.
Scale posture: AQE on (runtime coalesce + skew-join), UTC session
timezone (so timestamp semantics match a naive-UTC oracle), Arrow
enabled for the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _default_driver_memory(target_gb: int = 24, floor_gb: int = 2) -> str:
    """min(24g, ~half of MemAvailable), floored at 2g. The heap only
    needs to be big when 32 local tasks actually run concurrently —
    and that is exactly the machine shape where MemAvailable covers
    the target. Falls back to the target when /proc/meminfo is
    unreadable (non-Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (2 * 1024 * 1024)  # half, in GiB
                    return f"{max(floor_gb, min(target_gb, avail_gb))}g"
    except OSError:
        pass
    return f"{target_gb}g"


def get_spark(
    app_name: str = "spatially-databricks-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    On a real cluster ``master``/executors come from spark-submit; the
    defaults here only kick in for local runs. AQE is the load-bearing
    setting: at 100 TB the static ``spark.sql.shuffle.partitions`` is
    just a ceiling — AQE coalesces post-shuffle partitions to target
    size and splits skewed ones, so the same plan survives 1000x data.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UDTFs evaluate Arrow-batched (ArrowEvalPythonUDTF) instead of
        # row-at-a-time BatchEvalPython — same 10-100x Arrow win as
        # pandas UDFs; correctness unchanged (diffcheck-verified)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[32] runs driver+executor in ONE JVM: 32 concurrent
        # tasks shuffling + Arrow batching inside an 8g heap caused
        # multi-second full-GC spikes mid-bench (minhash spread
        # [2.7..12.1] at 8g). Target 24g on the 128 GiB harness box,
        # capped at ~half of MemAvailable so the same default doesn't
        # OOM-kill smaller or cgroup-limited machines;
        # SPARK_DRIVER_MEMORY overrides outright. Real clusters size
        # executors via spark-submit and never see this default.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # Spark has no nanosecond TimestampType; read parquet
        # TIMESTAMP(NANOS) as long and convert (see load_tables) —
        # without this flag the scan hard-fails on events.parquet.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, normalizing physical quirks.

    The scan goes through :func:`sources.files.scan_parquet`: its
    schema is inferred once per session per file-set, so only the
    first load of a table runs Spark's footer-inference job.

    ``events.ts`` has shipped in two physical encodings: parquet
    TIMESTAMP(NANOS) (read as a nanos long under ``nanosAsLong``) and
    parquet ``timestamp[us]`` without UTC adjustment (read as
    TIMESTAMP_NTZ under Spark's NTZ inference). Both are normalized to
    TimestampType here: watermarks/windows require LTZ timestamps, and
    under the UTC session timezone the NTZ→LTZ cast is a pure
    re-labeling (bit-identical micros), so all downstream time
    semantics stay engine-agnostic vs a naive-UTC oracle.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    from spatially_databricks_etl_spark.sources.files import scan_parquet

    if name == "events":
        # Runtime-settable; required even on externally-built sessions
        # (e.g. the verify driver's) or the ns-timestamp scan fails.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = scan_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TABLE_NAMES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Scan the fixture parquet tables (schema comes from parquet
    footers, resolved once per session — columnar, self-describing,
    pushdown-friendly).

    Registers each as a temp view so the SQL surface (the reference's
    entry point C, ``Spatially ETL test.py:237-250``) works too.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
