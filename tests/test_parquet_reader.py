"""The schema-resolved parquet reader (``sources/files.py``
``scan_parquet``): each schema is inferred once per session per
file-set, re-resolved when the files or the inference confs change,
and read exactly as Spark reads it for paths off the local filesystem."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from spatially_databricks_etl_spark.session import load_table
from spatially_databricks_etl_spark.sources.files import _schema_key, scan_parquet

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"parquet-reader-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _events(path, unit):
    """Two events one minute apart, ``ts`` stored as parquet
    ``TIMESTAMP(NANOS)`` (``unit="ns"``) or ``timestamp[us]``."""
    micros = [1_704_067_200_000_000, 1_704_067_260_000_000]
    scale = 1000 if unit == "ns" else 1
    ts = pa.array([m * scale for m in micros], pa.timestamp(unit))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path, version="2.6")


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, second_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewrite_with_new_schema_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert scan_parquet(spark, path).columns == ["k"]
    pq.write_table(pa.table({"k": ["x"], "extra": [1.5]}), path)
    df = scan_parquet(spark, path)
    assert df.columns == ["k", "extra"]
    assert df.schema == spark.read.parquet(path).schema
    assert df.collect()[0]["extra"] == 1.5


def test_nanos_conf_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "events_ns.parquet")
    _events(path, "ns")
    before = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        key_on = _schema_key(spark, [path], None)
        assert isinstance(scan_parquet(spark, path).schema["ts"].dataType, LongType)
        spark.conf.set(NANOS, "false")
        assert _schema_key(spark, [path], None) != key_on
        # Spark has no nanosecond timestamp type: without the conf its
        # own inference rejects the column, and so does the reader
        with pytest.raises(Exception):
            scan_parquet(spark, path).schema
        spark.conf.set(NANOS, "true")
        assert isinstance(scan_parquet(spark, path).schema["ts"].dataType, LongType)
    finally:
        spark.conf.set(NANOS, before)


@pytest.mark.parametrize("ts_type", ["ns", "us"])
def test_events_ts_normalises_to_timestamp(spark, tmp_path, ts_type):
    _events(str(tmp_path / "events.parquet"), ts_type)
    for _ in range(2):  # the cached read normalises the same way
        df = load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = [r["ts"].isoformat() for r in df.orderBy("event_id").collect()]
        assert got == ["2024-01-01T00:00:00", "2024-01-01T00:01:00"]


def test_pyarrow_micros_stay_ntz(spark, tmp_path):
    path = str(tmp_path / "events_us.parquet")
    _events(path, "us")
    for _ in range(2):
        df = scan_parquet(spark, path)
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
        assert df.schema == spark.read.parquet(path).schema


def test_partitioned_index_root_keeps_partition_column(spark, tmp_path):
    root = str(tmp_path / "idx")
    spark.range(40).select(
        F.col("id"), (F.col("id") % 4).alias("__cell"), F.lit("x").alias("payload")
    ).write.partitionBy("__cell").parquet(root)
    present = [f"{root}/__cell=1", f"{root}/__cell=3"]
    stock = spark.read.option("basePath", root).parquet(*present).schema
    for _ in range(2):  # a footer-resolved miss, then a cache hit
        df, jobs = _jobs(spark, lambda: scan_parquet(spark, *present, base_path=root))
        assert jobs == 0
        assert df.schema == stock
        out = df.filter(F.col("__cell").isin([1, 3]))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert any(
            "PartitionFilters" in ln and "__cell" in ln for ln in plan.splitlines()
        )
        assert sorted(r["id"] for r in out.collect()) == [
            i for i in range(40) if i % 4 in (1, 3)
        ]
    whole = scan_parquet(spark, root)
    assert whole.schema == spark.read.parquet(root).schema
    assert whole.count() == 40


def test_footer_schema_is_the_one_spark_infers(spark, tmp_path):
    """Two appends with different Spark schemas in one directory: with
    ``mergeSchema`` off, Spark's inference reads one file's footer, and
    the reader's footer lookup must pick that same file."""
    path = str(tmp_path / "mixed")
    spark.range(3).write.parquet(path)
    spark.range(3).withColumn("extra", F.lit("x")).write.mode("append").parquet(path)
    df, jobs = _jobs(spark, lambda: scan_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema


@pytest.mark.parametrize(
    "scheme", ["s3://bucket", "abfss://c@acct.dfs.core.windows.net", "hdfs://nn"]
)
def test_non_local_uri_bypasses_the_cache(spark, tmp_path, scheme):
    # the URI's path part names a real local file, so only the scheme
    # keeps it out of the cache
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1]}), path)
    assert _schema_key(spark, [f"{scheme}{path}"], None) is None
    assert _schema_key(spark, [f"file://{path}"], None) is not None


def test_missing_path_is_not_cached(spark, tmp_path):
    assert _schema_key(spark, [str(tmp_path / "absent.parquet")], None) is None


def test_store_reads_resolve_their_schema_once(spark, tmp_path):
    """The profile store, a versioned snapshot and a saved merge table
    read through ``scan_parquet``: a repeated read runs no job beyond
    what it collects."""
    from spatially_databricks_etl_spark.operators.curate import (
        bpe_load_merges,
        bpe_save_merges,
    )
    from spatially_databricks_etl_spark.operators.profile import (
        profile_read_store,
        profile_write_store,
    )
    from spatially_databricks_etl_spark.sinks.versioned import (
        _read_manifest,
        versioned_read,
        versioned_write,
    )
    from spatially_databricks_etl_spark.sources.arrow import arrow_frame

    df = spark.createDataFrame([(1, 2.5), (2, 3.5)], "a long, b double")
    prof = str(tmp_path / "prof")
    profile_write_store(df, prof, cols={"a": 0, "b": 2}, batch_id="b1")
    first, _ = _jobs(spark, lambda: profile_read_store(spark, prof))
    again, jobs = _jobs(spark, lambda: profile_read_store(spark, prof))
    assert jobs == 0
    assert sorted(again.collect()) == sorted(first.collect())

    snap = str(tmp_path / "snap")
    versioned_write(df, snap)
    versioned_read(spark, snap)
    _, manifest_jobs = _jobs(spark, lambda: _read_manifest(spark, snap))
    got, jobs = _jobs(spark, lambda: versioned_read(spark, snap))
    assert jobs == manifest_jobs
    assert sorted(got.collect()) == sorted(df.collect())

    merges = str(tmp_path / "merges")
    bpe_save_merges(
        arrow_frame(
            spark,
            [(2, "b", "c", 3), (1, "a", "b", 5)],
            "round long, left_sym string, right_sym string, pair_count long",
        ),
        merges,
    )
    bpe_load_merges(spark, merges)
    _, collect_jobs = _jobs(
        spark, lambda: scan_parquet(spark, merges).orderBy("round").collect()
    )
    rules, jobs = _jobs(spark, lambda: bpe_load_merges(spark, merges))
    assert rules == [("a", "b"), ("b", "c")]
    assert jobs == collect_jobs


def test_arrow_frame_is_a_local_relation(spark):
    """``arrow_frame`` types rows exactly as ``createDataFrame(list)``
    does, from tuples or records, and collecting it runs no job."""
    from spatially_databricks_etl_spark.sources.arrow import arrow_frame

    ddl = "__pid int, __off long, __s string"
    rows = [(0, 0, "a"), (1, 7, None), (2, 2**40, "é")]
    built, jobs = _jobs(spark, lambda: arrow_frame(spark, rows, ddl).collect())
    assert jobs == 0
    ref = spark.createDataFrame(rows, ddl)
    assert arrow_frame(spark, rows, ddl).schema == ref.schema
    assert built == ref.collect()
    records = [dict(zip(("__pid", "__off", "__s"), r)) for r in rows]
    assert arrow_frame(spark, records, ref.schema).collect() == built
    assert arrow_frame(spark, [], ddl).collect() == []
