"""File sources (SURVEY.md §2a #1): csv / json / parquet scans.

The reference reads CSV header-only with no schema (`Spatially ETL
test.py:131`) — every column lands as string. That is preserved as the
default for parity, but at 100 TB an explicit ``StructType`` is
mandatory (schema inference is a full extra pass over the data), so
every reader takes ``schema=``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan. No ``inferSchema`` ever: either explicit schema (scale
    path) or all-string columns (reference parity path,
    `Spatially ETL test.py:131`)."""
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines scan. The reference infers schema from API payloads
    (`Spatially ETL test.py:125`); here inference happens only when no
    schema is given (fine for landed samples, not for 100 TB scans)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str, *columns: str) -> DataFrame:
    """Parquet scan (:func:`scan_parquet`); optional projection so
    pruning is explicit at the call site (ReadSchema shrinks to the
    requested columns)."""
    df = scan_parquet(spark, path)
    return df.select(*columns) if columns else df


# Session confs that change the schema Spark infers from parquet files.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_SCHEMAS: dict[str, dict] = {}  # {application id: {schema key: StructType}}


def scan_parquet(
    spark: SparkSession, *paths: str, base_path: str | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` (under ``basePath`` when given)
    with the schema resolved once per session per file-set. Without a
    schema, every ``spark.read.parquet`` runs a Spark job to read a
    footer again; here the first read of a key resolves the schema and
    every later one passes it with ``.schema(...)``, which runs none.

    The cache holds the ``StructType`` of the resolved read — what
    Spark itself infers, partition columns included. A miss resolves
    it from the schema Spark stored under its row-metadata key in a
    data file's footer (read driver-side, no job; Spark's own
    inference returns that same value), else by Spark's inference. The
    key (:func:`_schema_key`) holds the paths, the driver-side stats of
    every data file and the confs that change inference, so a rewrite
    or a conf flip re-resolves; it is scoped to the SparkContext's
    application id. A path off the driver's local filesystem
    (``s3://``, ``abfss://``, ...) bypasses the cache."""
    reader = spark.read if base_path is None else spark.read.option("basePath", base_path)
    key = _schema_key(spark, paths, base_path)
    if key is None:
        return reader.parquet(*paths)
    app = spark.sparkContext.applicationId
    if app not in _SCHEMAS:
        _SCHEMAS.clear()  # a new SparkContext: earlier entries are dead
    schemas = _SCHEMAS.setdefault(app, {})
    if key in schemas:
        return reader.schema(schemas[key]).parquet(*paths)
    footer = _footer_schema(key)
    df = (reader if footer is None else reader.schema(footer)).parquet(*paths)
    schemas[key] = df.schema
    return df


def _schema_key(spark: SparkSession, paths, base_path) -> tuple | None:
    """The cache key of a parquet read, or ``None`` when it is not to
    be cached: a path off the driver's local filesystem, a missing
    path (Spark raises its own error), or a file that vanishes while
    it is listed. Per path: its local root and the (relative name,
    size, ``mtime_ns``, inode) of every file Spark's listing keeps,
    walked recursively."""
    from urllib.parse import urlparse

    stats = []
    for p in paths:
        url = urlparse(p)
        if url.scheme not in ("", "file"):
            return None
        root = url.path if url.scheme else p
        try:
            stats.append((root, _file_stats(root)))
        except OSError:
            return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return tuple(paths), base_path, tuple(stats), confs


def _file_stats(root: str) -> tuple:
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    if not os.path.isdir(root):
        raise FileNotFoundError(root)
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(n for n in dirs if not _hidden(n))
        for name in sorted(files):
            if not _hidden(name):
                full = os.path.join(d, name)
                st = os.stat(full)
                out.append(
                    (os.path.relpath(full, root), st.st_size, st.st_mtime_ns, st.st_ino)
                )
    return tuple(out)


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``_tombstones``, ``_SUCCESS``,
    ``.crc`` files); a ``_``-prefixed partition directory such as
    ``__cell=3`` is data."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _footer_schema(key: tuple) -> StructType | None:
    """The schema Spark stored in the footer of the data file its own
    inference reads (the first by path), or ``None``: not written by
    Spark, unreadable, or ``mergeSchema`` on (Spark then merges every
    footer)."""
    import json

    import pyarrow.parquet as pq

    _, _, stats, confs = key
    merge = confs[_INFERENCE_CONFS.index("spark.sql.parquet.mergeSchema")]
    files = [os.path.join(root, rel) if rel else root for root, fs in stats for rel, *_ in fs]
    if not files or str(merge).lower() == "true":
        return None
    try:
        meta = pq.read_metadata(min(files)).metadata or {}
    except (OSError, ValueError):
        return None
    schema = meta.get(_SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(schema)) if schema else None


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Corrupt-tolerant JSONL document scan — the ingestion reality of
    crawl-scale corpora (a 100 TB JSONL drop ALWAYS contains truncated
    lines, stray encodings, half-written records; a scan that either
    dies on line one or silently drops them is unusable). PERMISSIVE
    mode with an explicit schema + corrupt-record column, split into
    (clean, quarantine):

    - ``clean``: rows parsing fully under ``schema`` (corrupt column
      null), corrupt column dropped;
    - ``quarantine``: the raw offending line in ``corrupt_col`` for
      forensics/replay — same contract as
      ``operators/quality.py:split_quarantine``.

    An explicit schema is REQUIRED: schema inference both costs an
    extra full pass at scale and changes shape under drift. Spark's
    PERMISSIVE caveat applies — a malformed row surfaces only the raw
    line; fields stay null. Both frames are plain projections of ONE
    scan (Catalyst shares it) — map-only, no shuffle.

    The shared scan is cached (a PERMISSIVE quirk forbids projecting
    only the corrupt column from an uncached scan), and the cached
    frame is registered on BOTH returned frames via the repo's
    ``register_persists`` release idiom — materialize either split,
    then ``release_intermediates(clean)`` (or ``quarantine``) to free
    the block; long-lived ingestion sessions calling this repeatedly
    no longer accumulate cached JSON scans."""
    st = schema if isinstance(schema, StructType) else _parse_schema(schema)
    if corrupt_col not in [f.name for f in st.fields]:
        st = StructType(
            [*st.fields, StructField(corrupt_col, StringType(), True)]
        )
    df = (
        spark.read.schema(st)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        # PERMISSIVE quirk: referencing ONLY the corrupt column from a
        # raw scan is disallowed (Spark requires a cached/complete
        # frame) — cache once, both splits share the parse
        .cache()
    )
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    from spatially_databricks_etl_spark.caching import register_persists

    return register_persists(clean, [df]), register_persists(quarantine, [df])


def _parse_schema(ddl: str) -> StructType:
    # public DDL parser (pyspark >= 3.5); the private
    # _parse_datatype_string it replaced accepted bare non-struct
    # types, so keep the struct guard
    st = StructType.fromDDL(ddl)
    if not isinstance(st, StructType):
        raise ValueError(f"schema must be a struct, got {st}")
    return st


def read_parquet_evolved(
    spark: SparkSession,
    path: str,
    target_schema: StructType | str,
    *,
    extra: str = "drop",
) -> DataFrame:
    """Schema-drift-tolerant parquet scan — the read every long-lived
    lake needs once files from different pipeline versions share a
    directory (no reference analog; its one-shot notebook never
    re-reads its own output, `Spatially ETL test.py:237`):

    - file generations are grouped by their PHYSICAL schema (Spark's
      own ``mergeSchema`` hard-fails on a type conflict like
      int→string, so conflicts are resolved here, not merged there);
    - each group is ALIGNED to ``target_schema``: present columns
      ``try_cast`` to the target type (null on an incompatible value,
      never an ANSI runtime error mid-scan — the dirty-CSV
      discipline), columns missing from a generation materialize as
      typed nulls, and the aligned groups union by name;
    - ``extra`` decides whether unexpected columns are dropped
      (default — the consumer contract wins) or kept
      (``extra="keep"``: appended after the target columns AS
      STRINGS, since the same stray column may carry different types
      in different generations — forensics, not a contract).

    Scale note: footer-schema discovery is O(#files) driver work (one
    footer read per file, the same cost class as ``mergeSchema``'s
    planning pass); on a huge directory prefer a table format that
    tracks schema in metadata. Column pruning still reaches the
    scans: alignment is a plain projection per group, so unselected
    source columns are never read.
    """
    if extra not in ("drop", "keep"):
        raise ValueError(f"extra must be 'drop' or 'keep', got {extra!r}")
    target = (
        StructType.fromDDL(target_schema)
        if isinstance(target_schema, str)
        else target_schema
    )
    # FS-agnostic file listing (binaryFile works on any Hadoop FS)
    files = [
        r["path"]
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select("path")
        .collect()
    ]
    if not files:
        raise ValueError(f"read_parquet_evolved: no parquet files under {path}")
    groups: dict[str, list[str]] = {}
    schemas: dict[str, StructType] = {}
    for f in files:
        sch = scan_parquet(spark, f).schema
        key = sch.simpleString()
        groups.setdefault(key, []).append(f)
        schemas[key] = sch
    tnames = [f.name for f in target.fields]
    extras = sorted(
        {
            f.name
            for sch in schemas.values()
            for f in sch.fields
            if f.name not in set(tnames)
        }
    ) if extra == "keep" else []

    aligned = []
    for key, group_files in sorted(groups.items()):
        have = {f.name for f in schemas[key].fields}
        df = spark.read.schema(schemas[key]).parquet(*group_files)
        cols = []
        for f in target.fields:
            dt = f.dataType.simpleString()
            if f.name in have:
                cols.append(F.col(f.name).try_cast(dt).alias(f.name))
            else:
                cols.append(F.lit(None).cast(dt).alias(f.name))
        for name in extras:
            if name in have:
                cols.append(F.col(name).cast("string").alias(name))
            else:
                cols.append(F.lit(None).cast("string").alias(name))
        aligned.append(df.select(*cols))
    out = aligned[0]
    for part in aligned[1:]:
        out = out.unionByName(part)
    return out


def read_orc(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning contract as
    parquet (both columnar with stripe/rowgroup stats); included so a
    warehouse already on ORC can be read without conversion."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_text: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw text scan → one ``value`` string column (per line, or per
    file with ``whole_text`` — the ingest shape for document corpora
    before parsing). Splittable per line at 100 TB; whole-file mode
    parallelizes per file."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    # NB: wholetext must go through the text() kwarg — the
    # .option("wholetext", ...) spelling is silently ignored
    return reader.text(path, wholetext=whole_text)


def read_xml(
    spark: SparkSession,
    path: str,
    *,
    row_tag: str,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """XML scan (Spark 4 NATIVE ``xml`` source — no external package):
    one row per ``row_tag`` element, attributes surfaced with the
    ``_`` prefix. Same explicit-schema contract as the other readers —
    inference costs a full extra pass, so 100 TB scans must pass
    ``schema``. XML is splittable by row tag in the native source, so
    a big file still parallelizes; prefer converting to parquet at
    landing all the same (XML parse cost is paid per scan)."""
    reader = spark.read.format("xml").option("rowTag", row_tag).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
) -> DataFrame:
    """Binary-file scan (``binaryFile`` format): one row per file with
    (path, modificationTime, length, content binary) — the ingest
    entry point for the multimodal column pipeline
    (operators/multimodal.py), which treats payloads as opaque binary
    plus typed metadata. Each file is one row/task; at 100 TB of
    small media files, pack them into parquet binary columns early
    (this reader is the packer's input) rather than scanning millions
    of tiny objects repeatedly."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
