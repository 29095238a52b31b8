"""Versioned parquet tables: snapshot writes + time travel + diff +
retention on a plain object store — the minimal transactional-table
surface (what Delta/Iceberg provide via their logs) expressible
without any installable dependency. No reference analog — the
reference's sink is a blind full-table overwrite (`Spatially ETL
test.py:237`): one bad run destroys the previous state with no way
back; this module is the remedy shape.

Layout:

- ``{path}/_snapshots/v=N/`` — each write lands a COMPLETE immutable
  snapshot directory (never mutated after commit);
- ``{path}/_manifest/`` — a one-row JSON pointer naming the current
  version. Readers resolve the pointer first, then read exactly one
  snapshot directory — so a concurrent writer can fully stage v=N+1
  and flip the pointer without a reader ever seeing a half-written
  table (the manifest flip is the commit point; on a real object
  store that is one small-object PUT).

Semantics and their limits, stated honestly: this gives atomic
publish + time travel + retention, with OPTIMISTIC concurrency for
multi-writer races — each writer stages under a unique directory and
commits via a version-checked, existence-arbitrated rename, so a
losing concurrent writer raises :class:`ConcurrentWriteError` instead
of silently clobbering the winner (see :func:`versioned_write`). It
snapshots whole tables, not row-level deltas — for MERGE-grade row
transactions use a real table format (``sinks/writers.py`` already
routes to Delta when the provider is installed; SCALE.md "Dependency
gates"). Incremental
row-level history lives in the CDC operators (`operators/relational:
cdc_apply`, `snapshot_diff`); :func:`versioned_diff` composes the
latter over any two snapshots.

At 100 TB: a snapshot write costs one table write (unavoidable for a
full publish); time-travel reads are zero-copy (they just point at an
older directory); retention bounds storage to ``keep_last`` snapshots.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_manifest")


def _read_manifest(spark: SparkSession, path: str) -> dict | None:
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.json(_manifest_path(path)).collect()[0]
        return json.loads(row["manifest_json"])
    except (AnalysisException, IndexError):
        return None


def _write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    # stage-and-swap so a reader never sees a half-written pointer;
    # crash-safe (old pointer aside first, deleted last)
    from spatially_databricks_etl_spark.operators.indexstore import swap_directory

    staged = _manifest_path(path) + "__staged"
    spark.createDataFrame(
        [(json.dumps(manifest),)], "manifest_json string"
    ).coalesce(1).write.mode("overwrite").json(staged)
    swap_directory(staged, _manifest_path(path))


class ConcurrentWriteError(RuntimeError):
    """Raised when :func:`versioned_write` detects that another writer
    committed between this write's manifest read and its commit point
    — the loser fails loudly instead of silently clobbering the
    winner's snapshot pointer."""


def versioned_write(df: DataFrame, path: str) -> int:
    """Publish ``df`` as the table's next snapshot and return the new
    version number. The snapshot directory is fully written BEFORE
    the manifest pointer flips — the commit point — so readers only
    ever resolve complete snapshots; a crash mid-write leaves an
    orphan directory (cleaned by :func:`versioned_vacuum`), never a
    corrupt table.

    Concurrency: optimistic — the Delta protocol's shape without its
    log. Each writer stages its snapshot under a writer-UNIQUE temp
    directory (so racing writers never touch each other's bytes),
    re-reads the manifest at commit time, and only then renames the
    staged directory to ``v=N+1``; if the version moved, or the
    target snapshot directory already exists (another writer won the
    final window — the rename is the fs-level arbiter),
    :class:`ConcurrentWriteError` raises and the loser's staged copy
    is removed — last write no longer silently wins. The version
    check-then-rename is not a full transaction log (a real table
    format's atomic log append is the fix, gated on the environment
    per SCALE.md), but the unique staging + existence-checked rename
    make every interleaving either a clean commit or a loud,
    retryable error — never silent loss."""
    import uuid

    spark = df.sparkSession
    m = _read_manifest(spark, path) or {"version": 0, "versions": []}
    v = int(m["version"]) + 1
    snaps = os.path.join(path, "_snapshots")
    staged = os.path.join(snaps, f".staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staged)
    cur = _read_manifest(spark, path) or {"version": 0, "versions": []}
    snap = os.path.join(snaps, f"v={v}")
    if int(cur["version"]) != int(m["version"]) or os.path.exists(snap):
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"versioned_write: version moved {m['version']} -> "
            f"{cur['version']} under {path} while staging v={v}; "
            "another writer committed first — re-read and retry"
        )
    try:
        os.rename(staged, snap)
    except OSError as exc:  # the final-window racer: rename arbitrates
        shutil.rmtree(staged, ignore_errors=True)
        raise ConcurrentWriteError(
            f"versioned_write: snapshot v={v} appeared under {path} "
            "during commit; another writer won — re-read and retry"
        ) from exc
    m = {"version": v, "versions": sorted({*cur.get("versions", []), v})}
    _write_manifest(spark, path, m)
    return v


def retry_versioned_write(df: DataFrame, path: str, *, retries: int = 3) -> int:
    """Publish with the standard optimistic-loser loop: re-invoke
    :func:`versioned_write` on :class:`ConcurrentWriteError` — each
    retry re-reads the winner's manifest and stages a fresh snapshot
    (the loser's staging was already removed), so the retry is always
    against current state. After ``retries`` consecutive losses the
    error propagates: sustained contention should be visible, not
    absorbed. The index-family twin is
    ``operators.indexstore.retry_index_mutation``."""
    attempt = 0
    while True:
        try:
            return versioned_write(df, path)
        except ConcurrentWriteError:
            attempt += 1
            if attempt > retries:
                raise


def versioned_read(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or ``version=N`` for time travel.
    Raises on an unknown/vacuumed version instead of silently reading
    nothing."""
    m = _read_manifest(spark, path)
    if m is None:
        raise ValueError(f"versioned_read: no manifest under {path}")
    v = int(m["version"]) if version is None else int(version)
    if v not in set(m["versions"]):
        raise ValueError(
            f"versioned_read: version {v} not available (have {m['versions']} "
            "— it may have been vacuumed)"
        )
    from spatially_databricks_etl_spark.sources.files import scan_parquet

    return scan_parquet(spark, os.path.join(path, "_snapshots", f"v={v}"))


def versioned_diff(
    spark: SparkSession,
    path: str,
    *,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots: composes
    ``operators.relational.snapshot_diff`` (inserted / deleted /
    updated keyed rows) over time-travel reads — the audit question
    every versioned table exists to answer ("what changed between
    yesterday's publish and today's?")."""
    from spatially_databricks_etl_spark.operators.relational import snapshot_diff

    old = versioned_read(spark, path, version=from_version)
    new = versioned_read(spark, path, version=to_version)
    return snapshot_diff(old, new, key_cols=key_cols, compare_cols=compare_cols)


def versioned_vacuum(
    spark: SparkSession,
    path: str,
    *,
    keep_last: int = 2,
    staging_grace_sec: float = 3600.0,
) -> list[int]:
    """Retention: physically drop all but the newest ``keep_last``
    snapshots (plus orphan directories a CRASHED write left behind)
    and shrink the manifest. Returns the dropped version numbers.
    Time-travel reads of dropped versions then fail loudly
    (:func:`versioned_read`'s contract).

    Concurrent-writer safety (ADVICE r11): vacuum must never eat an
    IN-FLIGHT writer's work —

    - ``.staging-*`` directories are deleted only when older than
      ``staging_grace_sec`` (mtime): a fresh one is a live writer
      mid-stage, not a crash orphan;
    - a ``v=N`` directory NEWER than the manifest vacuum read at entry
      is a concurrent writer's commit (or its final rename, manifest
      flip pending) — the manifest is RE-READ immediately before any
      such delete, listed versions are skipped, and an unlisted one is
      removed only past the grace period (a crashed rename→flip
      window, the only way an unlisted ``v=`` directory arises);
    - the final manifest rewrite merges against a fresh re-read
      (version pointer = max(seen), versions = fresh list minus what
      was physically dropped), so a commit that landed mid-vacuum is
      never erased from the manifest.

    Residual window, stated honestly: between the final re-read and
    the manifest write a racing commit's manifest can still interleave
    — the loser is only ever the SHRINK (a vacuumed version may
    linger in the manifest until the next vacuum; reading it raises
    loudly), never a committed snapshot. A real table format's atomic
    log append removes even that (SCALE.md "Dependency gates")."""
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    m = _read_manifest(spark, path)
    if m is None:
        return []
    versions = sorted(m["versions"])
    keep = set(versions[-keep_last:])
    entry_version = int(m["version"])
    snaps = os.path.join(path, "_snapshots")
    now = time.time()
    dropped: list[int] = []
    for name in os.listdir(snaps):
        full = os.path.join(snaps, name)
        if name.startswith(".staging-"):
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue  # vanished — its writer finished or cleaned up
            if age >= staging_grace_sec:
                # old enough that no live writer is mid-stage: a crash
                # (or raced-out loser that failed to clean up) orphan
                shutil.rmtree(full, ignore_errors=True)
            continue
        if not name.startswith("v="):
            continue
        v = int(name.split("=", 1)[1])
        if v in keep:
            continue
        if v > entry_version:
            # appeared after our entry read — a concurrent writer's
            # snapshot, not retention's business. Re-read the manifest
            # NOW: listed → committed, skip; unlisted → possibly the
            # rename→manifest-flip window, delete only past the grace
            # period (then it is a crashed commit's orphan).
            cur = _read_manifest(spark, path) or m
            if v in set(cur.get("versions", [])):
                continue
            try:
                age = now - os.path.getmtime(full)
            except OSError:
                continue
            if age >= staging_grace_sec:
                shutil.rmtree(full, ignore_errors=True)
            continue
        # v <= entry_version and not kept: writers only ever commit
        # version+1 and version never regresses, so nothing concurrent
        # can be mid-commit HERE — safe to drop
        shutil.rmtree(full, ignore_errors=True)
        if v in versions:
            dropped.append(v)
    cur = _read_manifest(spark, path) or m
    merged = sorted(
        (set(cur.get("versions", [])) | keep) - set(dropped)
    )
    _write_manifest(
        spark,
        path,
        {
            "version": max(entry_version, int(cur.get("version", 0))),
            "versions": merged,
        },
    )
    return sorted(dropped)
