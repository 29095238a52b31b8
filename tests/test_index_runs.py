"""Appends to the partitioned persisted indexes (MinHash, SimHash, LSH,
IVF, IVF-PQ) publish one sorted run per store (``indexstore.write_runs``)
beside the partition directories: searches read the partitions united
with the runs (``indexstore.read_store``), compaction folds the runs
into the partitions and an upsert the runs holding its ids into one
replacement run while it rewrites only the partitions its batch leaves
or enters, a run is
published by one rename, and a crashed upsert swap with runs present
heals with every row visible exactly once."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.caching import release_intermediates
from spatially_databricks_etl_spark.operators import dedup, similarity
from spatially_databricks_etl_spark.operators.embeddings import pq_train
from spatially_databricks_etl_spark.operators.indexstore import (
    RUNS_DIR,
    heal_partition_swap,
    list_runs,
    read_store,
    swap_partitions,
)
from spatially_databricks_etl_spark.session import load_table
from spatially_databricks_etl_spark.sources.files import scan_parquet
from tests.conftest import SF_DIR

BASE = 300  # ids below are built, ids in [BASE, BASE + BATCH) appended
BATCH = 40
TEXT_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>"

#: Per family: the stores (sub-directory, partition column, the columns
#: that identify one row) and the batch kind.
STORES = {
    "minhash": ([("bands", "__bhb", ("__id", "__band")), ("shingles", "__pb", ("__id",))], "text"),
    "simhash": ([("bands", "__cb", ("__id", "__chunk")), ("codes", "__pb", ("__id",))], "text"),
    "lsh": ([("", "__bucket", ("vec_id",))], "vec"),
    "ivf": ([("", "__cell", ("vec_id",))], "vec"),
    "ivfpq": ([("", "__cell", ("vec_id",))], "vec"),
}
FAMILIES = sorted(STORES)


@pytest.fixture(scope="module")
def data(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    base_emb = emb.filter(F.col("vec_id") < BASE)
    text = {r["doc_id"]: r["text"] for r in docs.collect()}
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    return {
        "docs": docs,
        "emb": emb,
        "text": text,
        "vecs": vecs,
        "cents": similarity.ivf_build(base_emb, n_centroids=8, kmeans_iters=1),
        "cb": pq_train(base_emb, m=8, k=8, kmeans_iters=1),
    }


def _ops(data, fam):
    """(build(corpus, path, variant), append, upsert, compact, search)
    for one family; ``variant`` builds with another bucket or cell
    count."""
    cents, cb = data["cents"], data["cb"]
    if fam == "minhash":
        return (
            lambda c, p, v=False: dedup.minhash_write_index(c, p, hash_buckets=256 if v else 64),
            dedup.minhash_append_index,
            dedup.minhash_upsert_index,
            dedup.minhash_compact_index,
            lambda b, p: dedup.minhash_search_index(b, p, threshold=0.5),
        )
    if fam == "simhash":
        return (
            lambda c, p, v=False: dedup.simhash_write_index(c, p, hash_buckets=256 if v else 64),
            dedup.simhash_append_index,
            dedup.simhash_upsert_index,
            dedup.simhash_compact_index,
            dedup.simhash_search_index,
        )
    if fam == "lsh":
        return (
            lambda c, p, v=False: similarity.lsh_write_index(c, p, planes=6 if v else 4),
            similarity.lsh_append_index,
            similarity.lsh_upsert_index,
            similarity.lsh_compact_index,
            lambda b, p: similarity.lsh_search_index(b.withColumnRenamed("vec_id", "query_id"), p, k=5),
        )
    cells = cents[:2] if fam == "ivf" else cents[:3]
    if fam == "ivf":
        return (
            lambda c, p, v=False: similarity.ivf_write_index(c, p, centroids=cells if v else cents),
            similarity.ivf_append_index,
            similarity.ivf_upsert_index,
            similarity.ivf_compact_index,
            lambda b, p: similarity.ivf_search_index(
                b.withColumnRenamed("vec_id", "query_id"), p, k=5, nprobe=2
            ),
        )
    return (
        lambda c, p, v=False: similarity.ivfpq_write_index(
            c, p, centroids=cells if v else cents, codebooks=cb
        ),
        similarity.ivfpq_append_index,
        similarity.ivfpq_upsert_index,
        similarity.ivfpq_compact_index,
        lambda b, p: similarity.ivfpq_search_index(
            b.withColumnRenamed("vec_id", "query_id"), p, k=5, nprobe=2
        ),
    )


def _frame(spark, data, fam, ids, override=None):
    """The corpus rows of ``ids`` (text or vectors), with ``override``
    ({id: source id}) taking another row's content."""
    override = override or {}
    kind = STORES[fam][1]
    src = data["text"] if kind == "text" else data["vecs"]
    rows = [(i, src[override.get(i, i)]) for i in ids]
    return spark.createDataFrame(rows, TEXT_SCHEMA if kind == "text" else VEC_SCHEMA)


def _probes(spark, data, fam):
    """Copies of base, appended and replacement rows under new ids."""
    kind = STORES[fam][1]
    src = data["text"] if kind == "text" else data["vecs"]
    picks = [3, 7, BASE + 2, BASE + 11, 450, 460]
    return spark.createDataFrame(
        [(900_000 + i, src[i]) for i in picks],
        TEXT_SCHEMA if kind == "text" else VEC_SCHEMA,
    )


#: The upsert batch: a base id and an appended id take another
#: document's content, and one new id lands.
UPSERT = {5: 450, BASE + 3: 460, 470: 470}


def _rows(df):
    out = sorted(map(tuple, df.collect()))
    release_intermediates(df)
    return out


def _store_dirs(path, fam):
    return [(os.path.join(path, sub) if sub else path, pcol, key) for sub, pcol, key in STORES[fam][0]]


def _data_files(root):
    return sorted(
        os.path.relpath(f, root)
        for f in glob.glob(f"{root}/*=*/*")
        if not os.path.basename(f).startswith(("_", "."))
    )


@pytest.fixture(scope="module")
def indexes(spark, data, tmp_path_factory):
    """Per family: an index built on the base ids and appended with the
    batch (``live``, with the partition files present before the
    append), a rebuild on base ∪ batch, and a variant built with another
    bucket or cell count that took the same append."""
    root = tmp_path_factory.mktemp("index_runs")
    base_ids, batch_ids = list(range(BASE)), list(range(BASE, BASE + BATCH))
    out = {}
    for fam in FAMILIES:
        build, append, *_ = _ops(data, fam)
        live, rebuilt, variant = (str(root / f"{fam}_{n}") for n in ("live", "rebuilt", "variant"))
        build(_frame(spark, data, fam, base_ids), live)
        before = {s: _data_files(s) for s, _, _ in _store_dirs(live, fam)}
        append(_frame(spark, data, fam, batch_ids), live)
        build(_frame(spark, data, fam, base_ids + batch_ids), rebuilt)
        build(_frame(spark, data, fam, base_ids[:40]), variant, True)
        append(_frame(spark, data, fam, batch_ids), variant)
        out[fam] = {"live": live, "rebuilt": rebuilt, "variant": variant, "before": before}
    return out


def _copy(src, dst):
    shutil.copytree(src, dst)
    return dst


@pytest.mark.parametrize("fam", FAMILIES)
def test_append_publishes_one_run_per_store(fam, indexes):
    ix = indexes[fam]
    for (store, _, _), (vstore, _, _) in zip(
        _store_dirs(ix["live"], fam), _store_dirs(ix["variant"], fam)
    ):
        runs, vruns = list_runs(store), list_runs(vstore)
        assert len(runs) == 1 and len(vruns) == 1, (runs, vruns)
        assert os.path.basename(runs[0]).startswith("run-v")
        assert sorted(os.listdir(os.path.join(store, RUNS_DIR))) == [os.path.basename(runs[0])]
        # the partition directories took no file
        assert _data_files(store) == ix["before"][store]
        files = glob.glob(f"{runs[0]}/*.parquet")
        # the file count follows the batch, not the bucket/cell count
        assert 1 <= len(files) == len(glob.glob(f"{vruns[0]}/*.parquet"))


def _search_jobs(spark, search, batch, path, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = _rows(search(batch, path))
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    return rows, jobs


@pytest.mark.parametrize("fam", FAMILIES)
def test_runs_search_equals_rebuild_and_compaction_folds_them(spark, data, fam, indexes, tmp_path):
    ix = indexes[fam]
    *_, compact, search = _ops(data, fam)
    probes = _probes(spark, data, fam)
    got, jobs = _search_jobs(spark, search, probes, ix["live"], f"runs-{fam}")
    assert got and got == _rows(search(probes, ix["rebuilt"]))

    compacted = _copy(ix["live"], str(tmp_path / "compacted"))
    compact(spark, compacted)
    for store, _, _ in _store_dirs(compacted, fam):
        assert not os.path.exists(os.path.join(store, RUNS_DIR))
    again, cjobs = _search_jobs(spark, search, probes, compacted, f"compacted-{fam}")
    assert again == got
    # reading the runs beside the partitions adds no job
    assert jobs == cjobs, (jobs, cjobs)


def _assert_each_row_once(spark, path, fam, expected_ids):
    for store, pcol, key in _store_dirs(path, fam):
        df = read_store(spark, store, pcol)
        dup = df.groupBy(*key).count().filter("count > 1").count()
        assert dup == 0, (store, dup)
        ids = {r[0] for r in df.select(key[0]).distinct().collect()}
        assert ids <= expected_ids, sorted(ids - expected_ids)[:5]


def _upsert_rebuilt(spark, data, fam, path, batch=UPSERT):
    build, *_ = _ops(data, fam)
    ids = sorted(set(range(BASE + BATCH)) | set(batch))
    build(_frame(spark, data, fam, ids, batch), path)
    return path


def _upsert_keys(spark, store, pcol, key):
    """The partition keys holding rows of the upsert batch's ids."""
    df = read_store(spark, store, pcol).filter(F.col(key[0]).isin(list(UPSERT)))
    return {f"{pcol}={r[0]}" for r in df.select(pcol).distinct().collect()}


def _partition_files(root):
    out = {}
    for f in _data_files(root):
        d, name = f.split(os.sep, 1)
        out.setdefault(d, set()).add(name)
    return out


@pytest.mark.parametrize("fam", FAMILIES)
def test_upsert_after_append_folds_runs_and_equals_rebuild(spark, data, fam, indexes, tmp_path):
    """The upsert rewrites only the partitions its ids leave or enter,
    not every partition a run holds rows of, and replaces the runs by
    one run under the newest run's name."""
    ix = indexes[fam]
    _, _, upsert, _, search = _ops(data, fam)
    live = _copy(ix["live"], str(tmp_path / "live"))
    stores = _store_dirs(live, fam)
    runs = {s: [os.path.basename(r) for r in list_runs(s)] for s, _, _ in stores}
    files = {s: _partition_files(s) for s, _, _ in stores}
    old_keys = {s: _upsert_keys(spark, s, pcol, key) for s, pcol, key in stores}
    upsert(_frame(spark, data, fam, sorted(UPSERT), UPSERT), live)
    rebuilt = _upsert_rebuilt(spark, data, fam, str(tmp_path / "rebuilt"))
    for (store, pcol, key), (rstore, _, _) in zip(stores, _store_dirs(rebuilt, fam)):
        assert [os.path.basename(r) for r in list_runs(store)] == runs[store][-1:]
        after = _partition_files(store)
        changed = {d for d in set(after) | set(files[store]) if after.get(d) != files[store].get(d)}
        allowed = old_keys[store] | _upsert_keys(spark, rstore, pcol, key)
        assert changed and changed <= allowed, sorted(changed - allowed)
    probes = _probes(spark, data, fam)
    assert _rows(search(probes, live)) == _rows(search(probes, rebuilt))
    _assert_each_row_once(spark, live, fam, set(range(BASE + BATCH)) | set(UPSERT))


#: An upsert whose ids all live in the partition directories, none in
#: a run.
BASE_UPSERT = {5: 450}


def _run_state(store):
    return [(r, sorted(os.listdir(r)), os.stat(r).st_ino) for r in list_runs(store)]


@pytest.mark.parametrize("fam", FAMILIES)
def test_upsert_leaves_runs_without_its_ids_untouched(spark, data, fam, indexes, tmp_path):
    """A run holding no batch id is neither rewritten nor moved."""
    ix = indexes[fam]
    _, _, upsert, _, search = _ops(data, fam)
    live = _copy(ix["live"], str(tmp_path / "live"))
    stores = [s for s, _, _ in _store_dirs(live, fam)]
    before = {s: _run_state(s) for s in stores}
    upsert(_frame(spark, data, fam, sorted(BASE_UPSERT), BASE_UPSERT), live)
    for s in stores:
        assert before[s] and _run_state(s) == before[s]
    rebuilt = _upsert_rebuilt(spark, data, fam, str(tmp_path / "rebuilt"), BASE_UPSERT)
    probes = _probes(spark, data, fam)
    assert _rows(search(probes, live)) == _rows(search(probes, rebuilt))
    _assert_each_row_once(spark, live, fam, set(range(BASE + BATCH)))


@pytest.mark.parametrize("fam", FAMILIES)
def test_crash_between_staging_and_rename_leaves_run_invisible(
    spark, data, fam, indexes, tmp_path, monkeypatch
):
    ix = indexes[fam]
    _, append, _, _, search = _ops(data, fam)
    live = _copy(ix["live"], str(tmp_path / "live"))
    runs = {s: list_runs(s) for s, _, _ in _store_dirs(live, fam)}
    real = os.rename

    def crash(src, dst):
        if "/.staging-" in str(src):
            raise OSError("crash before publishing")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="crash before publishing"):
        append(_frame(spark, data, fam, [480, 481, 482]), live)
    monkeypatch.setattr(os, "rename", real)
    for store, _, _ in _store_dirs(live, fam):
        assert list_runs(store) == runs[store]
        assert glob.glob(f"{store}/{RUNS_DIR}/.staging-*")  # staged, never published
    probes = _probes(spark, data, fam)
    assert _rows(search(probes, live)) == _rows(search(probes, ix["live"]))


@pytest.mark.parametrize("fam", FAMILIES)
def test_crash_inside_upsert_swap_heals_each_row_once(
    spark, data, fam, indexes, tmp_path, monkeypatch
):
    """The crash lands after the old partitions and the folded runs
    moved aside and one staged partition was installed: the heal
    finishes the swap, no row is lost or shown twice, and re-running
    the upsert equals a rebuild."""
    ix = indexes[fam]
    _, _, upsert, _, search = _ops(data, fam)
    live = _copy(ix["live"], str(tmp_path / "live"))
    runs = {s: [os.path.basename(r) for r in list_runs(s)] for s, _, _ in _store_dirs(live, fam)}
    before = {
        s: {r[0] for r in read_store(spark, s, pcol).select(key[0]).distinct().collect()}
        for s, pcol, key in _store_dirs(live, fam)
    }
    real, installs = os.rename, []

    def crash(src, dst):
        if ".__upsert_staged" in str(src):
            installs.append(src)
            if len(installs) == 2:
                raise OSError("crash inside the swap")
        return real(src, dst)

    batch = _frame(spark, data, fam, sorted(UPSERT), UPSERT)
    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="crash inside the swap"):
        upsert(batch, live)
    monkeypatch.setattr(os, "rename", real)
    crashed = [s for s, _, _ in _store_dirs(live, fam) if os.path.isdir(f"{s}.__upsert_old")]
    assert len(crashed) == 1
    assert heal_partition_swap(crashed[0]) is True
    assert not os.path.exists(f"{crashed[0]}.__upsert_old")
    # the old runs are gone and the replacement run took the newest name
    assert [os.path.basename(r) for r in list_runs(crashed[0])] == runs[crashed[0]][-1:]
    expected = set(range(BASE + BATCH)) | set(UPSERT)
    _assert_each_row_once(spark, live, fam, expected)
    for store, pcol, key in _store_dirs(live, fam):
        ids = {r[0] for r in read_store(spark, store, pcol).select(key[0]).distinct().collect()}
        assert before[store] <= ids, sorted(before[store] - ids)[:5]

    upsert(batch, live)
    rebuilt = _upsert_rebuilt(spark, data, fam, str(tmp_path / "rebuilt"))
    probes = _probes(spark, data, fam)
    assert _rows(search(probes, live)) == _rows(search(probes, rebuilt))


def test_read_store_without_runs_is_the_partition_read(spark, indexes):
    """With no run, ``read_store`` is exactly the directory read: the
    same analysed plan, and no job to build it."""
    store = indexes["ivf"]["rebuilt"]
    assert list_runs(store) == []
    sc = spark.sparkContext
    sc.setJobGroup("read-store", "read-store")
    try:
        got = read_store(spark, store, "__cell")
        probed = read_store(spark, store, "__cell", [0, 1])
        jobs = len(sc.statusTracker().getJobIdsForGroup("read-store"))
    finally:
        sc.setJobGroup("", "")
    assert jobs == 0
    def plan(df):
        return re.sub(r"#\d+L?", "", df._jdf.queryExecution().analyzed().toString())

    assert plan(got) == plan(scan_parquet(spark, store))
    assert "Union" not in plan(probed)


def _swap_dirs(tmp_path, live_dirs, staged_dirs):
    """A live store and a staged rewrite of one-file directories, each
    file holding its directory's name (``new ...`` when staged)."""
    live, staged = tmp_path / "idx", tmp_path / "idx.__upsert_staged"
    for d in live_dirs:
        (live / d).mkdir(parents=True)
        (live / d / "part-0.parquet").write_text(d)
    for d in staged_dirs:
        (staged / d).mkdir(parents=True)
        (staged / d / "part-0.parquet").write_text(f"new {d}")
    return live, staged


def test_heal_finishes_a_swap_that_crashed_moving_runs_aside(tmp_path):
    """A planned swap that crashed while moving its runs aside (nothing
    installed yet) is finished by the heal: every affected partition
    ends with its staged content and the folded runs are replaced by
    the staged run under the newest folded name, while a run published
    after the upsert read the store stays."""
    import json

    live, staged = _swap_dirs(
        tmp_path,
        ("p=1", "p=2", f"{RUNS_DIR}/run-v2", f"{RUNS_DIR}/run-v3", f"{RUNS_DIR}/run-v5"),
        ("p=1", "p=3", f"{RUNS_DIR}/folded"),
    )
    old = tmp_path / "idx.__upsert_old"
    (old / RUNS_DIR).mkdir(parents=True)
    plan = {
        "staged": str(staged),
        "partitions": ["p=1", "p=2", "p=3"],
        "runs": ["run-v2", "run-v3"],
        "run": "run-v3",
    }
    (old / "_plan.json").write_text(json.dumps(plan))
    os.rename(live / "p=1", old / "p=1")  # moved aside
    os.rename(live / RUNS_DIR / "run-v2", old / RUNS_DIR / "run-v2")  # then the crash
    assert heal_partition_swap(str(live)) is True
    assert sorted(os.listdir(live)) == [RUNS_DIR, "p=1", "p=3"]
    assert (live / "p=1" / "part-0.parquet").read_text() == "new p=1"
    assert sorted(os.listdir(live / RUNS_DIR)) == ["run-v3", "run-v5"]
    assert (live / RUNS_DIR / "run-v3" / "part-0.parquet").read_text() == f"new {RUNS_DIR}/folded"
    assert not old.exists() and not staged.exists()
    assert heal_partition_swap(str(live)) is False


def test_crash_while_deleting_the_old_copies_restores_nothing(tmp_path, monkeypatch):
    """A crash inside the last delete of a swap, after it removed the
    plan but not every old copy, must not bring an old partition back:
    ``p=1`` had its only rows moved to ``p=2``, so a restored ``p=1``
    would show them twice."""
    live, staged = _swap_dirs(
        tmp_path, ("p=1", "p=2", f"{RUNS_DIR}/run-v2"), ("p=2", f"{RUNS_DIR}/folded")
    )
    real = shutil.rmtree

    def crash(path, *args, **kwargs):
        plan = os.path.join(path, "_plan.json")
        if os.path.exists(plan):
            os.remove(plan)
            raise OSError("crash while deleting the old copies")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(OSError, match="crash while deleting"):
        swap_partitions(str(staged), str(live), "p", [1, 2], [str(live / RUNS_DIR / "run-v2")])
    monkeypatch.setattr(shutil, "rmtree", real)
    assert heal_partition_swap(str(live)) is True
    assert sorted(os.listdir(live)) == [RUNS_DIR, "p=2"]
    assert (live / "p=2" / "part-0.parquet").read_text() == "new p=2"
    assert os.listdir(live / RUNS_DIR) == ["run-v2"]
    assert (live / RUNS_DIR / "run-v2" / "part-0.parquet").read_text() == f"new {RUNS_DIR}/folded"
    assert sorted(os.listdir(tmp_path)) == ["idx"]
    assert heal_partition_swap(str(live)) is False
