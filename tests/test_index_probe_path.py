"""The shared probe path of the persisted-index searches
(``operators/indexstore.py``: ``collect_probe_batch`` / ``read_store``;
``sources/arrow.py``: ``arrow_frame``): one read of the caller's batch, a pinned
job count per family, probes whose partition directory is missing, the
batch ceiling, driver-local existence checks for optional stores, and
the release of superseded local checkpoints."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.caching import release_intermediates
from spatially_databricks_etl_spark.operators import dedup, retrieval, similarity
from spatially_databricks_etl_spark.operators.embeddings import pq_train
from spatially_databricks_etl_spark.operators.indexstore import (
    read_meta_sidecar,
    write_meta_sidecar,
)
from spatially_databricks_etl_spark.session import load_table
from tests.conftest import SF_DIR

TEXT_SCHEMA = "doc_id long, text string"
QUERY_SCHEMA = "query_id long, query string"
VEC_SCHEMA = "query_id long, embedding array<float>"


@pytest.fixture(scope="module")
def inputs(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    drows = docs.filter(F.col("doc_id") < 4).orderBy("doc_id").collect()
    erows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    return {
        "docs": docs,
        "emb": emb,
        # exact copies of indexed documents under new ids, so every
        # dedup family finds a match
        "text": [(100_000 + r["doc_id"], r["text"]) for r in drows],
        "query": [(i, " ".join(r["text"].split()[:4])) for i, r in enumerate(drows)],
        "vec": [(i, list(r["embedding"])) for i, r in enumerate(erows)],
        "cents": similarity.ivf_build(emb, n_centroids=8, kmeans_iters=1),
    }


def _families(inputs, spark):
    """Per family: (build, delete, compact, search, batch kind)."""
    docs, emb, cents = inputs["docs"], inputs["emb"], inputs["cents"]
    cb = pq_train(emb, m=8, k=8, kmeans_iters=1)
    return {
        "minhash": (
            lambda p: dedup.minhash_write_index(docs, p),
            dedup.minhash_delete_index,
            dedup.minhash_compact_index,
            lambda b, p, **kw: dedup.minhash_search_index(b, p, **kw),
            "text",
        ),
        "simhash": (
            lambda p: dedup.simhash_write_index(docs, p),
            dedup.simhash_delete_index,
            dedup.simhash_compact_index,
            lambda b, p, **kw: dedup.simhash_search_index(b, p, **kw),
            "text",
        ),
        "bm25": (
            lambda p: retrieval.bm25_write_index(docs, p),
            retrieval.bm25_delete_index,
            retrieval.bm25_compact_index,
            lambda b, p, **kw: retrieval.bm25_search_index(b, p, k=5, **kw),
            "query",
        ),
        "lsh": (
            lambda p: similarity.lsh_write_index(emb, p, planes=4),
            similarity.lsh_delete_index,
            similarity.lsh_compact_index,
            lambda b, p, **kw: similarity.lsh_search_index(b, p, k=5, **kw),
            "vec",
        ),
        "ivf": (
            lambda p: similarity.ivf_write_index(emb, p, centroids=cents),
            similarity.ivf_delete_index,
            similarity.ivf_compact_index,
            lambda b, p, **kw: similarity.ivf_search_index(b, p, k=5, nprobe=2, **kw),
            "vec",
        ),
        "ivfpq": (
            lambda p: similarity.ivfpq_write_index(emb, p, centroids=cents, codebooks=cb),
            similarity.ivfpq_delete_index,
            similarity.ivfpq_compact_index,
            lambda b, p, **kw: similarity.ivfpq_search_index(b, p, k=5, nprobe=2, **kw),
            "vec",
        ),
    }


@pytest.fixture(scope="module")
def indexes(spark, inputs, tmp_path_factory):
    """Every family built once, tombstone-deleted and compacted: the
    state a search after compaction sees (no ``_tombstones``)."""
    root = tmp_path_factory.mktemp("probe_path")
    out = {}
    for fam, (build, delete, compact, search, kind) in _families(inputs, spark).items():
        path = str(root / fam)
        build(path)
        id_col = "vec_id" if kind == "vec" else "doc_id"
        delete(spark.createDataFrame([(400,), (401,)], f"{id_col} long"), path)
        compact(spark, path)
        assert not os.path.exists(os.path.join(path, "_tombstones"))
        out[fam] = (path, search, kind)
    return out


SCHEMAS = {"text": TEXT_SCHEMA, "query": QUERY_SCHEMA, "vec": VEC_SCHEMA}

#: Spark jobs of one search of a compacted index, build and collect
#: together. The batch collect is one action (MinHash and SimHash
#: fingerprint the batch through shuffles, each shuffle stage its own
#: job under AQE); no schema-inference or listing job reads the index
#: stores. MinHash also keeps its candidate-side ``__pb`` probe, which
#: reads the index, not the batch.
SEARCH_JOBS = {"minhash": 11, "simhash": 6, "bm25": 6, "lsh": 4, "ivf": 4, "ivfpq": 6}


def _counted_batch(spark, rows, schema):
    """A batch frame over a 2-partition RDD whose accumulator counts
    every row any job reads from it."""
    acc = spark.sparkContext.accumulator(0)

    def tick(r):
        acc.add(1)
        return r

    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 2).map(tick), schema), acc


@pytest.mark.parametrize("fam", sorted(SEARCH_JOBS))
def test_search_reads_the_batch_once_with_pinned_jobs(spark, inputs, indexes, fam):
    path, search, kind = indexes[fam]
    rows = inputs[kind]
    batch, acc = _counted_batch(spark, rows, SCHEMAS[kind])
    sc = spark.sparkContext
    group = f"probe-path-{fam}"
    sc.setJobGroup(group, group)
    try:
        out = search(batch, path)
        # built: the batch has been read exactly once, by the collect
        assert acc.value == len(rows)
        got = out.collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    release_intermediates(out)
    # the final query reads the Arrow-built probe side, not the batch
    assert acc.value == len(rows)
    assert got
    assert jobs == SEARCH_JOBS[fam], jobs


@pytest.mark.parametrize("fam", sorted(SEARCH_JOBS))
def test_batch_over_the_ceiling_raises(spark, inputs, indexes, fam):
    path, search, kind = indexes[fam]
    batch = spark.createDataFrame(inputs[kind][:3], SCHEMAS[kind])
    with pytest.raises(ValueError, match="exceeds 2 rows"):
        search(batch, path, max_queries=2)
    out = search(batch, path, max_queries=3)
    out.collect()
    release_intermediates(out)


def test_ivf_probe_of_an_empty_cell_matches_in_memory(spark, inputs, tmp_path):
    """A duplicated centroid leaves one of the pair without vectors, so
    its ``__cell`` directory never exists; probing every cell must
    still return exactly the in-memory IVF rows."""
    emb, cents = inputs["emb"], inputs["cents"]
    cents = [*cents, list(cents[0])]
    path = str(tmp_path / "ivf_empty_cell")
    similarity.ivf_write_index(emb, path, centroids=cents)
    missing = [j for j in range(len(cents)) if not os.path.isdir(f"{path}/__cell={j}")]
    assert missing
    queries = spark.createDataFrame(inputs["vec"], VEC_SCHEMA)
    got = similarity.ivf_search_index(queries, path, k=5, nprobe=len(cents))
    want = similarity.ivf_topk(emb, queries, k=5, nprobe=len(cents), centroids=cents)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert {key(r): (r["neighbor_id"], r["cosine_sim"]) for r in got.collect()} == {
        key(r): (r["neighbor_id"], r["cosine_sim"]) for r in want.collect()
    }
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert any("PartitionFilters" in ln and "__cell" in ln for ln in plan.splitlines())


def _hamming_pairs(spark, batch_rows, corpus, max_hamming=3):
    """Brute force: every (batch, corpus) pair within ``max_hamming``."""
    codes = lambda df: {  # noqa: E731
        r["__id"]: r["__sh"]
        for r in dedup.simhash_codes(
            df.select(F.col("doc_id").alias("__id"), F.col("text").alias("__text"))
        ).collect()
    }
    b = codes(spark.createDataFrame(batch_rows, TEXT_SCHEMA))
    c = codes(corpus)
    return {
        (i, j, bin((x ^ y) & (2**64 - 1)).count("1"))
        for i, x in b.items()
        for j, y in c.items()
        if bin((x ^ y) & (2**64 - 1)).count("1") <= max_hamming
    }


def test_simhash_probes_of_missing_bucket_directories(spark, inputs, tmp_path):
    """With 2^16 chunk buckets over 60 documents most probed ``__cb``
    directories do not exist: a batch mixing present and missing
    directories returns the brute-force pairs, and a batch whose every
    probe is missing returns nothing — without a failed read."""
    corpus = inputs["docs"].filter(F.col("doc_id") < 60)
    path = str(tmp_path / "simhash_sparse")
    dedup.simhash_write_index(corpus, path, hash_buckets=1 << 16)

    mixed = [inputs["text"][0], (200_001, "volcanoes glaciers drifting over quiet basalt plains")]
    got = {tuple(r) for r in dedup.simhash_search_index(spark.createDataFrame(mixed, TEXT_SCHEMA), path).collect()}
    assert got == _hamming_pairs(spark, mixed, corpus) and got

    novel = [(200_002, "entirely novel content about volcanoes and glaciers drifting")]
    routed = dedup.simhash_codes(
        spark.createDataFrame(novel, TEXT_SCHEMA).select(
            F.col("doc_id").alias("__id"), F.col("text").alias("__text")
        )
    ).select(F.explode(dedup._simhash_chunk_structs(chunks=4, hash_buckets=1 << 16)).alias("b"))
    cbs = [r["b"]["cb"] for r in routed.collect()]
    assert not any(os.path.isdir(f"{path}/bands/__cb={v}") for v in cbs)
    assert _hamming_pairs(spark, novel, corpus) == set()
    assert dedup.simhash_search_index(spark.createDataFrame(novel, TEXT_SCHEMA), path).collect() == []


def test_compacted_search_never_reads_missing_tombstones(spark, inputs, indexes, monkeypatch):
    """Once an ``Observation`` is registered (``minhash_near_dedup``
    attaches one), every failed ``spark.read`` is re-analysed and
    logged as an ERROR. Searches of compacted indexes decide that no
    ``_tombstones`` exist on the driver's filesystem and never ask
    Spark to read them."""
    from pyspark.sql.readwriter import DataFrameReader

    pairs = dedup.minhash_near_dedup(inputs["docs"].limit(50), threshold=0.7)
    pairs.collect()
    release_intermediates(pairs)

    read_paths: list[str] = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    for fam in ("minhash", "simhash", "bm25", "ivf"):
        path, search, kind = indexes[fam]
        out = search(spark.createDataFrame(inputs[kind], SCHEMAS[kind]), path)
        out.collect()
        release_intermediates(out)
    assert read_paths
    assert not [p for p in read_paths if "_tombstones" in p], read_paths


def test_read_meta_sidecar_skips_foreign_and_torn_files(tmp_path):
    side = str(tmp_path / "_meta")
    write_meta_sidecar(side, "params_json", {"k": 3})
    # sorts before the real part file: a foreign JSON row, a torn line
    with open(os.path.join(side, "a_foreign.json"), "w") as fh:
        fh.write(json.dumps({"other": 1}) + "\n" + '{"params_json": "{\\"k\\"' + "\n")
    assert read_meta_sidecar(side, "params_json") == {"k": 3}

    only_foreign = str(tmp_path / "_foreign")
    os.makedirs(only_foreign)
    with open(os.path.join(only_foreign, "a.json"), "w") as fh:
        fh.write(json.dumps({"other": 1}) + "\n")
    with pytest.raises(FileNotFoundError):
        read_meta_sidecar(only_foreign, "params_json")


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _rdds_read(df) -> set[int]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        int(leaves.apply(i).rdd().id())
        for i in range(leaves.length())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def test_training_and_components_free_superseded_checkpoints(spark, inputs):
    """``bpe_train`` / ``wordpiece_train_encode`` checkpoint their
    symbol table every round and ``connected_components`` its labels
    every iteration; after ``release_intermediates`` on the result,
    only checkpoints the result itself reads may stay persisted."""
    from spatially_databricks_etl_spark.operators.curate import (
        bpe_train,
        connected_components,
        wordpiece_train_encode,
    )

    docs = inputs["docs"]
    chain = spark.createDataFrame([(i, i + 1) for i in range(6)], "id_a long, id_b long")
    calls = {
        "bpe_train": lambda: (bpe_train(docs, merges=3),),
        "wordpiece_train_encode": lambda: wordpiece_train_encode(docs, merges=3),
        "connected_components": lambda: (connected_components(chain),),
    }
    for name, call in calls.items():
        before = _persisted(spark)
        results = call()
        for r in results:
            r.collect()
            release_intermediates(r)
        kept = set().union(*(_rdds_read(r) for r in results))
        left = _persisted(spark) - before - kept
        assert not left, (name, sorted(left))
    # with no iteration the labels still read the edge checkpoint
    zero = connected_components(chain, max_iterations=0).collect()
    assert sorted((r["id"], r["component"]) for r in zero) == [(i, i) for i in range(7)]
