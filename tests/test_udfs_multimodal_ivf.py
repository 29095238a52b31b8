"""Tests for the Python-boundary operators (pandas UDF/UDAF/grouped
map/UDTF), multimodal plumbing, IVF ANN, and n-gram Jaccard dedup."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.operators.dedup import ngram_jaccard_pairs
from spatially_databricks_etl_spark.operators.multimodal import (
    attach_media_metadata,
    decode_features,
    fake_decode,
    frame_sample_plan,
)
from spatially_databricks_etl_spark.operators.similarity import brute_force_topk, ivf_topk
from spatially_databricks_etl_spark.operators.udfs import (
    sigmoid_udf,
    tokenize_lateral,
    weighted_mean_udaf,
    zscore_per_group,
)
from spatially_databricks_etl_spark.session import load_table
from tests.conftest import SF_DIR


def test_sigmoid_udf_matches_closed_form(spark):
    df = spark.createDataFrame([(0.0,), (2.0,), (-3.5,)], ["x"])
    got = [r["s"] for r in df.select(sigmoid_udf("x").alias("s")).collect()]
    want = [1 / (1 + math.exp(-x)) for x in (0.0, 2.0, -3.5)]
    assert all(abs(g - w) < 1e-12 for g, w in zip(got, want))


def test_weighted_mean_udaf(spark):
    df = spark.createDataFrame(
        [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0)], ["k", "v", "w"]
    )
    rows = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(weighted_mean_udaf("v", "w").alias("m")).collect()
    }
    assert abs(rows["a"] - (10 * 1 + 20 * 3) / 4.0) < 1e-12
    assert abs(rows["b"] - 5.0) < 1e-12


def test_zscore_per_group_stats(spark):
    df = spark.createDataFrame(
        [(1, "g", 10.0), (2, "g", 20.0), (3, "g", 30.0)], ["id", "grp", "v"]
    )
    out = zscore_per_group(df, "grp", "v", "id").collect()
    zs = sorted(r["zscore"] for r in out)
    assert abs(zs[1]) < 1e-12  # middle value → z = 0
    assert abs(zs[0] + 1.0) < 1e-12 and abs(zs[2] - 1.0) < 1e-12  # ddof=1 → ±1


def test_udtf_tokenize_positions(spark):
    df = spark.createDataFrame([(7, "a b  c")], ["doc_id", "text"])
    rows = sorted(
        (r["pos"], r["tok"]) for r in tokenize_lateral(df, "text", "doc_id").collect()
    )
    # split on single spaces, no collapsing: "a", "b", "", "c"
    assert rows == [(1, "a"), (2, "b"), (3, ""), (4, "c")]


def test_ngram_jaccard_pairs_exact_property(spark):
    d = load_table(spark, SF_DIR, "documents")
    pairs = ngram_jaccard_pairs(d, n=5, threshold=0.7).collect()
    assert pairs, "fixtures contain organic near-dups"
    texts = {r["doc_id"]: r["text"] for r in d.collect()}

    def shingles(t: str) -> set[str]:
        t = t.lower()
        return {t[i : i + 5] for i in range(len(t) - 4)}

    for r in pairs:
        a, b = shingles(texts[r["id_a"]]), shingles(texts[r["id_b"]])
        j = len(a & b) / len(a | b)
        assert abs(j - r["jaccard_sim"]) < 1e-6
        assert j >= 0.7


def test_ivf_recall_against_brute(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=10)
    # build/search split: Lloyd refinement runs ONCE in the build, the
    # search reuses the trained centroids (the 100 TB deployment shape)
    from spatially_databricks_etl_spark.operators.similarity import ivf_build

    cents = ivf_build(emb, n_centroids=16, kmeans_iters=1)
    approx = ivf_topk(emb, queries, k=10, nprobe=4, centroids=cents)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # self-match must always survive (query vector is in its own cell)
    assert all((q, q) in a for q in range(5))
    assert len(a & b) / len(b) >= 0.3, f"recall {len(a & b) / len(b)}"


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The ingest-time index: assignment written partitionBy(cell);
    search must (a) return exactly what the in-memory path returns for
    the same centroids, and (b) read ONLY the probed cells — the scan
    carries a non-empty PartitionFilters on __cell."""
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivf_search_index,
        ivf_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(emb, n_centroids=8, kmeans_iters=1)
    path = str(tmp_path / "ivf_index")
    ivf_write_index(emb, path, centroids=cents)

    out = ivf_search_index(queries, path, k=5, nprobe=2)
    mem = ivf_topk(emb, queries, k=5, nprobe=2, centroids=cents)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got = {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in out.collect()}
    want = {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in mem.collect()}
    assert got == want

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("__cell" in ln and "[]" not in ln.split("PartitionFilters", 1)[1][:60] for ln in pf), pf

    # sidecar round-trip: search without passing centroids explicitly
    out2 = ivf_search_index(queries, path, k=5, nprobe=2)
    assert out2.count() == out.count()


def test_lsh_multiprobe_monotonically_raises_recall(spark):
    """Probing the lowest-margin flip buckets can only ADD candidates
    (each corpus vector lives in one bucket), so recall@10 vs brute
    force must be monotone in multiprobe, and the self-match must
    always survive (a query's own bucket is probed first)."""
    from spatially_databricks_etl_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=10)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}

    def recall(m: int) -> float:
        out = lsh_bucketed_topk(emb, queries, k=10, planes=6, dim=64, multiprobe=m)
        a = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
        assert all((q, q) in a for q in range(5))
        return len(a & b) / len(b)

    r0, r1, r3 = recall(0), recall(1), recall(3)
    assert r0 <= r1 <= r3, (r0, r1, r3)


def test_lsh_multiprobe_recall_floor_organic_sf001(spark):
    """ORGANIC recall guard (the planted ann_lsh_topk oracle verifies
    plumbing, not recall): on the sf0.01 embeddings, recall@10 of
    lsh_bucketed_topk(multiprobe=2) vs brute force is deterministic
    (fixed fixture, seeded planes) and measured at 0.225 — above the
    0.145 the single-bucket probe achieves. The 0.20 floor sits
    between the two, so a probing regression (multiprobe silently
    ignored, margin ordering broken, buckets mis-joined) fails this
    test while fixture-level jitter cannot."""
    from spatially_databricks_etl_spark.operators.similarity import lsh_bucketed_topk

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, queries, k=10).collect()}
    probed = lsh_bucketed_topk(emb, queries, k=10, planes=6, dim=64, multiprobe=2)
    a = {(r["query_id"], r["neighbor_id"]) for r in probed.collect()}
    recall = len(a & brute) / len(brute)
    assert recall >= 0.20, f"multiprobe=2 recall@10 regressed: {recall}"


def test_lsh_persisted_index_matches_in_memory(spark, tmp_path):
    from spatially_databricks_etl_spark.operators.similarity import (
        lsh_bucketed_topk,
        lsh_search_index,
        lsh_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = str(tmp_path / "lsh_index")
    lsh_write_index(emb, path, planes=4, dim=64, seed=42)
    out = lsh_search_index(queries, path, k=5)
    mem = lsh_bucketed_topk(emb, queries, k=5, planes=4, dim=64, seed=42)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got = {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in out.collect()}
    want = {key(r): (r["neighbor_id"], round(r["cosine_sim"], 9)) for r in mem.collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("__bucket" in ln for ln in pf), pf


def test_pca_fit_matches_numpy_on_organic_embeddings(spark):
    """Distributed moment-partial PCA must agree with single-node
    numpy PCA on the same data: same eigenvalues, same components up
    to the shared sign convention, projections reconstructing."""
    from spatially_databricks_etl_spark.operators.embeddings import pca_fit, pca_project

    emb = load_table(spark, SF_DIR, "embeddings")
    model = pca_fit(emb, k=4)

    x = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()])
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    want_ev = evals[order]
    assert np.allclose(model["explained_variance"], want_ev, rtol=1e-8)
    assert np.allclose(model["mean"], mean, rtol=0, atol=1e-9)
    for got_c, ref_c in zip(model["components"], evecs[:, order].T):
        # sign-free comparison; components must be unit-norm
        assert np.isclose(np.abs(np.dot(got_c, ref_c)), 1.0, atol=1e-8)
        assert np.isclose(np.linalg.norm(got_c), 1.0, atol=1e-10)

    # projection expression parity with numpy on a sample row
    out = pca_project(emb, model).filter(F.col("vec_id") == 0).collect()[0]
    np_proj = (x[0] - mean) @ np.asarray(model["components"]).T
    assert np.allclose(out["pca"], np_proj, atol=1e-9)


def test_pca_fit_validates_inputs(spark):
    from spatially_databricks_etl_spark.operators.embeddings import pca_fit

    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        pca_fit(empty)
    one = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least 2"):
        pca_fit(one)
    two = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="<= dim"):
        pca_fit(two, k=5)


def test_ivf_build_empty_corpus_raises(spark):
    from spatially_databricks_etl_spark.operators.similarity import ivf_build

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    import pytest

    with pytest.raises(ValueError, match="empty corpus"):
        ivf_build(empty)


def test_ivf_full_probe_equals_brute(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=5)
    full = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=8)
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in brute.collect()}
    f = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    assert b == f  # probing every cell ≡ exact search


def test_decode_features_matches_fake_decode(spark):
    df = spark.createDataFrame([("1", b"hello"), ("2", None)], ["item_id", "payload"])
    rows = {r["item_id"]: r for r in decode_features(df).collect()}
    want1 = fake_decode(b"hello")
    assert rows["1"]["width"] == want1["width"]
    assert rows["1"]["height"] == want1["height"]
    assert [round(x, 9) for x in rows["1"]["feature"]] == [
        round(x, 9) for x in want1["feature"]
    ]
    assert rows["2"]["width"] == fake_decode(b"")["width"]  # null payload → empty bytes


def test_frame_sample_fanout(spark):
    df = attach_media_metadata(
        spark.createDataFrame([("v1", b"x")], ["item_id", "payload"]), modality="video"
    ).withColumn("media", F.col("media").withField("duration_ms", F.lit(3500)))
    out = frame_sample_plan(df, every_ms=1000).collect()
    assert sorted(r["frame_ts_ms"] for r in out) == [0, 1000, 2000, 3000]


def test_resize_media_updates_payload_and_metadata(spark):
    from spatially_databricks_etl_spark.operators.multimodal import resize_media

    df = spark.createDataFrame(
        [("1", b"x" * 1000), ("2", None)], ["item_id", "payload"]
    )
    out = {r["item_id"]: r for r in resize_media(df, 320, 240).collect()}
    # fake resize keeps pixel-ratio fraction of bytes: (320*240)/(640*480)=0.25
    assert len(out["1"]["payload"]) == 250
    assert out["1"]["media"]["width"] == 320 and out["1"]["media"]["height"] == 240
    assert len(out["2"]["payload"]) == 0  # null payload → empty bytes


def test_connected_components_chain_and_islands(spark):
    from spatially_databricks_etl_spark.operators.curate import connected_components

    # chain 1-2-3 + island pair 10-11 (+ 99 absent from any edge)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_curate_corpus_invariants(spark):
    from spatially_databricks_etl_spark.operators.curate import curate_corpus
    from spatially_databricks_etl_spark.operators.dedup import minhash_near_dedup

    d = load_table(spark, SF_DIR, "documents")
    kept = curate_corpus(d, min_quality=0.0, near_threshold=0.7)
    # no exact text duplicates survive
    assert kept.groupBy("text").count().filter(F.col("count") > 1).count() == 0
    # no near-dup pair survives within the kept set
    assert minhash_near_dedup(kept, threshold=0.7).count() == 0
    # survivors are cluster minima: every dropped doc has a kept doc
    # with a smaller id in its near-dup cluster (spot-check via pairs)
    pairs = minhash_near_dedup(d, threshold=0.7)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for r in pairs.collect():
        assert not (r["id_a"] in kept_ids and r["id_b"] in kept_ids)


def test_quantize_int8_roundtrip_bounds(spark):
    from spatially_databricks_etl_spark.operators.embeddings import (
        dequantize_int8,
        quantize_int8,
    )
    from spatially_databricks_etl_spark.functions.vectors import cosine_similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    q = dequantize_int8(quantize_int8(emb))
    checked = q.select(
        # codes clamp to [-127, 127] by construction
        F.array_min("q").alias("qmin"),
        F.array_max("q").alias("qmax"),
        # per-element |x̂ - x| <= scale/2 (+ float32 read-out slack)
        F.array_max(
            F.zip_with(
                "embedding",
                "embedding_deq",
                lambda a, b: F.abs(a.cast("double") - b),
            )
        ).alias("max_err"),
        (F.col("scale") / 2 + F.lit(1e-6)).alias("bound"),
        cosine_similarity(F.col("embedding"), F.col("embedding_deq")).alias("cos"),
    ).collect()
    assert all(-127 <= r["qmin"] and r["qmax"] <= 127 for r in checked)
    assert all(r["max_err"] <= r["bound"] for r in checked)
    # int8 reconstruction keeps cosine within 0.1% on the fixture
    assert min(r["cos"] for r in checked) >= 0.999


def test_quantize_int8_zero_vector(spark):
    from spatially_databricks_etl_spark.operators.embeddings import quantize_int8

    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    row = quantize_int8(df).collect()[0]
    assert row["scale"] == 0.0
    assert row["q"] == [0, 0, 0]


def test_ivf_over_int8_quantized_corpus_keeps_recall(spark):
    """The 100 TB footprint play END TO END: quantize the corpus to
    int8 (4-8x smaller scan/shuffle/index), dequantize, and run the
    IVF build+search over the reconstruction — recall vs the
    full-precision brute-force truth must hold a floor, and the
    self-match must always survive quantization."""
    from spatially_databricks_etl_spark.operators.embeddings import (
        dequantize_int8,
        quantize_int8,
    )
    from spatially_databricks_etl_spark.operators.similarity import ivf_build

    emb = load_table(spark, SF_DIR, "embeddings")
    deq = (
        dequantize_int8(quantize_int8(emb))
        .select("vec_id", F.col("embedding_deq").alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = brute_force_topk(emb, queries, k=10)  # full-precision truth
    cents = ivf_build(deq, n_centroids=16, kmeans_iters=1)
    approx = ivf_topk(deq, queries, k=10, nprobe=4, centroids=cents)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert all((q, q) in a for q in range(5))
    # same floor as the float IVF test: quantization must not be the
    # thing that breaks retrieval
    assert len(a & b) / len(b) >= 0.3, f"recall {len(a & b) / len(b)}"


def test_audio_window_energy_partial_block_and_values(spark):
    import math

    import pytest as _pytest

    from spatially_databricks_etl_spark.operators.multimodal import (
        audio_window_energy,
    )

    # injected decoder: known samples, length NOT a multiple of the
    # window -> trailing block averages over its own length
    def fake(payload):
        return [3.0, -4.0, 0.0, 12.0, 5.0]

    df = spark.createDataFrame([("a", bytearray(b"x"))], "item_id: string, payload: binary")
    out = {(r.window_idx): r.rms for r in
           audio_window_energy(df, window=2, decode_fn=fake).collect()}
    assert abs(out[0] - math.sqrt((9 + 16) / 2)) < 1e-12
    assert abs(out[1] - math.sqrt((0 + 144) / 2)) < 1e-12
    assert abs(out[2] - 5.0) < 1e-12  # partial block of one sample
    with _pytest.raises(ValueError, match="window"):
        audio_window_energy(df, window=0)


def test_pq_roundtrip_codes_and_recall(spark):
    """PQ: (a) exact duplicates must encode to identical codes, (b)
    codes are m ints in [0, k), (c) shortlist+rerank recall@10 vs
    brute force clears the floor measured for the structureless
    gaussian fixture (PQ's worst case), (d) the exact self-match
    always ranks first after the rerank."""
    from spatially_databricks_etl_spark.operators.embeddings import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq_train(emb, m=16, k=16, kmeans_iters=1)
    assert len(cb) == 16 and len(cb[0]) == 16 and len(cb[0][0]) == 4

    enc = pq_encode(emb.limit(50), cb)
    for r in enc.select("vec_id", "embedding", "pq_code").collect():
        assert len(r["pq_code"]) == 16
        assert all(0 <= c < 16 for c in r["pq_code"])
    # duplicate vectors -> identical codes
    one = emb.limit(1).select("vec_id", "embedding")
    dup = one.select(F.lit(999999).alias("vec_id"), "embedding")
    two = pq_encode(one.unionByName(dup), cb).collect()
    assert two[0]["pq_code"] == two[1]["pq_code"]

    brute = brute_force_topk(emb, queries, k=10)
    approx = pq_topk(emb, queries, codebooks=cb, k=10, shortlist=100)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    ranks = {
        (r["query_id"], r["neighbor_id"]): r["rank"] for r in approx.collect()
    }
    assert all(ranks.get((q, q)) == 1 for q in range(5))
    assert len(a & b) / len(b) >= 0.5, f"recall {len(a & b) / len(b)}"


def test_ann_query_batch_guard_raises_on_oversized_batch(spark):
    """Every ANN entry point collects or broadcasts the query set
    under a size contract; the contract is ENFORCED, not just
    documented — an oversized batch must fail fast with a pointer to
    the batched/indexed alternative, never OOM mid-job."""
    import pytest

    from spatially_databricks_etl_spark.operators.embeddings import pq_topk
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_topk,
        lsh_bucketed_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.limit(20).select(F.col("vec_id").alias("query_id"), "embedding")
    for fn, kwargs in (
        (brute_force_topk, {}),
        (lsh_bucketed_topk, {}),
        (ivf_topk, {"n_centroids": 4}),
    ):
        with pytest.raises(ValueError, match="query batch exceeds"):
            fn(emb, queries, k=3, max_queries=10, **kwargs)
    with pytest.raises(ValueError, match="query batch exceeds"):
        pq_topk(
            emb,
            queries,
            codebooks=[[[0.0] * 32] * 4] * 2,
            k=3,
            max_queries=10,
        )
    # within the ceiling, the guard is invisible
    assert brute_force_topk(emb, queries, k=1, max_queries=20).count() == 20


def test_pq_train_short_corpus_raises_cleanly(spark):
    """A corpus smaller than k must raise the dedicated ValueError —
    validation runs BEFORE dim derivation / codebook construction, so
    no IndexError can pre-empt it."""
    import pytest

    from spatially_databricks_etl_spark.operators.embeddings import pq_train

    emb = load_table(spark, SF_DIR, "embeddings").limit(3)
    with pytest.raises(ValueError, match="need k=16"):
        pq_train(emb, m=4, k=16)


def test_ivf_append_index_matches_full_rebuild(spark, tmp_path):
    """Vector-side incremental ingest: building the IVF index on half
    the corpus then appending the other half must search EXACTLY like
    one full build under the same centroids — cell assignment is
    per-vector with the sidecar's pinned quantizer, so append ≡
    rebuild is an identity, not an approximation. The appended index
    keeps the partition-pruned plan."""
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_append_index,
        ivf_build,
        ivf_search_index,
        ivf_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter("vec_id % 2 = 0")
    second = emb.filter("vec_id % 2 = 1")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(first, n_centroids=8, kmeans_iters=1)

    inc = str(tmp_path / "ivf_inc")
    ivf_write_index(first, inc, centroids=cents)
    ivf_append_index(second, inc)
    full = str(tmp_path / "ivf_full")
    ivf_write_index(emb, full, centroids=cents)

    out = ivf_search_index(queries, inc, k=10, nprobe=3)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, ivf_search_index(queries, full, k=10, nprobe=3).collect()))
    assert got == want and len(got) > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("__cell" in ln for ln in pf), pf


def test_lsh_append_index_matches_full_rebuild(spark, tmp_path):
    """LSH index append ≡ rebuild: bucket assignment re-derives from
    the sidecar's (planes, dim, seed), so half-build + append searches
    exactly like a full build."""
    from spatially_databricks_etl_spark.operators.similarity import (
        lsh_append_index,
        lsh_search_index,
        lsh_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter("vec_id % 2 = 0")
    second = emb.filter("vec_id % 2 = 1")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inc = str(tmp_path / "lsh_inc")
    lsh_write_index(first, inc, planes=6, dim=64)
    lsh_append_index(second, inc)
    full = str(tmp_path / "lsh_full")
    lsh_write_index(emb, full, planes=6, dim=64)

    got = sorted(map(tuple, lsh_search_index(queries, inc, k=10).collect()))
    want = sorted(map(tuple, lsh_search_index(queries, full, k=10).collect()))
    assert got == want and len(got) > 0


def test_ivfpq_append_index_matches_full_rebuild(spark, tmp_path):
    """Same identity for the composed IVF-PQ index: the appended batch
    is coarse-assigned AND PQ-encoded with the sidecar's pinned
    models, so the ADC shortlist + exact rerank return exactly what a
    full rebuild returns."""
    from spatially_databricks_etl_spark.operators.embeddings import pq_train
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivfpq_append_index,
        ivfpq_search_index,
        ivfpq_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter("vec_id % 2 = 0")
    second = emb.filter("vec_id % 2 = 1")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(first, n_centroids=4, kmeans_iters=1)
    cb = pq_train(first, m=8, k=8, kmeans_iters=1)

    inc = str(tmp_path / "ivfpq_inc")
    ivfpq_write_index(first, inc, centroids=cents, codebooks=cb)
    ivfpq_append_index(second, inc)
    full = str(tmp_path / "ivfpq_full")
    ivfpq_write_index(emb, full, centroids=cents, codebooks=cb)

    got = sorted(
        map(tuple, ivfpq_search_index(queries, inc, k=10, nprobe=2).collect())
    )
    want = sorted(
        map(tuple, ivfpq_search_index(queries, full, k=10, nprobe=2).collect())
    )
    assert got == want and len(got) > 0


def test_ivfpq_index_string_ids_roundtrip(spark, tmp_path):
    """IVF-PQ index + search with STRING corpus and query ids: the
    mapInPandas schema derives the corpus id type from the stored
    index and probe routing is keyed by query index, so non-integer
    ids round-trip; the planted self-match still ranks first."""
    import numpy as np

    from spatially_databricks_etl_spark.operators.embeddings import pq_train
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivfpq_search_index,
        ivfpq_write_index,
    )

    rng = np.random.RandomState(7)
    rows = [(f"doc-{i:03d}", rng.randn(8).tolist()) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    queries = spark.createDataFrame(
        [(f"q-{vid}", v) for vid, v in rows[:3]],
        "query_id string, embedding array<double>",
    )
    cents = ivf_build(corpus, n_centroids=2, kmeans_iters=1)
    cb = pq_train(corpus, m=4, k=8, kmeans_iters=1)
    path = str(tmp_path / "ivfpq_str")
    ivfpq_write_index(corpus, path, centroids=cents, codebooks=cb)

    out = ivfpq_search_index(queries, path, k=5, nprobe=2, shortlist=40).collect()
    assert out, "search returned no rows"
    assert all(isinstance(r["neighbor_id"], str) for r in out)
    top = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    for vid, _ in rows[:3]:
        assert top[f"q-{vid}"] == vid


def test_ivfpq_persisted_index_prunes_and_recalls(spark, tmp_path):
    """Composed IVF-PQ index: (a) the ADC scan reads only probed cell
    partitions (non-empty PartitionFilters on __cell), (b) the exact
    self-match survives probing+quantization+rerank and ranks first,
    (c) recall@10 vs brute force clears the floor for the gaussian
    fixture at nprobe=8/16 cells."""
    from spatially_databricks_etl_spark.operators.embeddings import pq_train
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivfpq_search_index,
        ivfpq_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(emb, n_centroids=16, kmeans_iters=1)
    cb = pq_train(emb, m=16, k=16, kmeans_iters=1)
    path = str(tmp_path / "ivfpq")
    ivfpq_write_index(emb, path, centroids=cents, codebooks=cb)

    out = ivfpq_search_index(queries, path, k=10, nprobe=8, shortlist=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("__cell" in ln for ln in pf), pf

    rows = out.collect()
    ranks = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in rows}
    assert all(ranks.get((q, q)) == 1 for q in range(5))

    brute = brute_force_topk(emb, queries, k=10)
    b = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(a & b) / len(b) >= 0.3, f"recall {len(a & b) / len(b)}"


def test_kmeans_recovers_separated_blobs_and_contracts(spark):
    """Lloyd k-means: (a) three well-separated blobs are recovered
    exactly from one-point-per-blob init, with centroids at the blob
    means; (b) iterations never increase inertia (Lloyd's monotone
    descent); (c) the e6 centroid snap changes no assignment on
    separated data; (d) a centroid that captures nothing keeps its
    init value (empty-cluster contract); (e) empty centroid list is
    rejected."""
    import pytest

    from spatially_databricks_etl_spark.operators.embeddings import (
        kmeans_assign,
        kmeans_fit,
    )

    # 3 blobs of 8 points in 4-D at mutual distance >> spread
    pts, want = [], {}
    for b, base in enumerate([0.0, 10.0, 20.0]):
        for i in range(8):
            vid = b * 8 + i
            pts.append((vid, [base + 0.1 * i, base, base, base], b))
            want[vid] = b
    df = spark.createDataFrame(
        [(v, vec) for v, vec, _ in pts], "vec_id long, embedding array<double>"
    )
    init = [pts[0][1], pts[8][1], pts[16][1]]  # one point per blob

    cents = kmeans_fit(df, k=3, iters=2, init_centroids=init)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, cents).select("vec_id", "cluster").collect()
    }
    assert got == want
    # centroid = blob mean (exact: mean of base + 0.1*i over i=0..7)
    for b, base in enumerate([0.0, 10.0, 20.0]):
        assert abs(cents[b][0] - (base + 0.35)) < 1e-9
        assert abs(cents[b][1] - base) < 1e-9

    def inertia(c):
        return (
            kmeans_assign(df, c).agg(F.sum("dist2").alias("s")).first()["s"]
        )

    i0 = inertia(init)
    i2 = inertia(cents)
    assert i2 <= i0 + 1e-12

    qcents = kmeans_fit(df, k=3, iters=2, init_centroids=init, quantize_e=6)
    qgot = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, qcents).select("vec_id", "cluster").collect()
    }
    assert qgot == got
    for c, qc in zip(cents, qcents):
        assert max(abs(a - b) for a, b in zip(c, qc)) <= 5e-7

    # (d) a far-away 4th centroid captures nothing and keeps its init
    far = [1e6, 1e6, 1e6, 1e6]
    cents4 = kmeans_fit(df, k=4, iters=2, init_centroids=init + [far])
    assert cents4[3] == far

    with pytest.raises(ValueError, match="empty centroid"):
        kmeans_assign(df, [])
    with pytest.raises(ValueError, match="need k="):
        kmeans_fit(df.limit(2), k=3, iters=1)


def test_pca_and_kmeans_literals_match_per_element_form(spark):
    """``pca_project_col`` and ``kmeans_assign`` parse their literal
    matrices from one SQL text; the outputs are bit-identical to the
    same expressions over one ``F.lit`` per element, non-finite model
    values included."""
    import struct

    from spatially_databricks_etl_spark.functions.vectors import dot
    from spatially_databricks_etl_spark.operators.embeddings import (
        _sq_dist,
        kmeans_assign,
        pca_project_col,
    )

    def per_element(rows):
        return F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    comps = rng.normal(size=(3, 6))
    comps[2, 4] = math.inf
    model = {"mean": rng.normal(size=6).tolist(), "components": comps.tolist()}
    offsets = [float(np.dot(model["mean"], c)) for c in model["components"]]
    off_lit = F.array(*[F.lit(o) for o in offsets])
    old_pca = F.transform(
        per_element(model["components"]),
        lambda c, j: dot(F.col("embedding"), c) - F.get(off_lit, j),
    )
    got = df.select(
        "vec_id",
        pca_project_col(F.col("embedding"), model).alias("new"),
        old_pca.alias("old"),
    ).collect()
    assert any(not math.isfinite(x) for r in got for x in r["new"])
    for r in got:
        assert bits(r["new"]) == bits(r["old"])

    cents = [list(v) for v in rng.normal(size=(4, 6)).tolist()]
    cents.append([math.nan] * 6)
    cents.append([math.inf, 0.0, 0.0, 0.0, 0.0, -math.inf])
    structs = F.transform(
        per_element(cents),
        lambda c, j: F.struct(_sq_dist(F.col("embedding"), c).alias("d"), j.alias("cluster")),
    )
    old = {
        r["vec_id"]: (r["b"]["cluster"], r["b"]["d"])
        for r in df.select("vec_id", F.array_min(structs).alias("b")).collect()
    }
    new = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in kmeans_assign(df, cents).collect()
    }
    assert new.keys() == old.keys()
    for k, (cluster, d) in new.items():
        assert cluster == old[k][0] and bits([d]) == bits([old[k][1]])


def test_ivf_delete_index_matches_rebuild_and_compacts(spark, tmp_path):
    """Index-lifecycle delete: building the IVF index on the FULL
    corpus then tombstone-deleting half must search bit-identically to
    a rebuild on the surviving half (the vector indexes carry no
    corpus-derived global stats, so delete ≡ rebuild is an identity).
    Compaction then physically drops the tombstoned rows — results
    unchanged, tombstone directory gone, partition-pruned plan alive."""
    import os

    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivf_compact_index,
        ivf_delete_index,
        ivf_search_index,
        ivf_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    keep = emb.filter("vec_id % 2 = 0")
    gone = emb.filter("vec_id % 2 = 1")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(emb, n_centroids=8, kmeans_iters=1)

    live = str(tmp_path / "ivf_live")
    ivf_write_index(emb, live, centroids=cents)
    ivf_delete_index(gone.select("vec_id"), live)
    rebuilt = str(tmp_path / "ivf_rebuilt")
    ivf_write_index(keep, rebuilt, centroids=cents)

    got = sorted(map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect()))
    want = sorted(
        map(tuple, ivf_search_index(queries, rebuilt, k=10, nprobe=3).collect())
    )
    assert got == want and len(got) > 0
    # no deleted id ever surfaces
    assert not [r for r in got if r[1] % 2 == 1]

    ivf_compact_index(spark, live)
    assert not os.path.exists(f"{live}/_tombstones")
    after = sorted(
        map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect())
    )
    assert after == want

    out = ivf_search_index(queries, live, k=10, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("__cell" in ln for ln in pf), pf
    # compaction is idempotent
    ivf_compact_index(spark, live)
    again = sorted(
        map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect())
    )
    assert again == want


def test_lsh_delete_index_matches_rebuild_and_compacts(spark, tmp_path):
    """LSH delete ≡ rebuild(remaining), then compaction preserves
    results and clears the tombstones."""
    import os

    from spatially_databricks_etl_spark.operators.similarity import (
        lsh_compact_index,
        lsh_delete_index,
        lsh_search_index,
        lsh_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    keep = emb.filter("vec_id % 3 != 0")
    gone = emb.filter("vec_id % 3 = 0")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    live = str(tmp_path / "lsh_live")
    lsh_write_index(emb, live, planes=6, dim=64)
    lsh_delete_index(gone.select("vec_id"), live)
    rebuilt = str(tmp_path / "lsh_rebuilt")
    lsh_write_index(keep, rebuilt, planes=6, dim=64)

    got = sorted(map(tuple, lsh_search_index(queries, live, k=10).collect()))
    want = sorted(map(tuple, lsh_search_index(queries, rebuilt, k=10).collect()))
    assert got == want and len(got) > 0

    lsh_compact_index(spark, live)
    assert not os.path.exists(f"{live}/_tombstones")
    after = sorted(map(tuple, lsh_search_index(queries, live, k=10).collect()))
    assert after == want


def test_ivfpq_delete_index_matches_rebuild_and_compacts(spark, tmp_path):
    """IVF-PQ delete ≡ rebuild(remaining) under the pinned models —
    the ADC pass and the exact rerank both see only live rows — and
    compaction rewrites codes + vectors without them."""
    import os

    from spatially_databricks_etl_spark.operators.embeddings import pq_train
    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivfpq_compact_index,
        ivfpq_delete_index,
        ivfpq_search_index,
        ivfpq_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    keep = emb.filter("vec_id % 2 = 0")
    gone = emb.filter("vec_id % 2 = 1")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_build(emb, n_centroids=4, kmeans_iters=1)
    cb = pq_train(emb, m=8, k=8, kmeans_iters=1)

    live = str(tmp_path / "ivfpq_live")
    ivfpq_write_index(emb, live, centroids=cents, codebooks=cb)
    ivfpq_delete_index(gone.select("vec_id"), live)
    rebuilt = str(tmp_path / "ivfpq_rebuilt")
    ivfpq_write_index(keep, rebuilt, centroids=cents, codebooks=cb)

    got = sorted(
        map(tuple, ivfpq_search_index(queries, live, k=10, nprobe=2).collect())
    )
    want = sorted(
        map(tuple, ivfpq_search_index(queries, rebuilt, k=10, nprobe=2).collect())
    )
    assert got == want and len(got) > 0

    ivfpq_compact_index(spark, live)
    assert not os.path.exists(f"{live}/_tombstones")
    after = sorted(
        map(tuple, ivfpq_search_index(queries, live, k=10, nprobe=2).collect())
    )
    assert after == want


def test_asof_join_cogroup_matches_window_form(spark):
    """The cogrouped-Arrow as-of merge must agree with the
    union+window asof_join on the fixture (both directions), emit
    null annotations for null-time left rows, and null-match against
    an empty right side."""
    from spatially_databricks_etl_spark.operators.relational import asof_join
    from spatially_databricks_etl_spark.operators.udfs import asof_join_cogroup

    ev = load_table(spark, SF_DIR, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("error_ts")
    )
    left = ev.select("event_id", "user_id", "ts")
    for direction in ("backward", "forward"):
        a = sorted(
            map(
                tuple,
                asof_join(
                    left, errors, on="user_id", left_time="ts",
                    right_time="error_ts", right_values=["error_ts"],
                    direction=direction,
                ).collect(),
            ),
            key=repr,
        )
        b = sorted(
            map(
                tuple,
                asof_join_cogroup(
                    left, errors, on="user_id", left_time="ts",
                    right_time="error_ts", right_values=["error_ts"],
                    direction=direction,
                ).collect(),
            ),
            key=repr,
        )
        assert a == b and len(a) > 0, direction

    # null left time -> row kept with null annotation; empty right ->
    # all annotations null
    l2 = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00"), (2, 7, None)],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = asof_join_cogroup(
        l2,
        errors.filter("user_id = -1"),
        on="user_id",
        left_time="ts",
        right_time="error_ts",
        right_values=["error_ts"],
    ).collect()
    assert len(out) == 2 and all(r["error_ts"] is None for r in out)


def test_ivf_upsert_index_matches_rebuild(spark, tmp_path):
    """Upsert completes the index CRUD: re-ingesting 30 ids with
    CHANGED embeddings (reversed arrays) plus 20 brand-new ids must
    search bit-identically to a rebuild over (corpus − old versions ∪
    batch); a second upsert of the same batch is idempotent for
    search; compaction afterwards preserves results and clears the
    tombstones."""
    import os

    from spatially_databricks_etl_spark.operators.similarity import (
        ivf_build,
        ivf_compact_index,
        ivf_search_index,
        ivf_upsert_index,
        ivf_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_build(emb, n_centroids=8, kmeans_iters=1)
    changed = emb.filter("vec_id < 30").select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    fresh = emb.filter("vec_id < 20").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    batch = changed.unionByName(fresh)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    live = str(tmp_path / "ivf_upsert")
    ivf_write_index(emb.select("vec_id", "embedding"), live, centroids=cents)
    ivf_upsert_index(batch, live)

    rebuilt = str(tmp_path / "ivf_upsert_rebuilt")
    ivf_write_index(
        emb.filter("vec_id >= 30").select("vec_id", "embedding").unionByName(batch),
        rebuilt,
        centroids=cents,
    )
    got = sorted(map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect()))
    want = sorted(
        map(tuple, ivf_search_index(queries, rebuilt, k=10, nprobe=3).collect())
    )
    assert got == want and len(got) > 0

    # idempotent for search: upserting the identical batch again
    ivf_upsert_index(batch, live)
    again = sorted(
        map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect())
    )
    assert again == want

    ivf_compact_index(spark, live)
    assert not os.path.exists(f"{live}/_tombstones")
    after = sorted(
        map(tuple, ivf_search_index(queries, live, k=10, nprobe=3).collect())
    )
    assert after == want


def test_lsh_upsert_index_matches_rebuild(spark, tmp_path):
    """Same upsert ≡ rebuild identity for the LSH index."""
    from spatially_databricks_etl_spark.operators.similarity import (
        lsh_search_index,
        lsh_upsert_index,
        lsh_write_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    batch = emb.filter("vec_id < 25").select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    live = str(tmp_path / "lsh_upsert")
    lsh_write_index(emb.select("vec_id", "embedding"), live, planes=6, dim=64)
    lsh_upsert_index(batch, live)
    rebuilt = str(tmp_path / "lsh_upsert_rebuilt")
    lsh_write_index(
        emb.filter("vec_id >= 25").select("vec_id", "embedding").unionByName(batch),
        rebuilt,
        planes=6,
        dim=64,
    )
    got = sorted(map(tuple, lsh_search_index(queries, live, k=10).collect()))
    want = sorted(map(tuple, lsh_search_index(queries, rebuilt, k=10).collect()))
    assert got == want and len(got) > 0


def test_asof_join_tolerance_window_form_matches_cogroup(spark):
    """The staleness bound on the WINDOW-form asof_join (the
    production route — rides the existing one-window plan as a
    post-fold conditional) must agree with the cogroup/merge_asof
    path on the fixture, both directions, timestamp keys — and with
    a numeric-key hand case including the exact-boundary match."""
    from spatially_databricks_etl_spark.operators.relational import asof_join
    from spatially_databricks_etl_spark.operators.udfs import asof_join_cogroup

    ev = load_table(spark, SF_DIR, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("error_ts")
    )
    left = ev.select("event_id", "user_id", "ts")
    # nearest included: the window form's two-fold argmin must agree
    # with merge_asof (right_values = the time itself, so duplicate
    # right times cannot make the comparison payload-ambiguous)
    for direction in ("backward", "forward", "nearest"):
        kw = dict(
            on="user_id", left_time="ts", right_time="error_ts",
            right_values=["error_ts"], direction=direction, tolerance=1800,
        )
        a = sorted(map(tuple, asof_join(left, errors, **kw).collect()), key=repr)
        b = sorted(
            map(tuple, asof_join_cogroup(left, errors, **kw).collect()), key=repr
        )
        assert a == b and len(a) > 0, direction
        kw_unb = {**kw, "tolerance": None}
        a2 = sorted(map(tuple, asof_join(left, errors, **kw_unb).collect()), key=repr)
        b2 = sorted(
            map(tuple, asof_join_cogroup(left, errors, **kw_unb).collect()), key=repr
        )
        assert a2 == b2, direction
        # the bound actually bites: strictly fewer non-null annotations
        # than the unbounded form
        kw2 = {**kw, "tolerance": None}
        unbounded = asof_join(left, errors, **kw2)
        n_bounded = asof_join(left, errors, **kw).filter(
            F.col("error_ts").isNotNull()
        ).count()
        n_unbounded = unbounded.filter(F.col("error_ts").isNotNull()).count()
        assert 0 < n_bounded < n_unbounded, direction

    # numeric keys + exact boundary: distance == tolerance matches
    l2 = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 1, 35)], "event_id int, k int, lt long"
    )
    r2 = spark.createDataFrame([(1, 5, "a"), (1, 18, "b")], "k int, rt long, v string")
    out = {
        r["event_id"]: (r["rt"], r["v"])
        for r in asof_join(
            l2, r2, on="k", left_time="lt", right_time="rt",
            right_values=["rt", "v"], direction="backward", tolerance=5,
        ).collect()
    }
    # lt=10: candidate rt=5, distance 5 == tolerance -> matches;
    # lt=20: rt=18, distance 2 -> matches; lt=35: rt=18, distance 17 -> null
    assert out == {1: (5, "a"), 2: (18, "b"), 3: (None, None)}


def test_connected_components_raises_on_budget_exhaustion(spark):
    """Min-label propagation advances one hop per iteration; a budget
    smaller than the component diameter must RAISE (round-12 ADVICE)
    rather than silently return split labels. require_convergence=False
    opts back into the fixed-sweep intermediate state."""
    import pytest

    from spatially_databricks_etl_spark.operators.curate import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2).collect()

    part = connected_components(
        chain, max_iterations=2, require_convergence=False
    )
    assert part.count() == 11  # fixed-sweep state still returned

    full = connected_components(chain, max_iterations=20)
    assert {r["component"] for r in full.collect()} == {0}


def test_embedding_standardize_exact_replay(spark):
    """embedding_standardize ≡ an exact Python fixed-point replay:
    e6 quantization, integer sums, truncating mean/std, zero-variance
    dims emit 0; output mean of each standardized dim is ~0 and
    spread ~1e6."""
    import math

    from spatially_databricks_etl_spark.operators.embeddings import (
        embedding_standardize,
    )

    vecs = {
        1: [0.5, -0.25, 7.0],
        2: [1.5, 0.75, 7.0],
        3: [-0.5, 0.5, 7.0],
        4: [0.25, -1.0, 7.0],   # dim 2 constant -> std 0 -> z 0
    }
    df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: list(r["z"]) for r in embedding_standardize(df).collect()}

    def fdiv(a, b):
        # SQL integer `div`: truncation toward zero
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    xe6 = {k: [math.floor(float(x) * 1e6 + 0.5) for x in v] for k, v in vecs.items()}
    n = len(vecs)
    want = {}
    for k in vecs:
        zs = []
        for d in range(3):
            col = [xe6[kk][d] for kk in vecs]
            sx, sxx = sum(col), sum(x * x for x in col)
            mean = fdiv(sx, n)
            var = fdiv(n * sxx - sx * sx, n * n)
            std = math.floor(math.sqrt(var))
            zs.append(fdiv((xe6[k][d] - mean) * 1_000_000, std) if std > 0 else 0)
        want[k] = zs
    assert got == want
    assert all(got[k][2] == 0 for k in vecs)  # constant dim


def test_media_phash_and_near_dedup(spark):
    """aHash determinism + the pigeonhole pair join on media codes:
    identical payloads hash identically (hamming 0 pairs found);
    distinct payloads under the avalanche fake land far apart (no
    false pairs at <=3); null payloads behave like empty bytes; the
    integer mean-compare is replayed from raw bytes."""
    import hashlib

    from spatially_databricks_etl_spark.operators.multimodal import (
        fake_pixel_bytes,
        media_phash,
        phash_near_dedup,
    )

    items = [
        ("a1", b"payload-one"),
        ("a2", b"payload-one"),       # exact dup of a1
        ("b1", b"payload-two"),
        ("c1", b"something else"),
        ("n1", None),
        ("n2", b""),                  # None ≡ empty bytes
    ]
    df = spark.createDataFrame(items, "item_id string, payload binary")
    codes = {r["item_id"]: r["phash"] for r in media_phash(df).collect()}
    assert codes["a1"] == codes["a2"]
    assert codes["n1"] == codes["n2"]
    assert codes["a1"] != codes["b1"]

    # python replay of the integer aHash
    def replay(p):
        px = fake_pixel_bytes(p or b"")
        n, tot = len(px), sum(px)
        code = sum(1 << i for i, v in enumerate(px) if n * v >= tot)
        return code - (1 << 64) if code >= 1 << 63 else code

    for iid, p in items:
        assert codes[iid] == replay(p), iid

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dedup(df, max_hamming=3).collect()
    }
    assert pairs == {("a1", "a2"): 0, ("n1", "n2"): 0}


def test_audio_vad_segments_islands_hand_case(spark):
    """VAD islands with a custom decoder whose energy profile is
    known: voiced runs become segments with exact boundaries, silent
    items emit nothing, and adjacent-but-separated runs stay two
    segments."""
    from spatially_databricks_etl_spark.operators.multimodal import (
        audio_vad_segments,
    )

    # 16 samples, window=4 -> 4 windows. Decoder keyed on payload.
    profiles = {
        b"A": [100.0] * 4 + [0.0] * 4 + [100.0] * 8,   # windows 0,2,3 voiced
        b"B": [0.0] * 16,                               # silent
        b"C": [100.0] * 16,                             # all voiced
    }

    def dec(p):
        return profiles[bytes(p)]

    src = spark.createDataFrame(
        [("a", b"A"), ("b", b"B"), ("c", b"C")],
        "item_id string, payload binary",
    )
    got = {
        (r["item_id"], r["seg_idx"]): (
            r["start_window"], r["end_window"], r["n_windows"]
        )
        for r in audio_vad_segments(
            src, window=4, threshold=50.0, decode_fn=dec
        ).collect()
    }
    assert got == {
        ("a", 0): (0, 0, 1),
        ("a", 1): (2, 3, 2),
        ("c", 0): (0, 3, 4),
    }


def test_video_scene_cuts_lag_hand_case(spark):
    """Scene cuts with a scripted luminance sequence: only jumps >=
    threshold flag, the first frame never flags, and prev/delta carry
    the exact integers."""
    from spatially_databricks_etl_spark.operators.multimodal import (
        attach_media_metadata,
        video_scene_cuts,
    )

    lums = {0: 10, 1: 20, 2: 200, 3: 210, 4: 40}

    def lum(p, fi):
        return lums[fi]

    src = attach_media_metadata(
        spark.createDataFrame(
            [("v", b"payload")], "item_id string, payload binary"
        ),
        modality="video",
    ).withColumn("media", F.col("media").withField("duration_ms", F.lit(5000)))
    got = {
        r["frame_ts_ms"]: (r["prev_lum"], r["lum"], r["delta"])
        for r in video_scene_cuts(
            src, every_ms=1000, threshold=100, lum_fn=lum
        ).collect()
    }
    # jumps: 10->20 (10), 20->200 (180 CUT), 200->210 (10), 210->40 (170 CUT)
    assert got == {2000: (20, 200, 180), 4000: (210, 40, 170)}
