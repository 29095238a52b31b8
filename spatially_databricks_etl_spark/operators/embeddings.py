"""Embedding-matrix operators: distributed PCA fit/project (north-star
extension; the reference has no embedding surface at all — its only
numeric transforms are scalar recodes, `Spatially ETL test.py:120-168`).

Scale shape: the fit is ONE corpus pass computing per-Arrow-batch
moment partials (count, Σx, Σxxᵀ) inside ``mapInPandas``; the collect
is O(batches·dim²) — independent of row count — and the dim×dim
eigendecomposition runs on the driver (dim is model width, not data
size: 64–4096 in practice, so the driver work is microseconds to
seconds and never scales with the corpus). Projection is a codegen'd
dot-product expression over literal component arrays — no UDF, no
shuffle, map-only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spatially_databricks_etl_spark.functions.vectors import dot
from spatially_databricks_etl_spark.operators.similarity import (
    _double_array_sql,
    _double_matrix_lit,
)


def pca_fit(
    corpus: DataFrame,
    *,
    k: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Fit PCA on an ``array<float|double>`` column.

    Returns ``{"mean": [dim], "components": [k][dim], "explained_variance": [k]}``
    with orthonormal components in descending-eigenvalue order.

    Implementation: per-batch partials (n, Σx, Σxxᵀ) via Arrow-batched
    ``mapInPandas`` (the classic map-side moment combine — each 100 TB
    partition contributes a few dim²-sized rows), reduced in numpy on
    the driver, then ``eigh`` of the sample covariance
    (Σxxᵀ − n·x̄x̄ᵀ)/(n−1). Sign convention: each component's first
    element with |value| > 1e-9 is made positive, so the decomposition
    is deterministic (eigenvectors are otherwise defined only up to
    sign).
    """
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
            StructField("ss", ArrayType(DoubleType())),
        ]
    )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            arrs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col] if v is not None]
            if not arrs:
                continue
            x = np.stack(arrs)
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0).tolist()],
                    "ss": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = corpus.select(vec_col).mapInPandas(partials, schema=out_schema).collect()
    if not rows:
        raise ValueError("pca_fit: empty corpus")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    dim = s.shape[0]
    ss = np.sum([np.asarray(r["ss"]).reshape(dim, dim) for r in rows], axis=0)
    if n < 2:
        raise ValueError("pca_fit: need at least 2 rows")
    if not 1 <= k <= dim:
        raise ValueError(f"pca_fit: need 1 <= k ({k}) <= dim ({dim})")
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T.copy()
    for c in comps:
        nz = np.where(np.abs(c) > 1e-9)[0]
        if nz.size and c[nz[0]] < 0:
            c *= -1.0
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": evals[order].tolist(),
    }


def pca_project_col(vec: Column, model: dict) -> Column:
    """Projection expression: ``[(x − mean)·c_j for each component]``
    as a pure column expression over literal arrays — codegen'd,
    map-only. The mean offset folds into a per-component constant
    (x·c_j − mean·c_j), so the vector is read once per component."""
    comps = model["components"]
    offsets = [float(np.dot(model["mean"], c)) for c in comps]
    comp_lit = _double_matrix_lit(comps)
    off_lit = F.expr(_double_array_sql(offsets))
    return F.transform(
        comp_lit, lambda c, j: dot(vec, c) - F.get(off_lit, j)
    )


def pca_project(
    df: DataFrame,
    model: dict,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append ``out_col`` = the k-dimensional PCA projection of
    ``vec_col``. Map-only; no shuffle; no UDF."""
    return df.withColumn(out_col, pca_project_col(F.col(vec_col), model))


def quantize_int8(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale`` =
    max(|x|)/127, ``q_i`` = round-half-up(x_i / scale) ∈ [−127, 127]
    (the round is explicit ``floor(x + 0.5)`` so any engine replays it
    bit-identically — SQL ``round`` half-even vs half-up semantics
    differ across engines). An all-zero vector gets scale 0 and an
    all-zero code vector.

    Why it matters at 100 TB: a float32/float64 embedding column is
    4–8 bytes/dim; int8 is 1 — a 4–8× cut in scan, shuffle, persist,
    and index footprint for ANN, at a cosine-similarity error that is
    bounded and testable (recall property in tests). Map-only, no UDF,
    no shuffle; pairs with :func:`dequantize_int8`.
    """
    vec = F.col(vec_col)
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).cast("double")
    q = F.when(
        F.col(scale_col) > 0,
        F.transform(
            vec,
            lambda x: F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def dequantize_int8(
    df: DataFrame,
    *,
    q_col: str = "q",
    scale_col: str = "scale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``x̂_i = q_i · scale``.
    Reconstruction error per element ≤ scale/2 = max(|x|)/254."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda qv: (qv * F.col(scale_col)).cast("double")),
    )


def pq_train(
    corpus: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    kmeans_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebook TRAIN (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and train ``k`` centroids
    per subspace with Lloyd iterations. Returns codebooks shaped
    (m, k, dim/m) — a driver-side object of O(m·k·dim/m) = O(k·dim)
    floats, independent of corpus size, persistable as a JSON sidecar
    like the IVF centroids.

    Why PQ after int8: int8 is 4–8×; PQ stores ``m`` code BYTES per
    vector — 32× for dim=64/m=8 vs float32 — which is what makes a
    billion-vector index fit in cluster memory. Search uses
    asymmetric distance (exact query vs quantized corpus) so accuracy
    degrades gracefully and a shortlist+exact-rerank recovers exact
    top-k on well-separated neighbors (:func:`pq_topk`).

    Scale shape: initialization samples ``k`` corpus vectors by
    hashed id (deterministic, one tiny collect). Each Lloyd iteration
    is ONE corpus pass: the Arrow kernel assigns all m sub-codes per
    row, the per-(subspace, code) sub-vector means come from a single
    explode + hash-aggregate whose shuffle carries only
    (m·k, dim/m-sums, count) rows, and the collect stays O(k·dim).
    Empty cells keep their previous centroid (same contract as
    ``ivf_build``).
    """
    sample = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__v"))
        .orderBy(F.xxhash64(F.col("__cid").cast("string"), F.lit(seed)))
        .limit(k)
        .collect()
    )
    if not sample:
        raise ValueError("pq_train: empty corpus — no centroids to sample")
    # validate the sample BEFORE deriving dim / building codebooks —
    # a short sample must fail on its own error, not on a downstream
    # IndexError from indexing an invalid row
    if len(sample) < k:
        raise ValueError(
            f"pq_train: corpus has only {len(sample)} vectors, need k={k}"
        )
    if not sample[0]["__v"]:
        raise ValueError("pq_train: empty embedding vector in corpus")
    dim = len(sample[0]["__v"])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    subdim = dim // m
    codebooks = [
        [[float(x) for x in r["__v"][j * subdim : (j + 1) * subdim]] for r in sample]
        for j in range(m)
    ]

    vecs = corpus.select(F.col(vec_col).alias("__v"))
    for _ in range(max(0, kmeans_iters)):
        enc = pq_encode(vecs, codebooks, vec_col="__v", out_col="__code")
        sub_structs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.get("__code", j).alias("code"),
                    F.slice("__v", j * subdim + 1, subdim).alias("sub"),
                )
                for j in range(m)
            ]
        )
        stats = (
            enc.select(F.explode(sub_structs).alias("__s"))
            .select("__s.j", "__s.code", "__s.sub")
            .groupBy("j", "code")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(F.get("sub", i)).alias(f"__s{i}") for i in range(subdim)],
            )
            .collect()
        )
        for r in stats:
            j, c, n = r["j"], r["code"], r["__n"]
            if n > 0:
                codebooks[j][c] = [float(r[f"__s{i}"]) / n for i in range(subdim)]
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``m`` sub-codes (nearest codebook entry
    per subspace, squared-L2, ties to the lowest index — numpy argmin,
    deterministic). Arrow-batched kernel; the codebook ships in the
    UDF closure (O(k·dim) — broadcast-sized by construction). The
    code column is ``array<int>`` of length m: at rest that is m
    bytes/vector in parquet after byte-packing, the 100 TB index
    representation."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, subdim)
    m, _, subdim = cb.shape

    @pandas_udf("array<int>")
    def enc(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy())  # (n, dim)
        codes = np.empty((X.shape[0], m), dtype=np.int64)
        for j in range(m):
            sub = X[:, j * subdim : (j + 1) * subdim]
            d = ((sub[:, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return df.withColumn(out_col, enc(F.col(vec_col)))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance with exact-cosine
    rerank. Per micro-batch of corpus codes, the Arrow kernel looks up
    each sub-code's precomputed distance to every query
    (LUT[q, j, code] = ||q_sub − centroid||², built once per task from
    the broadcast-sized query set), pre-reduces the batch to each
    query's LOCAL ``shortlist`` best (numpy argpartition + exact
    (dist, id) tie-sort — bit-identical to the unreduced form because
    the global top-``shortlist`` under (adc_dist, neighbor_id) is a
    subset of the union of per-batch top-``shortlist``s), and emits
    only those rows; the global per-query window then merges
    O(shortlist · n_batches) rows per query — never a corpus-sized
    frame — and ONLY the survivors join back to their exact vectors
    for the cosine rerank, the standard IVF-PQ refine step. Returns
    (query_id, neighbor_id, cosine_sim, rank), ties on neighbor id.

    Scale shape: the corpus is scanned once as CODES (m bytes/vector,
    not dim·4) — at 100 TB that is the difference between scanning
    3 TB and 100 TB; the rerank touches shortlist·n_queries full
    vectors only. The query set is COLLECTED to build the LUT, so the
    broadcast-batch contract is enforced (``check_query_batch``,
    default ceiling ``ANN_MAX_QUERIES`` = 10⁴ — at dim 64 that is a
    ~5 MB LUT per task).
    """
    from spatially_databricks_etl_spark.functions.vectors import cosine_similarity
    from spatially_databricks_etl_spark.operators.relational import (
        ensure_parallelism,
        top_k_per_group,
    )
    from spatially_databricks_etl_spark.operators.similarity import check_query_batch

    if shortlist is None:
        shortlist = 4 * k
    check_query_batch(queries, "pq_topk", max_queries)
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, kk, subdim)
    m, _, subdim = cb.shape
    qrows = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    ).collect()
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    qids = np.asarray([r["__qid"] for r in qrows])
    Q = np.stack([np.asarray(r["__qv"], dtype=np.float64) for r in qrows])
    # LUT[q, j, c] = ||Q[q, sub_j] - cb[j, c]||^2  — O(nq·k·dim)
    lut = np.stack(
        [
            ((Q[:, j * subdim : (j + 1) * subdim][:, None, :] - cb[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )

    enc = pq_encode(
        ensure_parallelism(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
            "neighbor_id",
        ),
        codebooks,
        vec_col=vec_col,
        out_col="__code",
    ).select("neighbor_id", "__code")

    def adc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["__code"].to_numpy())  # (n, m)
            # dists[q, n] = sum_j LUT[q, j, codes[n, j]]
            dists = lut[:, np.arange(m)[None, :], codes].sum(axis=2)
            nid = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for i in range(len(qids)):
                d, v = dists[i], nid
                # local per-batch shortlist: argpartition to the
                # `shortlist` smallest, widen to every row tying the
                # cut distance so boundary ties resolve by id exactly
                # as the global (adc_dist, neighbor_id) window would,
                # then exact (dist, id) order on the slice.
                if d.shape[0] > shortlist:
                    cut = d[np.argpartition(d, shortlist - 1)[:shortlist]].max()
                    cand = d <= cut
                    d, v = d[cand], v[cand]
                keep = np.lexsort((v, d))[:shortlist]
                out_q.append(np.repeat(qids[i], keep.shape[0]))
                out_n.append(v[keep])
                out_d.append(d[keep])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    scored = enc.mapInPandas(
        adc, schema=f"query_id {qid_t}, neighbor_id {nid_t}, adc_dist double"
    )
    short = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("adc_dist"), F.col("neighbor_id")],
        shortlist,
        rank_col="__adc_rank",
    ).select("query_id", "neighbor_id")
    exact = (
        short.join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(vec_col).alias("__qv"),
                )
            ),
            "query_id",
        )
        .withColumn("cosine_sim", cosine_similarity(F.col("__qv"), F.col("__cv")))
    )
    out = top_k_per_group(
        exact,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id")],
        k,
        rank_col="rank",
    )
    return out.select("query_id", "neighbor_id", "cosine_sim", "rank")


def _sq_dist(vec: Column, cent: Column) -> Column:
    """Squared Euclidean distance between two numeric arrays as a
    sequential index-order fold — the op order is part of the
    operator's determinism contract (the same fold replays in any
    engine on identical inputs)."""
    diff2 = F.zip_with(
        vec, cent, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str = "dist2",
) -> DataFrame:
    """Assign every row to its nearest centroid by squared Euclidean
    distance (ties break to the LOWER cluster index — the struct-min
    is lexicographic on (dist², index), so assignment is fully
    deterministic). Map-only, zero shuffle: the centroid matrix rides
    a literal (driver-side model state, O(k·dim) — the same contract
    as the IVF centroid list and the PCA components), and the per-row
    argmin is a codegen'd fold over it — no UDF, no Arrow hop.

    This is the Euclidean sibling of the cosine cell-assignment
    inside :func:`operators.similarity.ivf_topk`: retrieval wants
    angular cells over normalized vectors; curation clustering
    (cluster-then-sample, cluster-balanced mixtures, SemDeDup-style
    pre-clustering) wants the classic Lloyd geometry with explicit
    distances."""
    if not centroids:
        raise ValueError("kmeans_assign: empty centroid list")
    cents_lit = _double_matrix_lit(centroids)
    structs = F.transform(
        cents_lit,
        lambda c, j: F.struct(
            _sq_dist(F.col(vec_col), c).alias("d"), j.alias("cluster")
        ),
    )
    best = F.array_min(structs)
    return df.withColumn(cluster_col, best.getField("cluster")).withColumn(
        dist_col, best.getField("d")
    )


def kmeans_fit(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    init_centroids: list[list[float]] | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_e: int | None = None,
) -> list[list[float]]:
    """Distributed k-means (Lloyd 1982) over an embedding column —
    the standalone, Euclidean form of the centroid training embedded
    in :func:`operators.similarity.ivf_build` (cosine cells) and
    :func:`pq_train` (per-subspace codebooks): document clustering as
    a first-class curation operator (cluster-then-sample corpus
    balancing, cluster-level dedup à la SemDeDup, topic-mixture
    audits).

    Initialization: ``init_centroids`` if given (pass pinned vectors
    for cross-engine-replayable runs — the :func:`ivf_build` basis
    trick), else ``k`` corpus vectors by hashed id (deterministic,
    seed-stable, one O(k·dim) collect). Each Lloyd iteration is ONE
    corpus pass: the codegen'd argmin assigns every row, then each
    centroid is recomputed as its cluster's mean via a single
    hash-aggregate with ``dim`` per-element sums — map-side partials
    combine, the shuffle carries (k, dim-sums, count) rows, and the
    collect stays O(k·dim), never O(data). Empty clusters keep their
    previous centroid (the :func:`ivf_build` contract).

    ``quantize_e``: if set, every recomputed centroid coordinate is
    snapped to ``10^-e`` (floor(x·10^e + 0.5)/10^e) after each mean
    update. Lloyd is self-correcting, so the snap costs ~nothing in
    inertia, and it makes the fitted centroids — and therefore every
    downstream assignment — REPLAYABLE ACROSS ENGINES: both sides
    floor the same near-identical mean doubles to the same grid
    point, where an unquantized mean would carry engine-specific
    summation-order ulps into the next iteration's distance ranks.
    """
    if k < 1:
        raise ValueError(f"kmeans_fit: k must be >= 1, got {k}")
    if init_centroids is not None:
        if len(init_centroids) != k:
            raise ValueError(
                f"kmeans_fit: init_centroids has {len(init_centroids)} rows, need k={k}"
            )
        cents = [[float(x) for x in c] for c in init_centroids]
    else:
        sample = (
            df.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__v"))
            .orderBy(F.xxhash64(F.col("__cid").cast("string"), F.lit(seed)))
            .limit(k)
            .collect()
        )
        if len(sample) < k:
            raise ValueError(
                f"kmeans_fit: corpus has only {len(sample)} vectors, need k={k}"
            )
        cents = [[float(x) for x in r["__v"]] for r in sample]
    dim = len(cents[0])
    scale = float(10 ** quantize_e) if quantize_e is not None else None

    import math

    vecs = df.select(F.col(vec_col).alias("__v"))
    for _ in range(max(0, iters)):
        assigned = kmeans_assign(
            vecs, cents, vec_col="__v", cluster_col="__cl", dist_col="__d"
        )
        stats = (
            assigned.groupBy("__cl")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.get("__v", i).cast("double")).alias(f"__s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        for r in stats:
            j, n = r["__cl"], r["__n"]
            if n > 0:
                mean = [float(r[f"__s{i}"]) / n for i in range(dim)]
                if scale is not None:
                    mean = [math.floor(x * scale + 0.5) / scale for x in mean]
                cents[j] = mean
    return cents


def kmeans_outliers(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
) -> DataFrame:
    """Centroid-distance anomaly detection: assign every vector to its
    nearest centroid (:func:`kmeans_assign` — map-only, deterministic
    tie rule) and surface the ``top_k`` FARTHEST members of each
    cluster — the classic cluster-then-inspect outlier triage for
    embedding corpora (mislabeled docs, encoding failures, off-topic
    contamination land far from every centroid). Returns
    (id, cluster, dist2_e6, rank) with rank 1 = farthest; ties on
    distance break to the lower id, so the cut is total.

    Scale shape: the assignment is zero-shuffle (centroid matrix rides
    a literal); the per-cluster top-k is ONE window shuffle on the
    cluster key feeding a rank filter — k·top_k output rows. With few
    clusters the cluster key is coarse (k partitions carry the whole
    corpus), which is the documented trade-off of per-cluster ranking;
    for huge corpora raise k (finer cells = finer partitions) or
    pre-filter by a dist2 floor before ranking.
    """
    from pyspark.sql.window import Window

    assigned = kmeans_assign(df, centroids, vec_col=vec_col)
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist2").desc(), F.col(id_col).asc()
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col(id_col),
            F.col("cluster").cast("long").alias("cluster"),
            F.floor(F.col("dist2") * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("dist2_e6"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_standardize(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension corpus standardization of an embedding column —
    the whitening-lite retrieval prep (centering kills the "hubness"
    of a biased dimension; unit per-dim variance stops one loud
    dimension from dominating every cosine/L2). Deterministic and
    EXACT by fixed-point quantization (the repo's e6 idiom, same as
    :func:`~spatially_databricks_etl_spark.operators.profile.embedding_quality`):

    - components quantize once to e6 integers
      (``floor(x·10⁶ + 0.5)`` — per-row, order-free);
    - per-dim sums Σx and Σx² accumulate in DECIMAL(38,0) — exact,
      so float summation order can never perturb the stats;
    - ``mean_e6 = Σx div n``; population variance in e12 via
      ``(n·Σx² − (Σx)²) div n²``; ``std_e6 = floor(sqrt(var_e12))``
      (sqrt of an exact integer — IEEE correctly rounded);
    - standardized component ``z_e6 = ((x_e6 − mean_e6)·10⁶) div
      std_e6``; zero-variance dimensions emit 0 (not a NULL hole and
      not a division error).

    Returns (id_col, z) with z an ``array<bigint>`` of e6-scaled
    standardized components — exact longs, directly value-oracle-able.

    Scale shape: one explode → a |dims|-row hash aggregate (map-side
    combine absorbs everything); the per-dim stats broadcast back
    into a map-side zip — the corpus shuffles ONCE (the re-assembly
    groupBy on the id). At 100 TB the stats frame is 64 rows."""
    dims = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col)).alias("__d", "__x"),
    ).withColumn(
        "__xe6",
        F.floor(F.col("__x").cast("double") * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long"),
    )
    stats = (
        dims.groupBy("__d")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
            F.sum(F.col("__xe6").cast("decimal(38,0)")).alias("__sx"),
            F.sum(
                (
                    F.col("__xe6").cast("decimal(38,0)")
                    * F.col("__xe6").cast("decimal(38,0)")
                )
            ).alias("__sxx"),
        )
        .withColumn("__mean_e6", F.expr("CAST(__sx div __n AS BIGINT)"))
        .withColumn(
            "__var_e12",
            F.expr("CAST((__n * __sxx - __sx * __sx) div (__n * __n) AS BIGINT)"),
        )
        .withColumn(
            "__std_e6",
            F.floor(F.sqrt(F.col("__var_e12").cast("double"))).cast("long"),
        )
        .select("__d", "__mean_e6", "__std_e6")
    )
    z = F.when(
        F.col("__std_e6") > 0,
        F.expr(
            "CAST(((__xe6 - __mean_e6) * CAST(1000000 AS BIGINT))"
            " div __std_e6 AS BIGINT)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        dims.join(F.broadcast(stats), "__d")
        .withColumn("__z", z)
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__d", "__z"))),
                lambda s: s["__z"],
            ).alias("z")
        )
        .select(F.col("__id").alias(id_col), "z")
    )


def random_projection_signs(
    dim: int, out_dim: int, seed: int = 1
) -> "list[list[int]]":
    """Deterministic ±1 projection matrix (out_dim × dim) derived
    from md5 — engine-agnostic (md5 of the same string is the same
    everywhere), so an oracle can inline the identical literal. Tiny
    (out_dim·dim entries): generated driver-side once and shipped as
    a literal into the codegen'd expression, never a join."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 1,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas 2001, "Database-friendly random projections": the
    dense-Gaussian-free variant whose entries are ±1 — distances are
    preserved in expectation with the same JL guarantee) — the cheap
    dimensionality-reduction member of the embedding family next to
    the learned :func:`pca_fit` (no training pass, no model artifact,
    any batch projects identically forever).

    Components quantize to exact e3 longs (``floor(x·1000 + 0.5)``,
    the :func:`~...retrieval.mmr_rerank` discipline) and the
    projection is exact integer dot products against the md5-derived
    sign matrix, so the whole operator is bit-replayable in SQL.
    Returns (id_col, proj array<long> of ``out_dim``).

    Scale shape: MAP-ONLY — the sign matrix is a driver-side literal
    folded into one codegen'd ``transform``/``aggregate`` expression;
    no shuffle, no Python, no model store. At 100 TB this is the
    projection you run inline ahead of LSH bucketing or coarse
    clustering, where PCA's training pass isn't worth the plan
    barrier."""
    signs = random_projection_signs(dim, out_dim, seed=seed)
    mat = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{s}L" for s in row) + ")" for row in signs
        )
        + ")"
    )
    q = df.select(
        F.col(id_col),
        F.expr(
            f"transform(`{vec_col}`, x ->"
            " CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
        ).alias("__q"),
    )
    proj = F.expr(
        f"transform({mat}, row -> aggregate(zip_with(__q, row,"
        " (a, b) -> a * b), 0L, (acc, x) -> acc + x))"
    )
    return q.select(id_col, proj.alias("proj"))
