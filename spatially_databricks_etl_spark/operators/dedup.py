"""Deduplication operators for training-data pipelines (north-star
extension; absent from the reference — SURVEY.md §2b).

All implementations are pure DataFrame compositions over built-in
functions (xxhash64, higher-order array fns, bit ops) — no Python
UDFs, no ML-library dependency — so they run inside whole-stage
codegen and scale with the cluster:

- exact_dedup:        hash-groupBy, one shuffle on the dedup key.
- minhash_near_dedup: shingle → minhash signature → banded LSH →
                      bucket self-join → exact-Jaccard verify.
- simhash:            64-bit sign-hash fingerprint; near-dup via
                      chunk-banding + popcount(xor) Hamming verify.
- ngram_jaccard_pairs: inverted-index (explode→join) candidate pairs
                      with hot-shingle pruning, exact Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from spatially_databricks_etl_spark.caching import register_persists
from spatially_databricks_etl_spark.functions.text import ngrams, tokens
from spatially_databricks_etl_spark.operators.relational import ensure_parallelism
from spatially_databricks_etl_spark.operators.similarity import ANN_MAX_QUERIES
from spatially_databricks_etl_spark.sources.arrow import arrow_frame


def exact_dedup(df: DataFrame, subset: list[str], *, keep_by: str | None = None) -> DataFrame:
    """Exact dedup on ``subset``. With ``keep_by`` (a unique orderable
    column, e.g. doc_id) the survivor is deterministic: min(keep_by)
    per group — one hash-aggregate shuffle, map-side partials first.
    Without it, ``dropDuplicates`` (arbitrary survivor, cheapest).

    The survivor set is attached by a semi-join on ``keep_by`` ALONE
    (it is unique per row, so id-membership ≡ (subset, id)-membership):
    the wide rows exchange keyed on the id instead of on the full
    ``subset`` values — for text dedup that halves the key bytes of
    the probe-side shuffle, and when the survivor-id list is small
    AQE turns the attach into a broadcast semi-join with NO probe-side
    shuffle at all (at corpus scale the id list is corpus-sized and
    the attach degrades gracefully to an 8-byte-key shuffle).
    ``keep_by`` must be GLOBALLY unique (not merely per-group) — the
    id-only semi-join relies on id-membership ≡ (subset, id)-
    membership; a non-unique keep_by would wrongly keep rows in other
    groups that share a surviving id value. Null
    ``subset`` values form a survivor group of their own — matching
    SQL ``GROUP BY`` semantics (the former (subset, id)-keyed
    semi-join silently dropped null-key groups, which no oracle
    exercises but SQL semantics disallow)."""
    if keep_by is None:
        return df.dropDuplicates(subset)
    w_cols = [F.col(c) for c in subset]
    keep = df.groupBy(*w_cols).agg(F.min(keep_by).alias(keep_by)).select(keep_by)
    return df.join(keep, on=keep_by, how="left_semi")


def minhash_signature(
    shingle_col: Column, *, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature via universal hashing: ONE xxhash64 per
    shingle (the expensive string hash), then ``num_hashes`` cheap
    affine derivations h_i = (a_i·h + b_i) mod (2³¹−1) — ~100×
    less string hashing than seeding xxhash64 per permutation.

    Constants stay below 2³⁰ and h below 2³², so every product fits
    in a signed 64-bit long — no overflow even under ANSI mode.
    Deterministic for a given seed. Codegen'd end to end; no UDF.
    """
    return minhash_from_hashes(
        shingle_hashes(shingle_col, seed=seed), num_hashes=num_hashes, seed=seed
    )


def shingle_hashes(shingle_col: Column, *, seed: int = 42, mask32: bool = True) -> Column:
    """One xxhash64 per distinct shingle — the only string hashing in
    the MinHash pipeline. Materialize this as its own column so the
    per-permutation derivations reuse it instead of re-hashing strings
    num_hashes times (CollapseProject would otherwise inline and
    duplicate it).

    ``mask32=True`` (default) masks to 32 bits — required by the
    signature kernels' overflow bound (h < 2³², a < 2³⁰ ⇒ a·h+b < 2⁶³).
    ``mask32=False`` keeps the full 64-bit code: use that width when
    the hashes also serve as the exact-Jaccard verify sets, where
    32-bit collisions (P ≈ |union|²/2³³ per pair) could perturb a
    similarity value — at 2⁶⁴ the collision odds (~1e-14) are below
    any practical exactness bar. :func:`mask32_hashes` bridges the
    two: mask the persisted 64-bit codes on the projection feeding the
    signature kernel, which yields bit-identical signatures to hashing
    with ``mask32=True`` directly."""
    h = F.transform(
        F.array_distinct(shingle_col), lambda s: F.xxhash64(s, F.lit(seed))
    )
    if not mask32:
        return h
    return F.transform(h, lambda x: x.bitwiseAND(F.lit((1 << 32) - 1)))


def mask32_hashes(hash_col: Column | str) -> Column:
    """Mask an array of 64-bit shingle codes down to the 32-bit domain
    the minhash kernels require (idempotent)."""
    c = F.col(hash_col) if isinstance(hash_col, str) else hash_col
    return F.transform(c, lambda x: x.bitwiseAND(F.lit((1 << 32) - 1)))


_MERSENNE31 = (1 << 31) - 1


class _LshCapObservation:
    """Observation-shaped accessor for the LSH bucket-cap telemetry.

    Normally delegates to the zero-cost Spark ``Observation`` attached
    to the bucket stage. When the candidate set is EMPTY, AQE's
    empty-relation propagation replaces the downstream join with an
    empty local relation and the CollectMetrics node vanishes from the
    final executed plan — the observation then yields a schemaless
    empty row. In that (rare: zero candidate pairs anywhere) case this
    falls back to computing the same two aggregates with one direct
    job over the bucket-count frame; the hashed-shingle base is still
    persisted, so the fallback re-runs only the signature+window
    stages.
    """

    def __init__(self, obs, fallback_df):
        self._obs = obs
        self._fallback_df = fallback_df

    @property
    def get(self) -> dict:
        try:
            got = self._obs.get
            if got:
                return {k: int(v or 0) for k, v in got.items()}
        except Exception:
            pass
        row = self._fallback_df.agg(
            F.coalesce(
                F.sum(
                    F.when((F.col("__bcnt") > F.col("__cap")) & (F.col("__rn") == 1), 1)
                ),
                F.lit(0),
            ).alias("dropped_buckets"),
            F.coalesce(
                F.sum(F.when(F.col("__bcnt") > F.col("__cap"), 1)), F.lit(0)
            ).alias("dropped_doc_slots"),
        ).first()
        return {k: int(v) for k, v in row.asDict().items()}


def _minhash_constants(num_hashes: int, seed: int):
    """The (a_i, b_i) affine-permutation constants — single source of
    truth shared by the Column (HOF) and numpy (mapInPandas) kernels,
    so the two are bit-exact by construction."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 30, size=num_hashes)
    b = rng.randint(0, 1 << 30, size=num_hashes)
    return a.astype(np.int64), b.astype(np.int64)


def minhash_from_hashes(hash_col: Column, *, num_hashes: int = 64, seed: int = 42) -> Column:
    """Column-expression form of the signature (reference kernel).

    Spark evaluates higher-order functions INTERPRETED per element, so
    this costs num_hashes passes over the hash array (~1 ms/doc at
    num_hashes=96) — fine for small frames and as the bit-exactness
    oracle for the vectorized kernel, but the hot path in
    :func:`minhash_near_dedup` uses :func:`minhash_signatures_df`
    (one Arrow-batched numpy pass, same math, ~100× less per-doc CPU).
    """
    a, b = _minhash_constants(num_hashes, seed)

    def perm_min(i: int) -> Column:
        return F.array_min(
            F.transform(
                hash_col,
                lambda h: F.pmod(h * F.lit(int(a[i])) + F.lit(int(b[i])), F.lit(_MERSENNE31)),
            )
        )

    return F.array(*[perm_min(i) for i in range(num_hashes)])


def minhash_signatures_df(
    hashed: DataFrame,
    *,
    hash_col: str = "__h",
    sig_col: str = "__sig",
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Vectorized signature stage, all-JVM: explode the hash arrays
    and compute every permutation minimum as ``num_hashes`` codegen'd
    ``min`` aggregates — sig[i] = min((a_i·h + b_i) mod (2³¹−1)) —
    bit-exact with :func:`minhash_from_hashes` (same constants via
    ``_minhash_constants``, same int64 arithmetic: h < 2³², a < 2³⁰ ⇒
    a·h + b < 2⁶³, so no overflow even under ANSI mode).

    Why aggregates and not a HOF column: Spark's higher-order
    functions evaluate interpreted per element, so a 96-permutation
    signature walks each hash array 96 times in the interpreter.
    Explode + min-aggregates evaluate the same arithmetic inside
    whole-stage codegen. And why not a mapInPandas/mapInArrow numpy
    kernel (the pre-round-14 form): every Python path pays the
    JVM→Arrow→Python round trip of the ENTIRE hash-array column
    (~1000 int64s per doc) plus Python-worker warm-up — measured at
    sf0.1 the numpy kernel's noop wall was 16.7 s cold / 1.5–8 s warm
    vs 1.4 s cold / 0.45–0.85 s warm for this form (same session,
    alternating A/B). Built-ins beat the boundary (guide §4.1).

    Shuffle shape: when the input is already hash-partitioned by the
    passthrough key (every caller routes through
    ``ensure_parallelism(df, "__id")`` or an equivalent), the groupBy
    reuses that partitioning — NO new exchange. Otherwise map-side
    partial aggregation reduces each partition to one
    num_hashes-long partial row per doc before the exchange, so the
    shuffle carries signature-sized rows (num_hashes × 8 B per doc),
    never the hash arrays.

    Input may carry full 64-bit codes: the kernel masks each element
    to the 32-bit domain itself (scalar ``bitwiseAND`` in codegen —
    callers no longer need a :func:`mask32_hashes` projection, whose
    per-element HOF pass this rewrite also retires). Docs with zero
    shingles (or a NULL hash array) get an all-null signature —
    identical to ``F.array_min`` over an empty array in the HOF form
    (``explode_outer`` keeps the row; min over its single NULL is
    NULL per permutation).

    Caller contract: the passthrough columns (everything but
    ``hash_col``) must be non-empty and UNIQUE per row — the groupBy
    keys on them, so rows sharing a passthrough key would collapse
    into one signature over the union of their hash arrays (the
    former per-row kernel preserved cardinality). Every in-repo
    caller passes a unique ``__id``; enforced below.
    """
    a, b = _minhash_constants(num_hashes, seed)
    passthrough = [f.name for f in hashed.schema.fields if f.name != hash_col]
    if not passthrough:
        raise ValueError(
            "minhash_signatures_df: input needs at least one passthrough "
            "column (a unique row key) besides the hash column — an empty "
            "groupBy would collapse the whole frame to one signature"
        )
    elem = F.col("__mh_e").bitwiseAND(F.lit((1 << 32) - 1))
    aggs = [
        F.min(
            F.pmod(elem * F.lit(int(a[i])) + F.lit(int(b[i])), F.lit(_MERSENNE31))
        ).alias(f"__mh_m{i}")
        for i in range(num_hashes)
    ]
    return (
        hashed.select(*passthrough, F.explode_outer(hash_col).alias("__mh_e"))
        .groupBy(*passthrough)
        .agg(*aggs)
        .select(
            *passthrough,
            F.array(*[F.col(f"__mh_m{i}") for i in range(num_hashes)]).alias(sig_col),
        )
    )


def _band_rows(sig_df: DataFrame, *, bands: int, rows: int) -> DataFrame:
    """Explode a signature frame (``__id``, ``__sig``) into LSH band
    rows (``__id``, ``__band``, ``__bh``): band hash = xxhash64 of the
    band's ``rows`` signature slots, seeded by the band index. Shared
    by the self-join dedup and the persisted-index write/search paths
    so both produce bit-identical bucket keys."""
    return sig_df.select(
        "__id", F.explode(_band_structs(bands=bands, rows=rows)).alias("__b")
    ).select(
        "__id", F.col("__b.band").alias("__band"), F.col("__b.band_hash").alias("__bh")
    )


def _band_structs(*, bands: int, rows: int) -> Column:
    """``array<struct<band, band_hash>>`` of the ``__sig`` column — the
    one definition of the band keys (:func:`_band_rows` explodes it;
    the persisted-index search routes its batch with it)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws("_", F.slice("__sig", b * rows + 1, rows)),
                    F.lit(b),
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact set Jaccard of two array columns (distinct semantics)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_size: int = 5,
    num_hashes: int = 96,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    Plan shape (scale analysis — two shuffles total on narrow rows):

    1. one scan: shingle → xxhash64 per distinct shingle (strings die
       inside this single projection — they are never persisted,
       shuffled, or verified on; at corpus scale string shingle arrays
       dominate row width, so keeping only the 64-bit hash codes
       shrinks both the persist footprint and the verify joins.
       Collisions would need two distinct shingles within one pair's
       union to collide in the 32-bit-masked space:
       P ≈ |union|²/2³³ — immaterial next to the LSH S-curve);
    2. per-row signature via the vectorized Arrow kernel — docs with
       ZERO shingles (shorter than ``shingle_size``, or null text) are
       filtered out FIRST: they cannot be near-duplicates of anything
       (empty set ⇒ Jaccard 0), and every such doc hashes to the same
       all-null signature, which would otherwise pile the entire
       degenerate population into one mega-bucket per band — then
       explode to ``bands`` (band, band_hash) rows carrying ONLY the
       doc id;
    3. SHUFFLE 1: one exchange on (band, band_hash). Bucket sizes are
       computed by a WINDOW count over that partitioning (rows, which
       SPILL, not arrays): buckets above ``max_bucket_size`` are
       dropped (a degenerate bucket of k docs contributes k²
       candidates and no precision — standard posting-list cap)
       BEFORE ``collect_list`` ever materializes an id array, so a hot
       bucket can never OOM an executor. Dropped bucket/member counts
       are surfaced via an Observation (``result.lsh_observation``) —
       the cap is capped recall, and at corpus scale a silent cap is a
       silent data-loss bug. The subsequent groupBy reuses the window's
       hash partitioning (no second exchange); pairs are expanded
       INSIDE the array (sorted, so id_a < id_b) — no bucket
       self-join, no semi-join probe;
    4. SHUFFLE 2: distinct (id_a, id_b) across bands (a pair can
       collide in up to ``bands`` buckets — dedup before the verify
       joins, not after);
    5. join candidate ids BACK to the hashed-shingle table and verify
       with exact Jaccard on the hash codes, so results are exact for
       every emitted pair.

    The hashed-shingle table is persisted (MEMORY_AND_DISK, spills at
    scale): the DAG consumes it from three branches (signature + both
    verify sides), and without a persist each branch recomputes
    shingling+hashing from the source scan. The caller releases it via
    ``caching.release_intermediates(result)`` once materialized.

    Defaults b=16, r=6 put the S-curve crossover at (1/16)^(1/6)≈0.63:
    pairs at J≥0.8 are found with P>0.999 while J≈0.2 background
    produces ~1e-3 candidate rate. Deterministic (fixed seeds).
    Returns (id_a, id_b, jaccard_sim) with id_a < id_b.

    The result carries ``lsh_observation`` (Observation-shaped, see
    :class:`_LshCapObservation`): after materializing the result, read
    ``result.lsh_observation.get`` for ``dropped_buckets`` (bucket keys
    over the cap) and ``dropped_doc_slots`` (doc-band memberships in
    those buckets; a doc in k oversized buckets counts k times —
    distinct counts aren't valid Observation metrics). Zero means the
    cap never fired and recall is the pure S-curve.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}) — "
            "a truncated last band silently changes the S-curve"
        )
    rows = num_hashes // bands
    # Heavy per-row compute (shingling + hashing) must use every
    # core: a small single-file input arrives as ONE partition, which
    # would serialize the whole signature stage. Cheap narrow rows →
    # repartition first.
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")), "__id"
    )
    sh = ngrams(F.col("__text"), shingle_size, character=True)
    # full 64-bit codes persisted (collision-free verify sets); the
    # signature path masks to 32 bits on its own projection, which is
    # bit-identical to hashing masked in the first place
    base = src.select(
        "__id", shingle_hashes(sh, seed=seed, mask32=False).alias("__h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # derive ALL permutation minima as codegen'd min-aggregates
    # (bit-exact with the Column-expression kernel — see
    # minhash_signatures_df docstring for why this beats both the HOF
    # form and the former Arrow/numpy kernel; it masks to 32 bits
    # itself). Zero-shingle docs are excluded up front: an empty set
    # has Jaccard 0 with everything (never a result), and the shared
    # all-null signature would otherwise band the whole degenerate
    # population into one mega-bucket per band. size(NULL)=-1 under
    # ANSI, so null arrays fail the predicate too.
    sig = minhash_signatures_df(
        base.filter(F.size("__h") > 0),
        hash_col="__h",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )

    banded = _band_rows(sig, bands=bands, rows=rows)

    out, obs, cap_fallback = _expand_verify_pairs(
        banded, base, threshold=threshold, max_bucket_size=max_bucket_size
    )
    # Persisted intermediates are released by the caller via
    # caching.release_intermediates(out) once the result is
    # materialized — long-lived sessions must not leak cached blocks.
    out = register_persists(out, [base])
    out.lsh_observation = _LshCapObservation(obs, cap_fallback)
    return out


def _expand_verify_pairs(
    banded: DataFrame,
    shingles: DataFrame,
    *,
    threshold: float,
    max_bucket_size: int,
):
    """Shared LSH pair stage (steps 3-5 of :func:`minhash_near_dedup`'s
    plan): bucket-size cap → in-array pair expansion → cross-band
    dedup → exact-Jaccard verify. ``banded`` is (__id, __band, __bh)
    rows; ``shingles`` is (__id, __h) with full 64-bit codes. Returns
    (pairs_df, Observation, cap_fallback_df) — the caller attaches the
    observation/persist bookkeeping.

    Bucket sizing runs as a WINDOW over the (band, band_hash)
    partitioning: rows buffer in a spillable sort buffer, so a
    degenerate mega-bucket costs disk, never heap — the cap fires
    BEFORE collect_list materializes any id array. The row_number
    marks one row per bucket so the Observation can count dropped
    BUCKETS (not just memberships) without a distinct aggregate.
    """
    from pyspark.sql import Observation

    w_bucket = Window.partitionBy("__band", "__bh").orderBy("__id")
    counted = banded.select(
        "__id",
        "__band",
        "__bh",
        F.count("*")
        .over(w_bucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__bcnt"),
        F.row_number().over(w_bucket).alias("__rn"),
    )
    obs = Observation("minhash_lsh_cap")
    cap_fallback = counted.withColumn("__cap", F.lit(max_bucket_size))
    counted = counted.observe(
        obs,
        F.sum(
            F.when((F.col("__bcnt") > max_bucket_size) & (F.col("__rn") == 1), 1).otherwise(0)
        ).alias("dropped_buckets"),
        F.sum(F.when(F.col("__bcnt") > max_bucket_size, 1).otherwise(0)).alias(
            "dropped_doc_slots"
        ),
    )
    # groupBy on the same keys reuses the window's hash partitioning —
    # no second exchange; the pair expansion is a per-bucket array
    # expression (ids sorted → id_a < id_b for free).
    ids = F.array_sort(F.collect_list("__id"))
    buckets = (
        counted.filter((F.col("__bcnt") >= 2) & (F.col("__bcnt") <= max_bucket_size))
        .groupBy("__band", "__bh")
        .agg(ids.alias("__ids"))
    )
    pair_structs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    sh_a = shingles.select(F.col("__id").alias("id_a"), F.col("__h").alias("__sh_a"))
    sh_b = shingles.select(F.col("__id").alias("id_b"), F.col("__h").alias("__sh_b"))
    out = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return out, obs, cap_fallback


def minhash_pairs_from_index(
    spark,
    path: str,
    *,
    threshold: float = 0.7,
    max_bucket_size: int = 200,
) -> DataFrame:
    """All near-duplicate pairs of an INDEXED corpus, computed
    entirely from the persisted stores of :func:`minhash_write_index`
    — the corpus is never re-shingled or re-signed. This is the
    re-clustering / re-curation shape: once a 100 TB corpus is
    indexed at ingest, every later threshold sweep or cluster rebuild
    pays only the LSH bucket shuffle over narrow (id, band, hash)
    rows plus the verify joins against the stored shingle codes — the
    dominant shingle+signature scan is paid exactly once, at ingest.

    Bit-identical to :func:`minhash_near_dedup` run with the index's
    recorded parameters (pinned by pytest): both feed the same banded
    rows through the same capped pair stage; ``threshold`` and
    ``max_bucket_size`` stay query-time knobs because neither is
    baked into the stored layout. Returns (id_a, id_b, jaccard_sim),
    ``id_a < id_b``, with the same ``lsh_observation`` cap-visibility
    contract.
    """
    from spatially_databricks_etl_spark.operators.indexstore import read_store

    banded = read_store(spark, f"{path}/bands", "__bhb").select("__id", "__band", "__bh")
    # persist the shingle store scan: both verify sides consume it, and
    # one cached columnar read beats two passes over the 64-way
    # partitioned directory tree (release via release_intermediates)
    shingles = (
        read_store(spark, f"{path}/shingles", "__pb")
        .select("__id", "__h")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out, obs, cap_fallback = _expand_verify_pairs(
        banded, shingles, threshold=threshold, max_bucket_size=max_bucket_size
    )
    out = register_persists(out, [shingles])
    out.lsh_observation = _LshCapObservation(obs, cap_fallback)
    return out


def simhash(text_col: Column | str, *, bits: int = 64, seed: int = 42) -> Column:
    """64-bit SimHash fingerprint: per-token xxhash64; each bit votes
    +1/-1 per OCCURRENCE (term-frequency weighting — vital when the
    vocabulary is small, where distinct-token sets collapse to near-
    identical fingerprints); sign of the vote → bit. Pure higher-
    order-function composition (transform/aggregate + bit ops)."""
    toks = tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))
    def bit_vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(bits):
        vote = F.aggregate(hashes, F.lit(0), bit_vote(i))
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def simhash_codes(
    df: DataFrame,
    *,
    text_col: str = "__text",
    id_col: str = "__id",
    code_col: str = "__sh",
    seed: int = 42,
    bits: int = 64,
) -> DataFrame:
    """(id, 64-bit SimHash) for every row of ``df`` — the DataFrame
    form of :func:`simhash`, computed as ONE explode + ``bits``
    codegen'd sign-vote sums instead of ``bits`` interpreted
    ``aggregate`` HOFs per row. Bit-exact with the Column form
    (pinned by test): integer vote sums are order-independent, a
    zero-token document's NULL vote rows sum to a non-positive vote
    per bit exactly like the HOF's empty-array zero votes, so both
    yield code 0.

    Why: the Column form nests 64 ``F.aggregate`` calls over the
    token-hash array into one expression tree — Catalyst re-analyzes
    the duplicated tokenize+hash subtree 64 times and evaluates every
    vote pass in the HOF interpreter. This form tokenizes and hashes
    ONCE per token inside whole-stage codegen, explodes each token
    hash into 64 (bit, ±1) vote rows, and reduces with two tiny hash
    aggregates: per-(id, bit) vote sums, then the code as the sum of
    ``1 << bit`` over positive-vote bits (distinct powers, so sum ≡
    OR; bit 63's power is long-min, mathematically the signed two's-
    complement contribution). An intermediate 64-wide-aggregate
    variant was measured 3–4× SLOWER per call than this shape — the
    64-column plan pays seconds of analysis/codegen per invocation.

    Shuffle shape: map-side partial aggregation collapses the ×64 row
    expansion to ≤64 narrow (id, bit, sum) rows per doc per partition
    before the first exchange, and to one row per doc before the
    second — both fingerprint-scale, never token-count-scale."""
    if bits != 64:
        raise ValueError(f"bits must be 64 (long-width codes), got {bits}")
    toks = tokens(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("__smt")).select(
        id_col,
        # keep NULL (zero-token rows) NULL: xxhash64(NULL, seed) would
        # otherwise hash the seed alone and cast spurious votes
        F.when(
            F.col("__smt").isNotNull(), F.xxhash64("__smt", F.lit(seed))
        ).alias("__smh"),
    )
    votes = (
        ex.select(
            id_col,
            "__smh",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("__smb"),
        )
        .groupBy(id_col, "__smb")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(__smh, __smb) & 1) = 1"), 1).otherwise(-1)
            ).alias("__smv")
        )
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("__smv") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), __smb)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(code_col)
    )


def simhash_near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    chunks: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the 64-bit fingerprint into ``chunks``
    16-bit chunks; any pair within Hamming d < chunks shares ≥1 exact
    chunk, so candidates come from equality joins on (chunk_idx,
    chunk_value) — a sparse shuffle — then verified with
    ``bit_count(a XOR b)``. Returns (id_a, id_b, hamming).
    """
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")), "__id"
    )
    base = simhash_codes(src, seed=seed)
    return hamming_near_dedup_codes(
        base, max_hamming=max_hamming, chunks=chunks
    )


def hamming_near_dedup_codes(
    codes: DataFrame,
    *,
    id_col: str = "__id",
    code_col: str = "__sh",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Hamming-distance pair join over PRE-COMPUTED 64-bit codes —
    the fingerprint-agnostic core :func:`simhash_near_dedup` and the
    multimodal pHash dedup share (any 64-bit locality-preserving code
    plugs in). Pigeonhole banding: split the code into ``chunks``
    equal chunks; any pair within Hamming d < chunks shares ≥1 exact
    chunk, so candidates come from equality joins on (chunk_idx,
    chunk_value) — one sparse shuffle — then verify with
    ``bit_count(a XOR b)``. COMPLETE, not approximate, for
    ``max_hamming < chunks``. Returns (id_a, id_b, hamming)."""
    if 64 % chunks != 0:
        raise ValueError(f"chunks ({chunks}) must divide 64 evenly")
    if max_hamming >= chunks:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({chunks}) — the "
            "pigeonhole guarantee (some chunk matches exactly) needs more "
            "chunks than allowed bit flips"
        )
    width = 64 // chunks
    mask = (1 << width) - 1
    base = codes.select(
        F.col(id_col).alias("__id"), F.col(code_col).alias("__sh")
    )
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftrightunsigned(F.col("__sh"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
            for i in range(chunks)
        ]
    )
    banded = base.select(
        "__id", "__sh", F.explode(chunk_structs).alias("__c")
    ).select("__id", "__sh", F.col("__c.chunk").alias("__chunk"), F.col("__c.cv").alias("__cv"))
    left = banded.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"), "__chunk", "__cv")
    right = banded.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"), "__chunk", "__cv")
    cand = (
        left.join(right, on=["__chunk", "__cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sh_a", "__sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via prefix filtering
    (AllPairs/PPJoin): guaranteed-complete candidates with bounded
    posting lists — no recall/cost knob to mistune.

    Prefix filter: under any consistent global total order on
    shingles, two sets with J(A,B) ≥ t MUST share at least one of
    each other's first ``|X| - ceil(t·|X|) + 1`` shingles. Ordering by
    ascending document frequency puts each doc's RAREST shingles in
    its prefix, so the inverted index only holds short posting lists
    even on degenerate small-vocabulary corpora (where a naive
    hot-shingle cap either explodes quadratically or silently loses
    pairs).

    Candidate pruning stack (all exactness-preserving):

    - LENGTH filter: J(A,B) ≥ t ⇒ t·|B| ≤ |A| (size-incompatible
      pairs never verified);
    - POSITIONAL filter (PPJoin): for a prefix match at rarity rank
      (ra, rb), max achievable overlap is 1 + min(|A|−ra, |B|−rb),
      which must reach the required overlap ⌈t/(1+t)·(|A|+|B|)⌉.

    Verification runs on 64-bit xxhash64 shingle codes, not strings:
    long-array intersection is several× cheaper per element and
    shrinks the verify-join shuffle. Hash collisions would need two
    distinct shingles within one pair's union to collide in 2⁶⁴
    (P ≈ |union|²/2⁶⁴ < 1e-13) — below any practical exactness bar.

    Plan shape (scale analysis): explode → global df counts (one
    narrow agg) → per-doc rarity rank (window over doc id — partitions
    by doc, no skew) → prefix posting join (the only potentially wide
    shuffle, bounded by prefix rarity) → length+positional filters
    BEFORE the distinct-pair shuffle → hash-array verify. Every
    emitted pair carries its true Jaccard; completeness is a theorem,
    not a tuning outcome."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(
            F.array_distinct(ngrams(F.col(text_col), n, character=True)),
            lambda s: F.xxhash64(s, F.lit(1)),
        ).alias("__sh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    posting = base.select(
        "__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__g")
    )
    dfreq = posting.groupBy("__g").agg(F.count("*").alias("__df"))
    ranked = (
        posting.join(dfreq, on="__g")
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(F.col("__df"), F.col("__g"))
            ),
        )
        # prefix length = |X| - ceil(t*|X|) + 1
        .filter(F.col("__rank") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1)
        .select("__id", "__g", "__sz", "__rank")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    required_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.__sz") + F.col("b.__sz"))
    )
    pairs = (
        ranked.alias("a")
        .join(ranked.alias("b"), on="__g")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .filter(
            F.least(F.col("a.__sz"), F.col("b.__sz"))
            >= F.ceil(F.lit(threshold) * F.greatest(F.col("a.__sz"), F.col("b.__sz")))
        )
        .filter(
            1
            + F.least(
                F.col("a.__sz") - F.col("a.__rank"), F.col("b.__sz") - F.col("b.__rank")
            )
            >= required_overlap
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    out = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_a"), F.col("__sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )
    return register_persists(out, [base, ranked])


def minhash_write_index(
    corpus: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
    num_hashes: int = 96,
    bands: int = 16,
    seed: int = 42,
    hash_buckets: int = 64,
) -> None:
    """Materialize the MinHash-LSH index for INCREMENTAL near-dup
    lookup: new ingest batches are checked against the indexed corpus
    without recomputing a single corpus signature (at 100 TB the
    shingle+signature pass over the corpus is the dominant cost — it
    must be paid once at ingest, not per batch).

    Layout (both partition-PRUNED at search, same design as the
    LSH/IVF indexes in ``operators/similarity.py``):

    - ``{path}/bands``: (doc id, band, band hash) rows partitioned by
      ``__bhb`` = pmod(band_hash, hash_buckets) — a search lists only
      the directories its batch's band hashes fall in (≤ batch × bands
      of ``hash_buckets``);
    - ``{path}/shingles``: (doc id, 64-bit shingle codes) partitioned
      by ``__pb`` = pmod(xxhash64(id), hash_buckets) — the exact-verify
      join reads only candidate ids' directories; shingle STRINGS never
      touch disk (codes only, as in :func:`minhash_near_dedup`);
    - ``{path}/_minhash_meta``: banding parameters as a JSON sidecar;
      searches replay them so bucket keys stay bit-identical.

    Zero-shingle docs are excluded (cannot be near-duplicates;
    mega-bucket hazard — see :func:`minhash_near_dedup`).
    """
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        write_meta_sidecar,
        write_partitioned,
    )

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing initial builds
    rows = num_hashes // bands
    src = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    sh = ngrams(F.col("__text"), shingle_size, character=True)
    base = (
        src.select("__id", shingle_hashes(sh, seed=seed, mask32=False).alias("__h"))
        .filter(F.size("__h") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    write_partitioned(
        base.select(
            "__id", "__h", F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb")
        ),
        f"{path}/shingles",
        "__pb",
    )
    sig = minhash_signatures_df(
        base.select("__id", "__h"),
        hash_col="__h",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )
    write_partitioned(
        _band_rows(sig, bands=bands, rows=rows).withColumn(
            "__bhb", F.pmod(F.xxhash64("__bh"), F.lit(hash_buckets))
        ),
        f"{path}/bands",
        "__bhb",
    )
    base.unpersist()
    write_meta_sidecar(
        f"{path}/_minhash_meta",
        "minhash_params_json",
        {
            "shingle_size": shingle_size,
            "num_hashes": num_hashes,
            "bands": bands,
            "seed": seed,
            "hash_buckets": hash_buckets,
        },
    )


def minhash_append_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a NEW document batch to a persisted MinHash index (see
    :func:`minhash_write_index`) — the append half that completes the
    family symmetry (every other index gained it earlier; BM25
    `retrieval.py:402`, vectors `similarity.py`): only the BATCH is
    shingled and signed with the sidecar's pinned parameters
    (shingling, signatures and band keys are per-document and
    seed-deterministic, so append ≡ rebuild exactly — pinned by
    test), and its band/shingle rows land as ONE sorted run per store
    (``indexstore.write_runs``: O(batch) files, however many
    ``__bhb=``/``__pb=`` directories the rows hash to), read beside
    the partitions until a compaction or upsert folds it in. The
    standing corpus is never re-shingled, never re-signed. Caller
    contract: batch ids are NEW — never present in the index, not
    even as tombstoned rows. Re-ingesting an id duplicates its rows,
    and appending an id that was delete-tombstoned leaves the new
    rows anti-joined away at search (the tombstone kills by id, not
    by generation). Route REPLACEMENTS through
    :func:`minhash_upsert_index`, which physically removes the old
    rows before the new ones land and sheds the tombstone; the
    delete → compact → append sequence is the equivalent manual
    route (both pinned by test)."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        read_meta_sidecar,
        write_runs,
    )

    ver = begin_index_mutation(path)
    meta = read_meta_sidecar(f"{path}/_minhash_meta", "minhash_params_json")
    bands, num_hashes = meta["bands"], meta["num_hashes"]
    hash_buckets, seed = meta["hash_buckets"], meta["seed"]
    rows = num_hashes // bands
    src = ensure_parallelism(
        new_docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    sh = ngrams(F.col("__text"), meta["shingle_size"], character=True)
    base = (
        src.select("__id", shingle_hashes(sh, seed=seed, mask32=False).alias("__h"))
        .filter(F.size("__h") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = minhash_signatures_df(
        base.select("__id", "__h"),
        hash_col="__h",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )
    # both runs stage first; the version is claimed before either is
    # published
    write_runs(
        path,
        ver,
        [
            (
                base.select(
                    "__id",
                    "__h",
                    F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb"),
                ),
                f"{path}/shingles",
                "__pb",
            ),
            (
                _band_rows(sig, bands=bands, rows=rows).withColumn(
                    "__bhb", F.pmod(F.xxhash64("__bh"), F.lit(hash_buckets))
                ),
                f"{path}/bands",
                "__bhb",
            ),
        ],
    )
    base.unpersist()


def _distinct_keys(keys: DataFrame) -> list:
    """The sorted distinct values of ``keys``' one column, with one
    collect: the partition keys an upsert rewrites."""
    col = keys.columns[0]
    return sorted({r[col] for r in keys.distinct().collect()})


def minhash_upsert_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Upsert a document batch into a persisted MinHash index:
    re-ingested ids REPLACE their old content (the old band/shingle
    rows are physically removed — an id-only tombstone cannot
    distinguish a replaced row from its successor, so replacement
    must be physical), new ids simply land, and previously-deleted
    batch ids shed their tombstones and become searchable again.
    ``upsert(batch) ≡ rebuild(corpus − old versions ∪ batch)`` for
    search results (pinned by test).

    Partition-scoped, never index-scoped — the layout makes every
    old row findable without a full scan:

    - the SHINGLE store partitions on ``__pb = hash(id)``, so the
      batch ids' directories are computable directly from the ids;
    - the old BAND rows' partitions (``__bhb = hash(band key)``)
      depend on the old CONTENT, but the stored shingle codes
      deterministically reproduce the old signatures → band keys →
      partitions (`minhash_signatures_df` is pure in (codes, seed)),
      so one read of the batch's shingle directories locates every
      old band row. Nothing outside (old ∪ new) partitions is
      touched, and the rewrite removes ONLY batch ids' rows —
      tombstoned rows of OTHER ids in the touched partitions are
      deliberately KEPT: a tombstoned id's stored shingle codes are
      the only way a later ``upsert`` of that id can reconstruct its
      band partitions, and its band rows may live in partitions this
      upsert never touches — dropping its shingle codes here would
      strand those stale band rows forever (a later
      ``shed_tombstones`` would then resurrect stale content). An
      id's rows leave BOTH stores together only in
      :func:`minhash_compact_index` (index-scoped, tombstones cleared
      last). Swaps are crash-safe (``indexstore.swap_partitions``).
    - runs appends left beside either store are folded, not added to
      the partition rewrite: the rows of the runs that hold a batch
      id, minus the batch ids, become one replacement run that the
      same swap moves in while those runs move aside, so each row
      stays visible exactly once and the upsert costs O(affected
      partitions + runs); runs holding no batch id stay as they are.

    A batch doc whose text yields zero shingles contributes no rows
    — upserting an id to empty text is equivalent to deleting it,
    exactly as a rebuild on the updated corpus would behave."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        heal_partition_swap,
        list_runs,
        read_meta_sidecar,
        read_store,
        shed_tombstones,
        stage_rewrite,
        swap_partitions,
    )

    # a crashed earlier upsert leaves a half-swapped store (some live
    # partitions stranded aside) — heal BEFORE any read, else the
    # affected-partition reconstruction below would see missing
    # partitions and compute a wrong rewrite
    heal_partition_swap(f"{path}/bands")
    heal_partition_swap(f"{path}/shingles")
    ver = begin_index_mutation(path)
    runs_b, runs_s = list_runs(f"{path}/bands"), list_runs(f"{path}/shingles")

    spark = new_docs.sparkSession
    meta = read_meta_sidecar(f"{path}/_minhash_meta", "minhash_params_json")
    bands, num_hashes = meta["bands"], meta["num_hashes"]
    hash_buckets, seed = meta["hash_buckets"], meta["seed"]
    rows = num_hashes // bands

    src = ensure_parallelism(
        new_docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    batch_ids = src.select("__id").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    sh = ngrams(F.col("__text"), meta["shingle_size"], character=True)
    base = (
        src.select("__id", shingle_hashes(sh, seed=seed, mask32=False).alias("__h"))
        .filter(F.size("__h") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    new_sig = minhash_signatures_df(
        base.select("__id", "__h"),
        hash_col="__h",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )
    new_bands = _band_rows(new_sig, bands=bands, rows=rows).withColumn(
        "__bhb", F.pmod(F.xxhash64("__bh"), F.lit(hash_buckets))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # ---- shingle store: affected partitions are the batch ids' own
    # hash directories (old and new rows share them — keyed on id); the
    # locator read takes the runs too, so old rows an append left in a
    # run locate their band partitions as well
    pbs = _distinct_keys(
        batch_ids.select(F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb"))
    )
    old_sh = read_store(
        spark, f"{path}/shingles", "__pb", pbs, runs=runs_s
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # old band rows reconstruct exactly from the stored codes
    old_mine = old_sh.join(F.broadcast(batch_ids), "__id").select("__id", "__h")
    old_sig = minhash_signatures_df(
        old_mine.select("__id", "__h"),
        hash_col="__h",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )
    old_bhbs = {
        r["__bhb"]
        for r in _band_rows(old_sig, bands=bands, rows=rows)
        .select(F.pmod(F.xxhash64("__bh"), F.lit(hash_buckets)).alias("__bhb"))
        .distinct()
        .collect()
    }
    bhbs = sorted(old_bhbs | set(_distinct_keys(new_bands.select("__bhb"))))

    # ---- rewrite the affected band partitions: drop every batch-id
    # row, add the new band rows. OTHER ids' rows — including
    # tombstoned ones — are kept verbatim: their removal is
    # compaction's job, because removing a tombstoned id's rows from
    # one store but not the other (its band rows can live in
    # partitions this upsert never touches) would make the id's old
    # content unreconstructable and a later upsert/shed of it unsafe.
    # The runs holding batch ids, minus those ids, are staged as one
    # replacement run.
    keep_b = read_store(spark, f"{path}/bands", "__bhb", bhbs, runs=[]).join(
        F.broadcast(batch_ids), "__id", "left_anti"
    )
    content_b = keep_b.select("__id", "__band", "__bh", "__bhb").unionByName(
        new_bands.select("__id", "__band", "__bh", "__bhb")
    )
    staged_b = f"{path}/bands.__upsert_staged"
    runs_b = stage_rewrite(content_b, staged_b, "__bhb", runs_b, batch_ids)
    commit_index_mutation(path, ver)  # claim before the first visible swap
    swap_partitions(staged_b, f"{path}/bands", "__bhb", bhbs, runs_b)

    # ---- rewrite the affected shingle partitions likewise (same
    # keep-tombstoned-codes rule — those codes are the band-partition
    # locator for any future upsert of their id)
    keep_s = read_store(spark, f"{path}/shingles", "__pb", pbs, runs=[]).join(
        F.broadcast(batch_ids), "__id", "left_anti"
    )
    content_s = keep_s.select("__id", "__h", "__pb").unionByName(
        base.select(
            "__id",
            "__h",
            F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb"),
        )
    )
    staged_s = f"{path}/shingles.__upsert_staged"
    runs_s = stage_rewrite(content_s, staged_s, "__pb", runs_s, batch_ids)
    swap_partitions(staged_s, f"{path}/shingles", "__pb", pbs, runs_s)

    # re-ingested ids shed any standing tombstone — safe now that
    # their old rows are physically gone
    shed_tombstones(spark, path, batch_ids, id_col="__id")
    for df in (batch_ids, base, new_bands, old_sh):
        df.unpersist()


def minhash_search_index(
    batch: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Find near-duplicates of a (small) ingest ``batch`` against a
    persisted MinHash index (:func:`minhash_write_index`). Returns
    (batch_id, indexed_id, jaccard_sim) — exact Jaccard on the stored
    shingle codes, same guarantees as :func:`minhash_near_dedup`.

    Plan shape: the batch pays shingle+signature+banding once, inside
    the ONE collect of the batch (:func:`indexstore.collect_probe_batch`;
    more than ``max_queries`` documents raise, ``None`` opts out); its
    band rows, built as one Arrow table, BROADCAST into a join against
    the index's band store read from the batch's ``__bhb`` directories
    only (STATIC partition filter); candidate pairs dedupe across
    bands, then the verify join reads only the candidate ids' ``__pb``
    directories of the shingle store. The indexed corpus is never
    re-shingled, never re-signed, and never scanned in full, and the
    caller's batch is never read again.

    Read-vs-writer concurrency, stated honestly: a search overlapping
    a live upsert's swap window — or running after a CRASHED upsert
    before anything healed it — can observe moved-aside partitions
    (missing rows). Mutations self-heal crash states at entry
    (``indexstore.heal_partition_swap``, also public for explicit
    startup recovery before serving searches); reader/writer
    isolation beyond that needs a real table format's snapshot reads
    (SCALE.md "Dependency gates").
    """
    from spatially_databricks_etl_spark.operators.indexstore import (
        anti_tombstones,
        apply_allowed_ids,
        collect_probe_batch,
        read_meta_sidecar,
        read_store,
    )

    spark = batch.sparkSession
    meta = read_meta_sidecar(f"{path}/_minhash_meta", "minhash_params_json")
    bands, num_hashes = meta["bands"], meta["num_hashes"]
    hash_buckets, seed = meta["hash_buckets"], meta["seed"]
    rows = num_hashes // bands
    src = batch.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    sh = ngrams(F.col("__text"), meta["shingle_size"], character=True)
    hashed = src.select("__id", shingle_hashes(sh, seed=seed, mask32=False).alias("__h"))
    # the verify codes ride through the signature stage as a passthrough
    # key, so one frame carries codes, signature and band keys
    signed = minhash_signatures_df(
        hashed.withColumn("__hk", F.col("__h")),
        hash_col="__hk",
        sig_col="__sig",
        num_hashes=num_hashes,
        seed=seed,
    )
    routed = signed.select(
        "__id",
        "__h",
        F.transform(
            _band_structs(bands=bands, rows=rows),
            lambda b: F.struct(
                b["band"].alias("band"),
                b["band_hash"].alias("band_hash"),
                F.pmod(F.xxhash64(b["band_hash"]), F.lit(hash_buckets)).alias("bhb"),
            ),
        ).alias("__bands"),
    )
    # a document with no shingle has no signature and matches nothing
    docs = [
        r
        for r in collect_probe_batch(routed, "minhash_search_index", max_queries)
        if r["__h"]
    ]
    probe = arrow_frame(spark, docs, routed.schema)
    b_bands = probe.select(
        F.col("__id").alias("batch_id"), F.explode("__bands").alias("__b")
    ).select(
        "batch_id",
        F.col("__b.band").alias("__band"),
        F.col("__b.band_hash").alias("__bh"),
        F.col("__b.bhb").alias("__bhb"),
    )
    b_sh = probe.select(F.col("__id").alias("batch_id"), F.col("__h").alias("__sh_b"))
    # allowed_ids (the family's filtered-search hook — see
    # indexstore.apply_allowed_ids) restricts which INDEXED documents
    # may match; batch docs and the Jaccard values are unaffected
    idx_bands = apply_allowed_ids(
        anti_tombstones(
            read_store(
                spark,
                f"{path}/bands",
                "__bhb",
                [b["bhb"] for r in docs for b in r["__bands"]],
            ),
            path,
            "__id",
        ),
        allowed_ids,
        "__id",
    )
    cand = (
        idx_bands.join(F.broadcast(b_bands), on=["__bhb", "__band", "__bh"])
        .select(F.col("batch_id"), F.col("__id").alias("indexed_id"))
        .dropDuplicates(["batch_id", "indexed_id"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the candidate side's shingle directories: a probe of the INDEX
    # candidates (not of the batch), so it stays its own action
    pbs = [
        r["__pb"]
        for r in cand.select(
            F.pmod(F.xxhash64("indexed_id"), F.lit(hash_buckets)).alias("__pb")
        )
        .distinct()
        .collect()
    ]
    shingles = read_store(spark, f"{path}/shingles", "__pb", pbs).select(
        F.col("__id").alias("indexed_id"), F.col("__h").alias("__sh_i")
    )
    out = (
        cand.join(shingles, "indexed_id")
        .join(F.broadcast(b_sh), "batch_id")
        .withColumn("jaccard_sim", jaccard(F.col("__sh_b"), F.col("__sh_i")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("batch_id", "indexed_id", "jaccard_sim")
    )
    return register_persists(out, [cand])


def minhash_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "doc_id"
) -> None:
    """Tombstone-delete documents from a persisted MinHash index (see
    :func:`minhash_write_index`; lifecycle contract in
    ``operators/indexstore.py``) — the dedup-winner-removal / takedown
    path. The index carries no corpus-derived global statistics (band
    keys and shingle codes are per-document), so a delete is pure
    tombstoning: searches anti-join the tombstone set after the
    band-store's pruned read, and ``delete(batch) ≡
    rebuild(remaining)`` for search results immediately (pinned by
    test). Caller contract: ids are live in the index. Run
    :func:`minhash_compact_index` to physically drop the rows."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        write_tombstones,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate vs concurrent mutators
    write_tombstones(
        deleted.select(F.col(id_col).alias("__id")), path, id_col="__id"
    )


def minhash_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted MinHash index: rewrite the
    band store and the shingle store without tombstoned documents —
    folding the appends' runs into one file group per partition
    directory while at it — then clear the tombstones. One
    partitioned rewrite of each store (index-sized, the corpus is
    never re-shingled); results identical before/after (pinned by
    test)."""
    _compact_stores(spark, path, (("bands", "__bhb"), ("shingles", "__pb")))


def _compact_stores(spark, path: str, stores) -> None:
    """The major compaction of a two-store fingerprint index (MinHash,
    SimHash): each ``(sub, partition_col)`` store is rewritten from its
    partitions and runs without tombstoned ids, swapped in whole (the
    runs vanish with the old store), then the tombstones clear."""
    import shutil

    from spatially_databricks_etl_spark.operators.indexstore import (
        anti_tombstones,
        begin_index_mutation,
        clear_tombstones,
        commit_index_mutation,
        heal_partition_swap,
        read_store,
        swap_directory,
        write_partitioned,
    )

    for sub, _ in stores:
        heal_partition_swap(f"{path}/{sub}")
    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate vs concurrent mutators
    for sub, pcol in stores:
        live = anti_tombstones(read_store(spark, f"{path}/{sub}", pcol), path, "__id")
        staged = f"{path}/{sub}_staged"
        shutil.rmtree(staged, ignore_errors=True)
        write_partitioned(live, staged, pcol)
        swap_directory(staged, f"{path}/{sub}")
    clear_tombstones(path)


def _simhash_band_rows(
    coded: DataFrame, *, chunks: int, hash_buckets: int
) -> DataFrame:
    """(__id, __sh, __chunk, __cv, __cb) band rows from a coded frame
    (__id, __sh) — the shared banding of the persisted SimHash index:
    the 64-bit fingerprint splits into ``chunks`` equal chunks; rows
    partition on ``__cb = pmod(xxhash64(chunk, value), buckets)`` so a
    search reads only its batch's chunk-hash directories. Pure in
    (code, chunks, buckets): the same code always reproduces the same
    band rows, which is what lets the upsert locate old band
    partitions from the codes store alone."""
    return coded.select(
        "__id",
        "__sh",
        F.explode(_simhash_chunk_structs(chunks=chunks, hash_buckets=hash_buckets)).alias(
            "__c"
        ),
    ).select(
        "__id",
        "__sh",
        F.col("__c.chunk").alias("__chunk"),
        F.col("__c.cv").alias("__cv"),
        F.col("__c.cb").alias("__cb"),
    )


def _simhash_chunk_structs(*, chunks: int, hash_buckets: int) -> Column:
    """``array<struct<chunk, cv, cb>>`` of the ``__sh`` column: the
    ``chunks`` fingerprint chunks, their values, and the partition key
    ``cb = pmod(xxhash64(chunk, value), hash_buckets)`` — the one
    definition :func:`_simhash_band_rows` explodes and the persisted
    search routes its batch with."""
    width = 64 // chunks
    mask = (1 << width) - 1

    def chunk(i: int) -> Column:
        cv = F.shiftrightunsigned(F.col("__sh"), i * width).bitwiseAND(F.lit(mask))
        return F.struct(
            F.lit(i).alias("chunk"),
            cv.alias("cv"),
            F.pmod(F.xxhash64(F.lit(i), cv), F.lit(hash_buckets)).alias("cb"),
        )

    return F.array(*[chunk(i) for i in range(chunks)])


def simhash_write_index(
    corpus: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunks: int = 4,
    seed: int = 42,
    hash_buckets: int = 64,
) -> None:
    """Materialize the SimHash index for INCREMENTAL near-dup lookup —
    the fingerprint-family member completing the persisted dedup-index
    symmetry (MinHash got its index first; SimHash's pigeonhole
    banding admits exactly the same build-once / probe-partitions
    design). Layout (both stores partition-PRUNED):

    - ``{path}/bands``: (__id, __sh, __chunk, __cv) rows partitioned
      by ``__cb = pmod(xxhash64(chunk, value), hash_buckets)`` — a
      search lists only its batch's chunk directories, joins on the
      exact (chunk, value) pair (the bucket is a hash — collisions
      prune to the same directory but fail the equality join), and
      verifies ``bit_count(a XOR b) <= max_hamming`` directly on the
      ``__sh`` the row carries: no second store read in the search
      path;
    - ``{path}/codes``: (__id, __sh) partitioned by
      ``__pb = pmod(xxhash64(id), hash_buckets)`` — the UPSERT
      locator: an id's old band partitions derive deterministically
      from its stored code (``_simhash_band_rows`` is pure), so a
      replacement touches only (old ∪ new) partitions, never the
      corpus (the ``minhash_write_index`` two-store discipline);
    - ``{path}/_simhash_meta``: (chunks, seed, hash_buckets) sidecar —
      searches replay them so chunk keys stay bit-identical.

    Pigeonhole guarantee (same as :func:`simhash_near_dedup`): any
    pair within Hamming d < chunks shares at least one exact chunk,
    so search with ``max_hamming < chunks`` is complete, not
    approximate. Token-frequency-weighted 64-bit fingerprints via
    :func:`simhash` (Charikar 2002). Lifecycle (append / tombstone
    delete / compact / upsert / filtered search) rides
    ``operators/indexstore.py`` — multi-writer arbitrated, crash
    swaps self-heal."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        write_meta_sidecar,
        write_partitioned,
    )

    if 64 % chunks != 0:
        raise ValueError(f"chunks ({chunks}) must divide 64 evenly")
    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate racing builds/mutators
    src = ensure_parallelism(
        corpus.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    # fingerprint ONCE, persist, and derive both stores from the
    # persisted frame (bit-identical to the former read-back of the
    # codes store — _simhash_band_rows is pure in (code, params) —
    # minus one directory listing + scan)
    coded = simhash_codes(src, seed=seed).persist(StorageLevel.MEMORY_AND_DISK)
    write_partitioned(
        coded.withColumn("__pb", F.pmod(F.xxhash64("__id"), F.lit(hash_buckets))),
        f"{path}/codes",
        "__pb",
    )
    write_partitioned(
        _simhash_band_rows(coded, chunks=chunks, hash_buckets=hash_buckets),
        f"{path}/bands",
        "__cb",
    )
    coded.unpersist()
    write_meta_sidecar(
        f"{path}/_simhash_meta",
        "simhash_params_json",
        {"chunks": chunks, "seed": seed, "hash_buckets": hash_buckets},
    )


def _simhash_meta(spark, path: str) -> dict:
    from spatially_databricks_etl_spark.operators.indexstore import (
        read_meta_sidecar,
    )

    return read_meta_sidecar(f"{path}/_simhash_meta", "simhash_params_json")


def simhash_append_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a NEW document batch to a persisted SimHash index: only
    the batch is fingerprinted (the sidecar pins chunks/seed, and
    fingerprints are per-document, so append ≡ rebuild exactly —
    pinned by test); its rows land as ONE sorted run per store
    (``indexstore.write_runs``), O(batch) files however many partition
    directories they hash to. Caller contract (the family's
    appender contract): batch ids are NEW — route replacements
    through :func:`simhash_upsert_index`."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        write_runs,
    )

    spark = new_docs.sparkSession
    ver = begin_index_mutation(path)
    meta = _simhash_meta(spark, path)
    src = ensure_parallelism(
        new_docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    coded = simhash_codes(src, seed=meta["seed"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    write_runs(
        path,
        ver,
        [
            (
                coded.withColumn(
                    "__pb", F.pmod(F.xxhash64("__id"), F.lit(meta["hash_buckets"]))
                ),
                f"{path}/codes",
                "__pb",
            ),
            (
                _simhash_band_rows(
                    coded, chunks=meta["chunks"], hash_buckets=meta["hash_buckets"]
                ),
                f"{path}/bands",
                "__cb",
            ),
        ],
    )
    coded.unpersist()


def simhash_search_index(
    batch: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    allowed_ids: DataFrame | None = None,
    max_queries: int | None = ANN_MAX_QUERIES,
) -> DataFrame:
    """Find near-duplicates of a (small) ingest ``batch`` against a
    persisted SimHash index: (batch_id, indexed_id, hamming) for every
    indexed document within ``max_hamming`` bit flips — complete by
    the pigeonhole guarantee (requires ``max_hamming < chunks``).

    Plan shape: the batch fingerprints and chunks once, inside the ONE
    collect of the batch (:func:`indexstore.collect_probe_batch`; more
    than ``max_queries`` documents raise, ``None`` opts out); its chunk
    rows, built as one Arrow table, BROADCAST into a join against the
    band store read from the batch's ``__cb`` directories only (STATIC
    partition filter, ≤ batch × chunks directories of
    ``hash_buckets``); the join is on the exact (chunk, value) pair,
    and the Hamming verify runs on the ``__sh`` columns both sides
    already carry — the corpus is never re-fingerprinted and never
    scanned in full; no second store touches the search path, and the
    caller's batch is never read again. Same read-vs-writer honesty
    note as :func:`minhash_search_index`."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        anti_tombstones,
        apply_allowed_ids,
        collect_probe_batch,
        read_store,
    )

    spark = batch.sparkSession
    meta = _simhash_meta(spark, path)
    if max_hamming >= meta["chunks"]:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({meta['chunks']}) "
            "for the pigeonhole completeness guarantee"
        )
    src = batch.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    routed = simhash_codes(src, seed=meta["seed"]).select(
        "__id",
        "__sh",
        _simhash_chunk_structs(
            chunks=meta["chunks"], hash_buckets=meta["hash_buckets"]
        ).alias("__bands"),
    )
    docs = collect_probe_batch(routed, "simhash_search_index", max_queries)
    left = arrow_frame(spark, docs, routed.schema).select(
        F.col("__id").alias("batch_id"),
        F.col("__sh").alias("__sh_a"),
        F.explode("__bands").alias("__b"),
    ).select("batch_id", "__sh_a", F.col("__b.chunk").alias("__chunk"), F.col("__b.cv").alias("__cv"))
    idx = read_store(
        spark, f"{path}/bands", "__cb", [b["cb"] for r in docs for b in r["__bands"]]
    )
    idx = anti_tombstones(idx, path, "__id")
    idx = apply_allowed_ids(idx, allowed_ids, "__id")
    right = idx.select(
        F.col("__id").alias("indexed_id"),
        F.col("__sh").alias("__sh_b"),
        "__chunk",
        "__cv",
    )
    cand = (
        F.broadcast(left)
        .join(right, on=["__chunk", "__cv"])
        .select("batch_id", "indexed_id", "__sh_a", "__sh_b")
        .dropDuplicates(["batch_id", "indexed_id"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("batch_id", "indexed_id", "hamming")
    )


def simhash_delete_index(
    deleted: DataFrame, path: str, *, id_col: str = "doc_id"
) -> None:
    """Tombstone-delete documents from a persisted SimHash index —
    pure tombstoning (fingerprints carry no corpus-global statistics):
    ``delete(batch) ≡ rebuild(remaining)`` for search results
    immediately (pinned by test). Run :func:`simhash_compact_index`
    to physically drop the rows."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        write_tombstones,
    )

    ver = begin_index_mutation(path)
    commit_index_mutation(path, ver)  # arbitrate vs concurrent mutators
    write_tombstones(
        deleted.select(F.col(id_col).alias("__id")), path, id_col="__id"
    )


def simhash_compact_index(spark, path: str) -> None:
    """Major compaction of a persisted SimHash index: rewrite both
    stores without tombstoned documents — an id's rows leave the codes
    and bands stores TOGETHER here and only here (the same invariant
    as :func:`minhash_compact_index`: a tombstoned id's stored code is
    its band-partition locator until compaction removes both) — then
    clear the tombstones. Results identical before/after (pinned by
    test)."""
    _compact_stores(spark, path, (("bands", "__cb"), ("codes", "__pb")))


def simhash_upsert_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Upsert a document batch into a persisted SimHash index:
    re-ingested ids REPLACE their old content physically (the
    partition-scoped rewrite the layout makes cheap), new ids land,
    previously-deleted batch ids shed their tombstones.
    ``upsert(batch) ≡ rebuild(corpus − old versions ∪ batch)`` for
    search results (pinned by test). Partition location is O(batch):
    the codes store is keyed on id-hash, and an old band partition
    derives deterministically from the stored code
    (``_simhash_band_rows`` is pure). Tombstoned OTHER ids' rows in
    touched partitions are deliberately KEPT — the same invariant as
    :func:`minhash_upsert_index` (a tombstoned id's stored code is
    the only locator for its band partitions; rows leave both stores
    together only at compaction). Runs appends left in either store
    that hold a batch id fold into one replacement run, as in
    :func:`minhash_upsert_index`."""
    from spatially_databricks_etl_spark.operators.indexstore import (
        begin_index_mutation,
        commit_index_mutation,
        heal_partition_swap,
        list_runs,
        read_store,
        shed_tombstones,
        stage_rewrite,
        swap_partitions,
    )

    heal_partition_swap(f"{path}/bands")
    heal_partition_swap(f"{path}/codes")
    ver = begin_index_mutation(path)
    runs_b, runs_c = list_runs(f"{path}/bands"), list_runs(f"{path}/codes")
    spark = new_docs.sparkSession
    meta = _simhash_meta(spark, path)
    chunks, hash_buckets = meta["chunks"], meta["hash_buckets"]

    src = ensure_parallelism(
        new_docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text")),
        "__id",
    )
    batch_ids = src.select("__id").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    new_coded = simhash_codes(src, seed=meta["seed"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    new_bands = _simhash_band_rows(
        new_coded, chunks=chunks, hash_buckets=hash_buckets
    ).persist(StorageLevel.MEMORY_AND_DISK)

    pbs = _distinct_keys(
        batch_ids.select(F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb"))
    )
    old_codes = read_store(
        spark, f"{path}/codes", "__pb", pbs, runs=runs_c
    ).persist(StorageLevel.MEMORY_AND_DISK)
    old_mine = old_codes.join(F.broadcast(batch_ids), "__id").select("__id", "__sh")
    old_cbs = {
        r["__cb"]
        for r in _simhash_band_rows(
            old_mine, chunks=chunks, hash_buckets=hash_buckets
        )
        .select("__cb")
        .distinct()
        .collect()
    }
    cbs = sorted(old_cbs | set(_distinct_keys(new_bands.select("__cb"))))

    keep_b = read_store(spark, f"{path}/bands", "__cb", cbs, runs=[]).join(
        F.broadcast(batch_ids), "__id", "left_anti"
    )
    content_b = keep_b.select("__id", "__sh", "__chunk", "__cv", "__cb").unionByName(
        new_bands.select("__id", "__sh", "__chunk", "__cv", "__cb")
    )
    staged_b = f"{path}/bands.__upsert_staged"
    runs_b = stage_rewrite(content_b, staged_b, "__cb", runs_b, batch_ids)
    commit_index_mutation(path, ver)  # claim before the first visible swap
    swap_partitions(staged_b, f"{path}/bands", "__cb", cbs, runs_b)

    keep_c = read_store(spark, f"{path}/codes", "__pb", pbs, runs=[]).join(
        F.broadcast(batch_ids), "__id", "left_anti"
    )
    content_c = keep_c.select("__id", "__sh", "__pb").unionByName(
        new_coded.select(
            "__id",
            "__sh",
            F.pmod(F.xxhash64("__id"), F.lit(hash_buckets)).alias("__pb"),
        )
    )
    staged_c = f"{path}/codes.__upsert_staged"
    runs_c = stage_rewrite(content_c, staged_c, "__pb", runs_c, batch_ids)
    swap_partitions(staged_c, f"{path}/codes", "__pb", pbs, runs_c)

    shed_tombstones(spark, path, batch_ids, id_col="__id")
    for df in (batch_ids, new_coded, new_bands, old_codes):
        df.unpersist()
