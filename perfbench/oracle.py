"""Reference computations made apart from the engine, and the checks
that compare the engine's outputs against them.

Nothing here imports Spark or the engine: each reference is plain
Python, NumPy or DuckDB over the generated input files. Every
``check_*`` function returns a list of problem strings; an empty list
means the output is correct. ``tests/test_checks.py`` feeds each check a
corrupted output and asserts that it reports a problem.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict
from datetime import date, datetime
from decimal import Decimal

import numpy as np

REL_TOL = 1e-6
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this",
)


# ---------------------------------------------------------------------------
# Row-set comparison
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def _sort_key(row: tuple) -> tuple:
    """Order rows by their exact values, floats rounded coarsely so two
    sides that differ only in the last bits of a sum sort alike."""

    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, f"{round(v, 2):.2f}")
        return (2, str(v))

    return tuple(k(v) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, str) or isinstance(b, str):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(actual: list, expected: list, label: str) -> list[str]:
    """Order-insensitive equality of two row lists, with a relative
    tolerance for floating-point values."""
    a = sorted((tuple(_norm(v) for v in r) for r in actual), key=_sort_key)
    e = sorted((tuple(_norm(v) for v in r) for r in expected), key=_sort_key)
    if len(a) != len(e):
        return [f"{label}: {len(a)} rows, expected {len(e)}"]
    for i, (x, y) in enumerate(zip(a, e)):
        if not _same(x, y):
            return [f"{label}: row {i} is {x!r}, expected {y!r}"]
    return []


def duckdb_rows(input_dir: str, queries: dict[str, str], tables: tuple[str, ...]) -> dict[str, list]:
    """Run each named query in one DuckDB connection over views of the
    input files; returns name -> rows."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
            )
        return {name: con.execute(sql).fetchall() for name, sql in queries.items()}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# BPE / WordPiece replay
# ---------------------------------------------------------------------------


def word_freqs(texts: list[str], pattern: str = "[a-z]+") -> Counter:
    rx = re.compile(pattern)
    c: Counter = Counter()
    for t in texts:
        if t is not None:
            c.update(rx.findall(t.lower()))
    return c


def _apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_replay(freqs: Counter, merges: int, scoring: str = "freq"):
    """Sennrich et al. 2016, determinized like the engine: arg-max by
    (count desc, left, right) -- or by WordPiece's fixed-point
    likelihood (cnt*10^18) // (cnt_a*cnt_b) first -- and leftmost
    non-overlapping greedy merge application. Returns (merge rows
    (round, left, right, pair_count, score), word -> symbols)."""
    words = {w: list(w) for w in freqs}
    rows = []
    for rnd in range(1, merges + 1):
        pairs: Counter = Counter()
        uni: Counter = Counter()
        for w, s in words.items():
            f = freqs[w]
            for x in s:
                uni[x] += f
            for x, y in zip(s, s[1:]):
                pairs[(x, y)] += f
        if not pairs:
            break
        if scoring == "likelihood":
            def key(p):
                cnt = pairs[p]
                sc = (cnt * 10**18) // (uni[p[0]] * uni[p[1]])
                return (-sc, -cnt, p[0], p[1])
        else:
            def key(p):
                return (-pairs[p], p[0], p[1])
        a, b = min(pairs, key=key)
        cnt = pairs[(a, b)]
        score = (cnt * 10**18) // (uni[a] * uni[b]) if scoring == "likelihood" else cnt
        rows.append((rnd, a, b, cnt, score))
        words = {w: _apply_merge(s, a, b) for w, s in words.items()}
    return rows, words


def encode_docs(docs: list[tuple[int, str]], word_syms: dict, pattern: str = "[a-z]+"):
    rx = re.compile(pattern)
    out = []
    for doc_id, t in docs:
        toks = [s for w in rx.findall((t or "").lower()) for s in word_syms[w]]
        if toks:
            out.append((doc_id, toks))
    return out


def check_merges(actual: list[tuple], expected: list[tuple], label: str) -> list[str]:
    """Merge tables compare in round order, column for column."""
    a = sorted(tuple(r) for r in actual)
    e = sorted(tuple(r) for r in expected)
    if a != e:
        for i, (x, y) in enumerate(zip(a, e)):
            if x != y:
                return [f"{label}: merge {i} is {x}, expected {y}"]
        return [f"{label}: {len(a)} merges, expected {len(e)}"]
    return []


# ---------------------------------------------------------------------------
# MinHash pairs and the curation funnel
# ---------------------------------------------------------------------------


def shingles(text: str | None, k: int = 5) -> frozenset:
    s = (text or "").lower()
    return frozenset(s[i : i + k] for i in range(len(s) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def check_minhash_pairs(
    pairs: list[tuple], texts: dict[int, str], planted: list[list[int]], threshold: float
) -> list[str]:
    """Every reported pair's exact shingle Jaccard equals the reported
    value and clears the threshold; every planted copy is reported."""
    probs = []
    cache: dict[int, frozenset] = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    seen = set()
    for a, b, j in pairs:
        if (a, b) in seen or a >= b:
            probs.append(f"minhash: pair ({a}, {b}) duplicated or unordered")
            continue
        seen.add((a, b))
        if a not in texts or b not in texts:
            probs.append(f"minhash: pair ({a}, {b}) names an unknown document")
            continue
        exact = jaccard(sh(a), sh(b))
        if not math.isclose(j, exact, rel_tol=1e-9, abs_tol=1e-12):
            probs.append(f"minhash: pair ({a}, {b}) reports {j}, exact Jaccard {exact}")
        if exact < threshold:
            probs.append(f"minhash: pair ({a}, {b}) has Jaccard {exact} < {threshold}")
    for a, b in planted:
        if (min(a, b), max(a, b)) not in seen:
            probs.append(f"minhash: planted copy ({a}, {b}) not found")
    return probs[:5]


def quality_ok(text: str | None, min_quality: float = 0.6) -> bool:
    """Plain-Python replay of the quality gate: length band, low
    punctuation share, healthy stopword share."""
    t = text or ""
    n = len(t)
    length_ok = 1.0 if 50 <= n <= 20000 else 0.0
    punct = len(re.sub(r"[A-Za-z0-9\s]", "", t))
    punct_ok = 1.0 if (punct / n if n else 0.0) < 0.2 else 0.0
    toks = re.split(r"\s+", t.strip().lower())
    sw = sum(1 for x in toks if x in STOPWORDS) / len(toks) if toks else 0.0
    sw_ok = 1.0 if 0.05 < sw < 0.6 else 0.0
    return (length_ok + punct_ok + sw_ok) / 3.0 >= min_quality


def check_funnel(stages: list[tuple], texts: dict[int, str]) -> list[str]:
    """Stage counts never increase; the input stage is the corpus size
    and the exact-dedup stage equals a distinct count of the texts that
    pass the quality gate."""
    order = ["input", "quality", "exact_dedup", "near_dedup"]
    got = dict(stages)
    if sorted(got) != sorted(order):
        return [f"funnel: stages {sorted(got)}, expected {order}"]
    probs = []
    counts = [got[s] for s in order]
    if any(b > a for a, b in zip(counts, counts[1:])):
        probs.append(f"funnel: counts increase along {counts}")
    if got["input"] != len(texts):
        probs.append(f"funnel: input {got['input']}, expected {len(texts)}")
    distinct = len({t for t in texts.values() if quality_ok(t)})
    if got["exact_dedup"] != distinct:
        probs.append(f"funnel: exact_dedup {got['exact_dedup']}, distinct count {distinct}")
    return probs


# ---------------------------------------------------------------------------
# Index searches
# ---------------------------------------------------------------------------


def simhash_brute(probe_codes: dict, live_codes: dict, max_hamming: int = 3) -> set:
    """(batch_id, indexed_id, hamming) by a full Hamming scan."""
    out = set()
    for pid, pc in probe_codes.items():
        for iid, ic in live_codes.items():
            h = bin((pc ^ ic) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= max_hamming:
                out.add((pid, iid, h))
    return out


def check_exact_set(actual: list[tuple], expected: set, label: str) -> list[str]:
    a = {tuple(r) for r in actual}
    if len(a) != len(actual):
        return [f"{label}: duplicate rows"]
    if a != expected:
        extra, missing = sorted(a - expected)[:3], sorted(expected - a)[:3]
        return [f"{label}: extra {extra}, missing {missing}"]
    return []


def bm25_tokens(text: str | None) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]


def bm25_reference(
    docs: dict[int, str], queries: list[list], k: int = 10, k1: float = 1.2, b: float = 0.75
) -> dict[int, list[tuple[int, float]]]:
    """Plain-Python Okapi BM25 over the live corpus: per query the top
    ``k`` (doc_id, score), ordered (score desc, doc_id)."""
    toks = {d: bm25_tokens(t) for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n if n else 0.0
    df: Counter = Counter()
    tf = {}
    for d, ts in toks.items():
        c = Counter(ts)
        tf[d] = c
        df.update(c.keys())
    out = {}
    for qid, qtext in queries:
        terms = set(bm25_tokens(qtext))
        scores = defaultdict(float)
        for d, c in tf.items():
            dl = len(toks[d])
            for t in terms:
                if t in c:
                    idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    scores[d] += idf * c[t] * (k1 + 1.0) / (c[t] + k1 * (1.0 - b + b * dl / avgdl))
        ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
        out[qid] = ranked[:k]
        out[(qid, "all")] = scores
    return out


def check_bm25(actual: list[tuple], ref: dict, queries: list[list], k: int = 10) -> list[str]:
    """Top-k scores equal the reference rank for rank; documents match
    except where scores tie at the cut-off."""
    got = defaultdict(list)
    for qid, doc, score, rank in actual:
        got[qid].append((rank, doc, score))
    probs = []
    for qid, _ in queries:
        rows = sorted(got.get(qid, []))
        exp = ref[qid]
        if len(rows) != len(exp):
            probs.append(f"bm25: query {qid} returned {len(rows)}, expected {len(exp)}")
            continue
        allsc = ref[(qid, "all")]
        for (rank, doc, score), (_, escore) in zip(rows, exp):
            if not math.isclose(score, escore, rel_tol=1e-9, abs_tol=1e-12):
                probs.append(f"bm25: query {qid} rank {rank} score {score}, expected {escore}")
                break
            if doc not in allsc or not math.isclose(allsc[doc], score, rel_tol=1e-9, abs_tol=1e-12):
                probs.append(f"bm25: query {qid} doc {doc} does not score {score}")
                break
    return probs[:5]


def check_ivf(
    actual: list[tuple],
    probes: list[list],
    live: dict[int, np.ndarray],
    k: int,
    recall_floor: float,
) -> list[str]:
    """Every returned score is the exact cosine of a live vector; recall
    at k against a NumPy brute-force scan is at least the floor."""
    ids = np.array(sorted(live))
    mat = np.stack([live[i] for i in ids]).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    got = defaultdict(set)
    probs = []
    for qid, nid, sim, _rank in actual:
        if nid not in live:
            probs.append(f"ivf: query {qid} returned {nid}, which is not live")
            continue
        q = np.asarray(dict(probes)[qid], dtype=np.float32).astype(np.float64)
        v = live[nid].astype(np.float64)
        exact = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        if not math.isclose(sim, exact, rel_tol=1e-9, abs_tol=1e-12):
            probs.append(f"ivf: query {qid} neighbor {nid} score {sim}, exact {exact}")
        got[qid].add(nid)
    hits = total = 0
    for qid, vec in probes:
        q = np.asarray(vec, dtype=np.float32).astype(np.float64)
        sims = mat @ q / (norms * np.linalg.norm(q))
        top = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
        hits += len(top & got[qid])
        total += len(top)
    recall = hits / total if total else 1.0
    if recall < recall_floor:
        probs.append(f"ivf: recall@{k} {recall:.3f} below floor {recall_floor}")
    return probs[:5]


def ivf_exact(
    probes: list[list], live: dict[int, np.ndarray], centroids: list, nprobe: int, k: int
) -> tuple[list[tuple], set]:
    """What an IVF index rebuilt on the live vectors answers, replayed in
    NumPy: each vector in the cell of its most cosine-similar centroid,
    each query probing its ``nprobe`` most similar cells, the top ``k``
    candidates by exact cosine. Returns ((query, id, cosine) rows, ids of
    the queries whose answer hangs on a near-tie that float rounding
    could flip; those are not compared)."""
    eps = 1e-9
    ids = np.array(sorted(live))
    mat = np.stack([live[i] for i in ids]).astype(np.float64)
    cen = np.asarray(centroids, dtype=np.float64)
    cen /= np.linalg.norm(cen, axis=1, keepdims=True)
    cell_sims = mat @ cen.T
    top2 = np.sort(cell_sims, axis=1)[:, -2:]
    cells = np.argmax(cell_sims, axis=1)
    shaky = top2[:, 1] - top2[:, 0] < eps
    cos = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    rows, skipped = [], set()
    for qid, vec in probes:
        q = np.asarray(vec, dtype=np.float32).astype(np.float64)
        q /= np.linalg.norm(q)
        qs = cen @ q
        order = np.argsort(-qs, kind="stable")
        probed = order[:nprobe]
        sims = cos @ q
        cand = np.flatnonzero(np.isin(cells, probed))
        best = cand[np.argsort(-sims[cand], kind="stable")[:k]]
        kth = sims[best[-1]] if len(best) else -1.0
        if (nprobe < len(qs) and qs[order[nprobe - 1]] - qs[order[nprobe]] < eps) or bool(
            np.any(shaky & (sims >= kth - eps))
        ):
            skipped.add(qid)
            continue
        rows += [(qid, int(ids[i]), float(sims[i])) for i in best]
    return rows, skipped


def check_ivf_rebuild(actual: list[tuple], expected: list[tuple], skipped: set, label: str) -> list[str]:
    """The IVF search equals ``ivf_exact`` on every query it decides."""
    got = [(q, v, s) for q, v, s, _rank in actual if q not in skipped]
    return compare_rows(got, expected, label)


def check_no_ids(actual_ids: list[int], banned: set, label: str) -> list[str]:
    bad = sorted(set(actual_ids) & banned)
    return [f"{label}: tombstoned ids returned {bad[:5]}"] if bad else []


# ---------------------------------------------------------------------------
# Persisted blocks after release
# ---------------------------------------------------------------------------


def persisted_ids(jsc) -> set[int]:
    """Ids of the RDDs a Spark context (``sc._jsc``, or any object with
    the same ``getPersistentRDDs()``) holds persisted."""
    return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}


def left_after_release(jsc, created: tuple[int, int], read_by_result: set) -> list[int]:
    """After ``release_intermediates`` no RDD a call persisted may be
    left, except those its result reads. ``created`` is the open range
    of RDD ids the call allocated; returns the ids left persisted."""
    lo, hi = created
    return sorted(i for i in persisted_ids(jsc) if lo < i < hi and i not in read_by_result)
