"""Each benchmark check accepts a correct output and rejects a corrupted
one: a dropped row, a swapped merge, an injected tombstoned id, a
perturbed score. No Spark needed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

# -- row sets -----------------------------------------------------------------

ROWS = [("A", "F", 10, 1234.5), ("N", "O", 3, 0.25), ("R", "F", 7, 99.0)]


def test_rows_accept_reordered_and_rounding_noise():
    noisy = [(a, b, c, d * (1 + 1e-12)) for a, b, c, d in reversed(ROWS)]
    assert oracle.compare_rows(noisy, ROWS, "q") == []


def test_rows_reject_dropped_row():
    assert oracle.compare_rows(ROWS[:-1], ROWS, "q")


def test_rows_reject_perturbed_value():
    bad = [ROWS[0], ROWS[1], ("R", "F", 7, 99.01)]
    assert oracle.compare_rows(bad, ROWS, "q")


def test_rows_reject_changed_key():
    bad = [ROWS[0], ROWS[1], ("R", "O", 7, 99.0)]
    assert oracle.compare_rows(bad, ROWS, "q")


# -- BPE / WordPiece ----------------------------------------------------------

CORPUS = ["low lower lowest", "newer newest wider", "low low newest"]


def test_bpe_replay_known_merges():
    rows, syms = oracle.bpe_replay(oracle.word_freqs(CORPUS), 3)
    # "lo" and "ow" each occur 5 times (low x3, lower, lowest); ties
    # break on (left, right), so "e"+"w"/"e"+"s" etc. lose to "l"+"o"
    assert rows[0][1:4] == ("l", "o", 5)
    assert rows[1][1:4] == ("lo", "w", 5)
    assert syms["low"] == ["low"]


def test_apply_merge_is_leftmost_non_overlapping():
    assert oracle._apply_merge(list("aaa"), "a", "a") == ["aa", "a"]
    assert oracle._apply_merge(list("aaaa"), "a", "a") == ["aa", "aa"]


def test_merges_reject_swapped_rounds():
    rows, _ = oracle.bpe_replay(oracle.word_freqs(CORPUS), 3)
    swapped = [(1, *rows[1][1:]), (2, *rows[0][1:]), rows[2]]
    assert oracle.check_merges(rows, rows, "bpe") == []
    assert oracle.check_merges(swapped, rows, "bpe")


def test_merges_reject_dropped_round():
    rows, _ = oracle.bpe_replay(oracle.word_freqs(CORPUS), 3)
    assert oracle.check_merges(rows[:-1], rows, "bpe")


def test_wordpiece_score_is_fixed_point_likelihood():
    freqs = oracle.word_freqs(CORPUS)
    rows, _ = oracle.bpe_replay(freqs, 1, scoring="likelihood")
    _, a, b, cnt, score = rows[0]
    uni = Counter()
    for w, f in freqs.items():
        for ch in w:
            uni[ch] += f
    assert score == cnt * 10**18 // (uni[a] * uni[b])


def test_encode_uses_final_symbols():
    _, syms = oracle.bpe_replay(oracle.word_freqs(CORPUS), 2)
    enc = dict(oracle.encode_docs([(1, "low low")], syms))
    assert enc[1] == ["low", "low"]


# -- MinHash and the funnel ---------------------------------------------------

TEXTS = {
    1: "the quick brown fox jumps over the lazy dog " * 3,
    2: "the quick brown fox jumps over the lazy cat " * 3,
    3: "completely different words appear here instead",
}


def _pairs():
    j = oracle.jaccard(oracle.shingles(TEXTS[1]), oracle.shingles(TEXTS[2]))
    return [(1, 2, j)]


def test_minhash_accepts_exact_pairs():
    assert oracle.check_minhash_pairs(_pairs(), TEXTS, [[1, 2]], 0.7) == []


def test_minhash_rejects_perturbed_jaccard():
    (a, b, j), = _pairs()
    assert oracle.check_minhash_pairs([(a, b, j - 0.01)], TEXTS, [[1, 2]], 0.7)


def test_minhash_rejects_missing_planted_copy():
    assert oracle.check_minhash_pairs([], TEXTS, [[1, 2]], 0.7)


def test_minhash_rejects_pair_below_threshold():
    j = oracle.jaccard(oracle.shingles(TEXTS[1]), oracle.shingles(TEXTS[3]))
    assert oracle.check_minhash_pairs(_pairs() + [(1, 3, j)], TEXTS, [[1, 2]], 0.7)


def _funnel_texts():
    rng = np.random.default_rng(3)
    docs = {i: gen._doc_text(rng) for i in range(60)}
    docs[100] = docs[0]  # an exact copy
    return docs


def _funnel_rows(texts):
    distinct = len({t for t in texts.values() if oracle.quality_ok(t)})
    return [("input", len(texts)), ("quality", distinct + 1), ("exact_dedup", distinct), ("near_dedup", distinct - 1)]


def test_funnel_accepts_consistent_counts():
    texts = _funnel_texts()
    assert oracle.check_funnel(_funnel_rows(texts), texts) == []


def test_funnel_rejects_wrong_exact_count():
    texts = _funnel_texts()
    rows = _funnel_rows(texts)
    rows[2] = ("exact_dedup", rows[2][1] + 1)
    assert oracle.check_funnel(rows, texts)


def test_funnel_rejects_increasing_counts():
    texts = _funnel_texts()
    rows = _funnel_rows(texts)
    rows[3] = ("near_dedup", rows[2][1] + 5)
    assert oracle.check_funnel(rows, texts)


# -- index searches -----------------------------------------------------------


def test_simhash_brute_force_and_injected_id():
    live = {1: 0b1111, 2: 0b0111, 3: 0xFF00}
    exp = oracle.simhash_brute({9: 0b1111}, live, max_hamming=3)
    assert exp == {(9, 1, 0), (9, 2, 1)}
    assert oracle.check_exact_set(sorted(exp), exp, "simhash") == []
    assert oracle.check_exact_set(sorted(exp) + [(9, 3, 12)], exp, "simhash")
    assert oracle.check_exact_set(sorted(exp)[:1], exp, "simhash")


def test_tombstoned_id_is_rejected():
    assert oracle.check_no_ids([1, 2, 3], {7}, "x") == []
    assert oracle.check_no_ids([1, 2, 7], {7}, "x")


BM25_DOCS = {1: "apple banana", 2: "apple apple cherry", 3: "banana cherry date", 4: "date"}
BM25_Q = [[0, "apple date"], [1, "cherry"]]


def _bm25_rows(ref):
    return [
        (qid, doc, score, rank)
        for qid, _ in BM25_Q
        for rank, (doc, score) in enumerate(ref[qid], start=1)
    ]


def test_bm25_accepts_reference_and_rejects_corruption():
    ref = oracle.bm25_reference(BM25_DOCS, BM25_Q, k=2)
    rows = _bm25_rows(ref)
    assert oracle.check_bm25(rows, ref, BM25_Q, k=2) == []
    perturbed = [rows[0][:2] + (rows[0][2] * 1.001, rows[0][3])] + rows[1:]
    assert oracle.check_bm25(perturbed, ref, BM25_Q, k=2)
    assert oracle.check_bm25(rows[1:], ref, BM25_Q, k=2)


def test_bm25_allows_tied_documents_to_swap():
    docs = {1: "x y", 2: "x y", 3: "z"}
    ref = oracle.bm25_reference(docs, [[0, "x"]], k=1)
    (doc, score), = ref[0]
    other = 2 if doc == 1 else 1
    assert oracle.check_bm25([(0, other, score, 1)], ref, [[0, "x"]], k=1) == []


def _ivf_case():
    rng = np.random.default_rng(0)
    live = {i: rng.normal(size=8).astype(np.float32) for i in range(50)}
    q = live[3] + 0.01
    probes = [[0, [float(x) for x in q.astype(np.float32)]]]
    mat = np.stack([live[i] for i in range(50)]).astype(np.float64)
    qq = np.asarray(probes[0][1], dtype=np.float32).astype(np.float64)
    sims = mat @ qq / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qq))
    top = np.argsort(-sims)[:5]
    rows = [(0, int(i), float(sims[i]), r + 1) for r, i in enumerate(top)]
    return rows, probes, live


def test_ivf_accepts_exact_and_rejects_corruption():
    rows, probes, live = _ivf_case()
    assert oracle.check_ivf(rows, probes, live, 5, 0.8) == []
    bad = [rows[0][:2] + (rows[0][2] - 1e-4, 1)] + rows[1:]
    assert oracle.check_ivf(bad, probes, live, 5, 0.8)
    dead = {k: v for k, v in live.items() if k != rows[0][1]}
    assert oracle.check_ivf(rows, probes, dead, 5, 0.8)


def test_ivf_rebuild_reference_probes_only_the_nearest_cells():
    # two cells, around +x and -x; the query sits in the +x cell
    live = {
        1: np.array([1.0, 0.1], np.float32),
        2: np.array([0.9, -0.3], np.float32),
        3: np.array([-1.0, 0.2], np.float32),
    }
    probes = [[0, [1.0, 0.0]]]
    ref, skipped = oracle.ivf_exact(probes, live, [[1.0, 0.0], [-1.0, 0.0]], nprobe=1, k=3)
    assert skipped == set()
    assert [r[1] for r in ref] == [1, 2]  # id 3 lives in the unprobed cell
    rows = [(q, v, s, i + 1) for i, (q, v, s) in enumerate(ref)]
    assert oracle.check_ivf_rebuild(rows, ref, skipped, "ivf") == []
    x3 = float(live[3][0] / np.linalg.norm(live[3].astype(np.float64)))
    assert oracle.check_ivf_rebuild(rows + [(0, 3, x3, 3)], ref, skipped, "ivf")
    assert oracle.check_ivf_rebuild(rows[:1], ref, skipped, "ivf")


def test_ivf_recall_floor():
    rows, probes, live = _ivf_case()
    assert oracle.check_ivf(rows[:3], probes, live, 5, 0.8)


# -- generation ---------------------------------------------------------------


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generation_is_seeded(tmp_path, workload):
    a, sa = gen.ensure_inputs(workload, 5, str(tmp_path / "a"))
    b, sb = gen.ensure_inputs(workload, 5, str(tmp_path / "b"))
    assert sa == sb
    for f in sorted(os.listdir(a)):
        if f.endswith(".parquet"):
            import pyarrow.parquet as pq

            assert pq.read_table(os.path.join(a, f)).equals(pq.read_table(os.path.join(b, f)))


def test_planted_copies_clear_the_threshold(tmp_path):
    import pyarrow.parquet as pq

    d, sched = gen.ensure_inputs("llm_pipeline", 11, str(tmp_path))
    t = pq.read_table(os.path.join(d, "documents.parquet"))
    texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    assert len(texts) == gen.CUR_DOCS
    n_copies = round(gen.CUR_NEAR_SHARE * gen.CUR_DOCS) + round(gen.CUR_EXACT_SHARE * gen.CUR_DOCS)
    assert len(sched["planted_pairs"]) == n_copies
    for a, b in sched["planted_pairs"]:
        assert oracle.jaccard(oracle.shingles(texts[a]), oracle.shingles(texts[b])) >= gen.CUR_MIN_COPY_JACCARD


# -- release audit ------------------------------------------------------------


class _FakeJsc:
    """The two calls the audit makes on ``sc._jsc``: the persisted RDD
    map and the RDD id counter."""

    def __init__(self):
        self.persisted: set[int] = set()
        self.next_id = 0

    def getPersistentRDDs(self):
        ids = sorted(self.persisted)
        return type("M", (), {"keySet": lambda m: m, "toArray": lambda m: ids})()

    def sc(self):
        return self

    def newRddId(self):
        self.next_id += 1
        return self.next_id - 1

    def persist(self):
        self.persisted.add(self.newRddId())
        return self.next_id - 1


class _FakeSpark:
    def __init__(self):
        jsc = _FakeJsc()
        self.sparkContext = type("SC", (), {"_jsc": jsc, "setJobGroup": lambda *a: None})()


def test_release_audit_reports_a_left_rdd():
    jsc = _FakeJsc()
    jsc.persist()  # persisted before the call: not the call's
    lo = jsc.newRddId()
    a, b = jsc.persist(), jsc.persist()
    hi = jsc.newRddId()
    jsc.persisted.discard(a)  # released
    assert oracle.left_after_release(jsc, (lo, hi), set()) == [b]
    assert oracle.left_after_release(jsc, (lo, hi), {b}) == []  # the result reads it


def test_a_pass_that_leaves_one_rdd_persisted_fails_its_audit():
    ctx = run.Ctx(_FakeSpark(), "", {}, "")
    jsc = ctx.jsc
    ctx.pass_no = 0

    def leaky():  # persists two RDDs, unpersists one
        keep = jsc.persist()
        jsc.persisted.discard(jsc.persist())
        return keep

    ctx.op("curate.bpe_train", "bpe_train", leaky, None)
    ctx.audit_pass(0)
    assert (ctx.attempted, ctx.failed, ctx.blocks_left) == (2, 1, 1)
    assert "bpe_train: 1 persisted RDDs left" in ctx.errors[-1]

    ctx.pass_no = 1
    first = len(ctx.leaks)
    ctx.op("curate.bpe_train", "bpe_train", lambda: jsc.persisted.discard(jsc.persist()), None)
    ctx.audit_pass(first)
    assert (ctx.attempted, ctx.failed) == (4, 1)
