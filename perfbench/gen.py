"""Seeded input generation for the benchmark workloads.

Everything here is NumPy + PyArrow: no Spark, so generation never
touches a timed region. The same ``(workload, seed)`` always yields the
same files. Inputs are written once per seed into a cache directory and
reused by later runs with that seed.

The inputs imitate the engine's fixture family at sf0.1, whose files
are not in this repository: ``fixture_stats.json`` (written by
``fixture_stats.py``) records its row counts, the documents corpus's
vocabulary, word frequencies, document lengths and copy scheme, and the
shape of its embeddings. Every size and distribution below is read from
that file or derived from it; the schedule of index operations (batch
sizes, deletes, probes) has no fixture counterpart and is set here.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

#: Bump when generation changes, so stale caches are never reused.
GEN_VERSION = 9

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_stats.json")) as _fh:
    STATS = json.load(_fh)
DOCS_STATS = STATS["documents"]
EMB_STATS = STATS["embeddings"]

# --- sql_analytics: share of the sf0.1 fixture row counts (sf0.05): at
# sf0.1 the runs of both workloads did not fit the evaluation's time budget
SQL_SCALE = 0.5

# --- llm_pipeline: curation corpus, half as large as the sf0.1 fixture
# corpus (time budget, as for SQL_SCALE)
CUR_DOCS = DOCS_STATS["rows"] // 2
#: near copies (the fixture appends the word "dup") and exact copies, per document
CUR_NEAR_SHARE = DOCS_STATS["near_copy_edits"]["append dup"] / DOCS_STATS["rows"]
CUR_EXACT_SHARE = DOCS_STATS["exact_copy_pairs"] / DOCS_STATS["rows"]
COPY_WORD = "dup"
#: a planted near copy keeps at least this 5-shingle Jaccard with its
#: source, so MinHash LSH (16 bands of 6 rows) misses it with
#: probability below 6e-6 and "every planted copy is found" is a check
#: the engine can pass on every seed
CUR_MIN_COPY_JACCARD = 0.9

# --- llm_pipeline: index lifecycle (per family). The base is half the
# sf0.1 embeddings table, as the tables and the corpus are half their
# sf0.1 size; the operation schedule is not a fixture statistic:
# appends are small batches beside a large base, the case the index
# store's incremental path serves
IDX_BASE_DOCS = EMB_STATS["rows"] // 2
IDX_APPEND_BATCHES = 1
IDX_APPEND_DOCS = 50  # per batch
IDX_DELETE_IDS = 20
IDX_PROBES = 8  # queries in one search batch
IDX_DIM = EMB_STATS["dim"]
IDX_LABELS = EMB_STATS["labels"]
IDX_PROBE_NOISE = 0.03  # per coordinate; a probe keeps cosine ~0.97 with its source

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = list(DOCS_STATS["vocabulary"])
WORD_P = np.array(list(DOCS_STATS["vocabulary"].values()), dtype=np.float64)
WORD_P /= WORD_P.sum()
LANGS = list(DOCS_STATS["lang"])
LANG_P = np.array(list(DOCS_STATS["lang"].values()), dtype=np.float64)
LANG_P /= LANG_P.sum()

WORKLOADS = ("sql_analytics", "llm_pipeline")


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n)).astype("datetime64[D]").astype("datetime64[ms]")


def _write(table: pa.Table, out: str, name: str) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _rows(table: str) -> int:
    return max(1, round(STATS["tables"][table] * SQL_SCALE))


def _sql_tables(rng, out: str) -> None:
    n_nat = 25
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        out,
        "region",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(n_nat), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(n_nat)],
                "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
            }
        ),
        out,
        "nation",
    )
    nc, ns, npart, no, nl = (
        _rows(t) for t in ("customer", "supplier", "part", "orders", "lineitem")
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, n_nat, nc), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
            }
        ),
        out,
        "customer",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, n_nat, ns), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
            }
        ),
        out,
        "supplier",
    )
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
            }
        ),
        out,
        "part",
    )
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
                "o_orderdate": pa.array(_dates(rng, no, "1995-01-01", "2001-08-01")),
                "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
            }
        ),
        out,
        "orders",
    )
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
                "l_shipdate": pa.array(_dates(rng, nl, "1995-01-02", "2001-11-04")),
            }
        ),
        out,
        "lineitem",
    )
    ne = _rows("events")
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, ne))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]")),
                "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
                "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
                "value": np.round(rng.exponential(60.0, ne), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        out,
        "events",
    )


def _doc_text(rng) -> str:
    """One organic document: a length uniform over the fixture's range,
    words drawn with the fixture's word frequencies."""
    lo, hi = DOCS_STATS["words_per_doc"]["min"], DOCS_STATS["words_per_doc"]["max"]
    n = int(rng.integers(lo, hi + 1))
    return " ".join(WORDS[i] for i in rng.choice(len(WORDS), n, p=WORD_P))


def near_copy(text: str) -> str:
    """The fixture's near-duplicate edit: the copy marker appended."""
    return f"{text} {COPY_WORD}"


def _copyable(text: str) -> bool:
    return oracle.jaccard(oracle.shingles(text), oracle.shingles(near_copy(text))) >= CUR_MIN_COPY_JACCARD


def _docs_table(docs: list[tuple[int, str]], rng) -> pa.Table:
    texts = [t for _, t in docs]
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), len(docs), p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(0, DOCS_STATS["sources"], len(docs))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _curation(rng, out: str) -> dict:
    """``CUR_DOCS`` documents with ids 0..n-1, of which the copy shares
    are copies of other, organic documents: near copies (marker
    appended) and exact copies, at random positions."""
    n_near = round(CUR_NEAR_SHARE * CUR_DOCS)
    n_exact = round(CUR_EXACT_SHARE * CUR_DOCS)
    n_org = CUR_DOCS - n_near - n_exact
    organic = [_doc_text(rng) for _ in range(n_org)]
    ok = [i for i, t in enumerate(organic) if _copyable(t)]
    picks = [int(i) for i in rng.choice(ok, n_near + n_exact, replace=False)]
    texts = organic + [
        near_copy(organic[i]) if j < n_near else organic[i] for j, i in enumerate(picks)
    ]
    ids = rng.permutation(CUR_DOCS)  # text k gets doc id ids[k]
    planted = sorted(
        sorted((int(ids[src]), int(ids[n_org + j]))) for j, src in enumerate(picks)
    )
    order = np.argsort(ids)
    _write(_docs_table([(int(ids[k]), texts[k]) for k in order], rng), out, "documents")
    return {"planted_pairs": [list(p) for p in planted]}


def _index(rng, out: str) -> dict:
    n_total = IDX_BASE_DOCS + IDX_APPEND_BATCHES * IDX_APPEND_DOCS
    docs = [(i, _doc_text(rng)) for i in range(n_total)]
    _write(_docs_table(docs, rng), out, "index_documents")
    # the fixture's embeddings are isotropic unit vectors (mean cosine
    # to their label's centre equals the random expectation) with
    # uniform labels
    vecs = rng.normal(size=(n_total, IDX_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_total), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, IDX_LABELS, n_total), pa.int32()),
            }
        ),
        out,
        "embeddings",
    )
    deletes = sorted(int(i) for i in rng.choice(n_total, IDX_DELETE_IDS, replace=False))
    # text probes: exact and near copies (the fixture's copy edit) of
    # indexed documents, two of them slated for deletion so the
    # tombstone path is hit
    text = dict(docs)
    live = sorted(set(range(n_total)) - set(deletes))
    targets = [int(i) for i in rng.choice(live, IDX_PROBES - 2, replace=False)]
    targets += deletes[:2]
    text_probes = [
        [900_000 + j, near_copy(text[t]) if j % 2 else text[t]] for j, t in enumerate(targets)
    ]
    qterms = [
        [j, " ".join(WORDS[i] for i in rng.choice(len(WORDS), 3, replace=False, p=WORD_P))]
        for j in range(IDX_PROBES)
    ]
    vec_probes = []
    for j, t in enumerate(targets):
        v = vecs[t] + IDX_PROBE_NOISE * rng.normal(size=IDX_DIM)
        vec_probes.append([j, [float(x) for x in (v / np.linalg.norm(v)).astype(np.float32)]])
    return {
        "base": list(range(IDX_BASE_DOCS)),
        "batches": [
            list(range(lo, lo + IDX_APPEND_DOCS))
            for lo in range(IDX_BASE_DOCS, n_total, IDX_APPEND_DOCS)
        ],
        "deletes": deletes,
        "text_probes": text_probes,
        "bm25_queries": qterms,
        "vec_probes": vec_probes,
    }


def ensure_inputs(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (input dir, schedule). Generates into a
    temporary sibling and renames, so a killed run never leaves a
    half-written cache that a later run would trust."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose one of {WORKLOADS}")
    out = os.path.join(cache_root, "inputs", f"{workload}-s{seed}-v{GEN_VERSION}")
    sched_path = os.path.join(out, "schedule.json")
    if os.path.exists(sched_path):
        with open(sched_path) as fh:
            return out, json.load(fh)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "sql_analytics":
        _sql_tables(rng, tmp)
        sched: dict = {}
    else:  # llm_pipeline: the curation corpus and the index schedule
        sched = {**_curation(rng, tmp), **_index(rng, tmp)}
    with open(os.path.join(tmp, "schedule.json"), "w") as fh:
        json.dump(sched, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, sched
