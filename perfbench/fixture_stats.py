"""Measure the fixture tables that ``gen.py`` imitates and write
``fixture_stats.json``.

The engine's fixture family (one parquet file per table, generated
deterministically at sf0.001, sf0.01 and sf0.1) is not part of this
repository, so the benchmark cannot read it at run time. This script
records the statistics the generator needs: row counts, the documents
corpus's vocabulary and word frequencies, document lengths, how its
near-duplicate and exact copies are made, and the shape of the
embeddings. ``gen.py`` reads only the JSON file.

    python3 perfbench/fixture_stats.py <fixture dir at sf0.1> > perfbench/fixture_stats.json
"""

from __future__ import annotations

import difflib
import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import oracle

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _documents(path: str) -> dict:
    t = pq.read_table(path)
    texts = t.column("text").to_pylist()
    n = len(texts)
    words = [x.split(" ") for x in texts]
    lens = np.array([len(w) for w in words])
    # all-pairs exact 5-shingle Jaccard as one sparse-free matrix product
    sh = [oracle.shingles(x) for x in texts]
    index = {s: i for i, s in enumerate(sorted(set().union(*sh)))}
    m = np.zeros((n, len(index)), dtype=np.float32)
    for i, s in enumerate(sh):
        m[i, [index[x] for x in s]] = 1.0
    inter = m @ m.T
    size = m.sum(1)
    jac = inter / (size[:, None] + size[None, :] - inter)
    a, b = np.triu_indices(n, 1)
    close = jac[a, b] >= 0.5
    pairs = list(zip(a[close].tolist(), b[close].tolist()))
    exact = [(i, j) for i, j in pairs if texts[i] == texts[j]]
    edits: Counter = Counter()
    for i, j in pairs:
        if texts[i] == texts[j]:
            continue
        ops = difflib.SequenceMatcher(a=words[i], b=words[j]).get_opcodes()
        for tag, i1, i2, j1, j2 in ops:
            if tag == "equal":
                continue
            added = words[j][j1:j2] if tag == "insert" else words[i][i1:i2]
            at_end = max(i2, j2) in (len(words[i]), len(words[j]))
            edits[f"{tag if tag == 'replace' else 'append'} {' '.join(added)}"
                  + ("" if at_end or tag == "replace" else " (inside)")] += 1
    organic = Counter(w for ws in words for w in ws)
    for key in edits:  # the copy marker is not part of the organic vocabulary
        for w in key.split(" ")[1:]:
            organic[w] -= edits[key]
    return {
        "rows": n,
        "vocabulary": {w: c for w, c in sorted(organic.items()) if c > 0},
        "words_per_doc": {
            "min": int(lens.min()),
            "max": int(lens.max()),
            "mean": round(float(lens.mean()), 3),
            "histogram_10s": np.histogram(lens, bins=range(10, 111, 10))[0].tolist(),
        },
        "word_separator": " ",
        "copy_pairs_jaccard_ge_0.5": len(pairs),
        "exact_copy_pairs": len(exact),
        "near_copy_edits": dict(edits),
        "min_copy_jaccard": round(float(jac[a, b][close].min()), 4),
        "p999_other_pair_jaccard": round(float(np.percentile(jac[a, b][~close], 99.9)), 4),
        "quality_gate_pass": int(sum(oracle.quality_ok(x) for x in texts)),
        "lang": dict(Counter(t.column("lang").to_pylist()).most_common()),
        "sources": len(set(t.column("source").to_pylist())),
    }


def _embeddings(path: str) -> dict:
    t = pq.read_table(path)
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    lab = np.array(t.column("label").to_pylist())
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    centre_cos = []
    for lv in sorted(set(lab.tolist())):
        c = xn[lab == lv].mean(0)
        centre_cos.append(float((xn[lab == lv] @ (c / np.linalg.norm(c))).mean()))
    return {
        "rows": int(x.shape[0]),
        "dim": int(x.shape[1]),
        "labels": len(set(lab.tolist())),
        "norm_min_max": [round(float(v), 6) for v in np.percentile(np.linalg.norm(x, axis=1), [0, 100])],
        "mean_cos_to_label_centre": round(float(np.mean(centre_cos)), 4),
        "isotropic_expectation": round(float(1 / np.sqrt(x.shape[0] / len(set(lab.tolist())))), 4),
    }


def main(fixture_dir: str) -> dict:
    out = {
        "fixture": "engine fixture family B at sf0.1 (FIXTURES.md), seed 42",
        "tables": {t: pq.read_metadata(os.path.join(fixture_dir, f"{t}.parquet")).num_rows for t in TABLES},
        "documents": _documents(os.path.join(fixture_dir, "documents.parquet")),
        "embeddings": _embeddings(os.path.join(fixture_dir, "embeddings.parquet")),
    }
    li = pq.read_table(os.path.join(fixture_dir, "lineitem.parquet"), columns=["l_orderkey"])
    out["lineitem_distinct_orders"] = len(pc.unique(li.column("l_orderkey")))
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    json.dump(main(sys.argv[1]), sys.stdout, indent=1)
    sys.stdout.write("\n")
