#!/usr/bin/env python
"""Alternating A/B of the benchmark of record between two checkouts.

Usage::

    python tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --seed S --pairs N
        [--trace 0]

Each pair runs ``perfbench/run.py`` once in each checkout, in a fresh
process with that checkout as its working directory, for the
``run_seconds`` that the change checkout's ``BENCHMARK.json`` sets;
even pairs run the parent first, odd pairs the change first, so a drift
of the host during the session lands on both sides. Prints, per metric,
the median and the interquartile range of each side and the number of pairs in
which the change was better (direction from ``BENCHMARK.json`` when the
metric is listed there, else lower is better), then the correct,
attempted and failed operation counts per side, and finally one JSON
line with every run's values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, args, seconds: float) -> dict:
    cmd = [
        sys.executable,
        "perfbench/run.py",
        "--workload",
        args.workload,
        "--seed",
        str(args.seed),
        "--seconds",
        str(seconds),
        "--trace",
        str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perfbench_ab: run in {checkout} exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def benchmark_spec(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def directions(spec: dict) -> dict[str, str]:
    return {
        m["name"]: m.get("better", "lower")
        for m in spec.get("end_to_end", []) + spec.get("per_layer", [])
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    spec = benchmark_spec(sides["change"])
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run_once(sides[side], args, spec["run_seconds"])
            runs[side].append(result)
            m = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
            print(f"pair {i + 1} {side}: {m}", file=sys.stderr)

    better = directions(spec)
    names = sorted(set().union(*(r["metrics"] for r in runs["parent"] + runs["change"])))
    print(
        f"{args.workload} seed {args.seed}, {args.pairs} pairs "
        f"(parent {sides['parent']}, change {sides['change']})"
    )
    print(f"{'metric':<40} {'parent median (IQR)':>28} {'change median (IQR)':>28}  change better")
    for name in names:
        vals = {
            s: [r["metrics"][name]["value"] for r in runs[s] if name in r["metrics"]]
            for s in runs
        }
        if not vals["parent"] or not vals["change"]:
            continue
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(
            sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"])
        )
        cells = []
        for s in ("parent", "change"):
            lo, hi = quartiles(vals[s])
            cells.append(f"{statistics.median(vals[s]):.3f} ({lo:.3f}-{hi:.3f})")
        print(f"{name:<40} {cells[0]:>28} {cells[1]:>28}  {wins} of {len(vals['change'])}")
    for s in ("parent", "change"):
        rs = runs[s]
        print(
            f"{s}: correct {sum(bool(r['correct']) for r in rs)} of {len(rs)} runs, "
            f"attempted {sum(r['attempted'] for r in rs)}, failed {sum(r['failed'] for r in rs)}"
        )
    print(json.dumps({"workload": args.workload, "seed": args.seed, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
