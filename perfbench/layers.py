"""Fold Spark's event log into per-layer metrics.

The traced run writes an uncompressed, non-rolling event log. Every
benchmark call runs under its own Spark job group (``pb:<call id>``),
so each job, and through its stages each task, belongs to one call.
Per call this gives jobs, tasks, task CPU, GC, shuffle and spill, and
the driver gap: the call's wall time minus the union of its jobs'
intervals.
"""

from __future__ import annotations

import glob
import json
import os

GROUPS = (
    "relational.tpch",
    "sinks.ref_pipeline",
    "curate.bpe_train",
    "curate.wordpiece_train_encode",
    "dedup.minhash_near_dedup",
    "curate.curate_funnel",
    "index.build",
    "index.append",
    "index.delete",
    "index.search",
    "index.compact",
)
COUNTERS = (
    "wall_s",
    "build_s",
    "jobs",
    "tasks",
    "driver_gap_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
)
SESSION = ("session.start_s", "session.first_scan_s")
CACHING = ("caching.release_s", "caching.blocks_left")
UNITS = {
    "jobs": "count",
    "tasks": "count",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "caching.blocks_left": "count",
}


def per_layer_names() -> list[str]:
    return [f"{g}.{c}" for g in GROUPS for c in COUNTERS] + list(SESSION) + list(CACHING)


def unit_of(name: str) -> str:
    return UNITS.get(name, UNITS.get(name.rsplit(".", 1)[-1], "s"))


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, start, end, stage ids) and per-stage task sums."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(
                    ev["Stage ID"],
                    {"tasks": 0, "cpu": 0.0, "gc": 0.0, "shuffle": 0, "spill": 0},
                )
                s["tasks"] += 1
                s["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc"] += m.get("JVM GC Time", 0) / 1000.0
                s["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill"] += m.get("Disk Bytes Spilled", 0)
    for sid, s in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            j = jobs[jid]
            for k in ("tasks", "cpu", "gc", "shuffle", "spill"):
                j[k] = j.get(k, 0) + s[k]
    return {"jobs": jobs}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(calls: list[dict], log: dict, timed_passes: int) -> tuple[dict, list[dict]]:
    """Per-group counters, averaged per timed pass, plus the span tree
    (pass -> call -> jobs) for the trace file."""
    by_group: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    sums = {f"{g}.{c}": 0.0 for g in GROUPS for c in COUNTERS}
    spans = []
    for c in calls:
        jobs = by_group.get(c["job_group"], [])
        win = [
            (max(j["start"], c["t0"]), min(j["end"] or c["t1"], c["t1"]))
            for j in jobs
        ]
        busy = _union([(s, e) for s, e in win if e > s])
        span = {
            "pass": c["pass"],
            "group": c["group"],
            "label": c["label"],
            "start": c["t0"],
            "end": c["t1"],
            "build_s": c["build_s"],
            "jobs": [
                {"start": j["start"], "end": j["end"], "tasks": j.get("tasks", 0)}
                for j in jobs
            ],
        }
        spans.append(span)
        if c["pass"] < 0 or c["group"] not in GROUPS:
            continue  # untimed calls are not layer-profiled
        g = c["group"]
        wall = c["t1"] - c["t0"]
        sums[f"{g}.wall_s"] += wall
        sums[f"{g}.build_s"] += c["build_s"]
        sums[f"{g}.jobs"] += len(jobs)
        sums[f"{g}.tasks"] += sum(j.get("tasks", 0) for j in jobs)
        sums[f"{g}.driver_gap_s"] += max(0.0, wall - busy)
        sums[f"{g}.task_cpu_s"] += sum(j.get("cpu", 0.0) for j in jobs)
        sums[f"{g}.gc_s"] += sum(j.get("gc", 0.0) for j in jobs)
        sums[f"{g}.shuffle_bytes"] += sum(j.get("shuffle", 0) for j in jobs)
        sums[f"{g}.spill_bytes"] += sum(j.get("spill", 0) for j in jobs)
    n = max(1, timed_passes)
    return {k: v / n for k, v in sums.items()}, spans
