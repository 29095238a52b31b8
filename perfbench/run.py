"""Benchmark of record for the spark-graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 15 --trace 0

One Python process, one ``local[<cores>]`` SparkSession, one closed-loop
client with no extra threads. After set-up it runs whole timed passes of
the workload's fixed operation sequence until ``--seconds`` have elapsed
(at least one), then checks every pass's outputs against references
computed apart from the engine. Each pass ends with one more operation,
the release audit: it fails if any ``release_intermediates`` of the pass
left a persisted RDD behind. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics folded from Spark's event log with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
RESULTS = os.path.join(ROOT, ".perfbench_results")
DRIVER_MEMORY = "4g"
YOUNG_GEN = "512m"


def process_age() -> float:
    """Seconds since this process started (Linux), so set-up time
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _T_IMPORT


_T_IMPORT = time.perf_counter()


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Ctx:
    """Run state shared with the workload: the session, the inputs, and
    the per-call record every timed call goes through."""

    def __init__(self, spark, input_dir, sched, run_dir):
        self.spark, self.input_dir, self.sched, self.run_dir = spark, input_dir, sched, run_dir
        self.jsc = spark.sparkContext._jsc
        self.calls: list[dict] = []
        self.pass_no = -1
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.release_s = 0.0
        self.leaks: list[str] = []
        self.blocks_left = 0
        self.pending: dict[str, tuple] = {}

    def op(self, group, label, build, materialize, *, kind=None, family=None, timed=True, keep=False):
        """Time one call into the engine: ``build()`` returns the result
        (its time is ``build_s``), ``materialize`` forces it. Jobs run
        under a job group unique to this call. After the timer the
        result's registered intermediates are released and audited;
        with ``keep`` that waits for ``release(label)``, once a later
        call has consumed the result."""
        sc = self.spark.sparkContext
        cid = f"pb:{len(self.calls)}"
        sc.setJobGroup(cid, f"{group} {label}")
        self.attempted += 1
        lo = self.jsc.sc().newRddId()
        t0 = time.time()
        p0 = time.perf_counter()
        res, out, held, ok = None, None, None, True
        try:
            res = build()
            b = time.perf_counter() - p0
            # strong references to every persisted RDD, so that what the
            # call left persisted cannot be reclaimed by a JVM garbage
            # collection before the audit looks for it
            held = self.jsc.getPersistentRDDs()
            out = materialize(res) if materialize is not None else res
        except Exception as e:  # one failed operation; the run goes on
            b = time.perf_counter() - p0
            ok = False
            self.failed += 1
            self.errors.append(f"{group} {label}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - p0
        t1 = t0 + wall
        sc.setJobGroup("pb:other", "benchmark")
        self.calls.append(
            {
                "job_group": cid,
                "group": group,
                "label": label,
                "kind": kind,
                "family": family,
                "pass": self.pass_no if timed else -2,
                "t0": t0,
                "t1": t1,
                "build_s": b,
                "ok": ok,
            }
        )
        entry = (label, res, (lo, self.jsc.sc().newRddId()), held)
        if keep:
            self.pending[label] = entry
        else:
            self._release(entry)
        return out

    def release(self, label):
        """Release and audit a result kept by ``op(..., keep=True)``."""
        self._release(self.pending.pop(label))

    def _release(self, entry):
        from pyspark.sql import DataFrame

        from spatially_databricks_etl_spark.caching import release_intermediates

        label, res, created, _held = entry
        dfs = [d for d in (res if isinstance(res, tuple) else (res,)) if isinstance(d, DataFrame)]
        p0 = time.perf_counter()
        for d in dfs:
            release_intermediates(d)
        if self.pass_no >= 0:
            self.release_s += time.perf_counter() - p0
        left = oracle.left_after_release(self.jsc, created, rdds_read(dfs))
        if left:
            if self.pass_no >= 0:
                self.blocks_left += len(left)
            self.leaks.append(
                f"{label}: {len(left)} persisted RDDs left after release_intermediates (ids {left[:8]})"
            )

    def audit_pass(self, first_leak: int) -> None:
        """One operation per pass: every ``release_intermediates`` of the
        pass must have left no persisted RDD behind."""
        self.attempted += 1
        new = self.leaks[first_leak:]
        if new:
            self.failed += 1
            self.errors.append(f"caching.release_intermediates pass {self.pass_no}: " + "; ".join(new))


def rdds_read(dfs) -> set[int]:
    """Ids of the RDDs the DataFrames' plans read directly (a local
    checkpoint's blocks belong to the result that reads them)."""
    out = set()
    for df in dfs:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                out.add(int(leaf.rdd().id()))
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM this process started
    and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:  # fail fast, before any input is generated, if the engine is absent
        import spatially_databricks_etl_spark  # noqa: F401
        from spatially_databricks_etl_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2

    import gen
    import layers as tr
    from workloads import WORKLOAD_CLASSES

    if args.workload not in WORKLOAD_CLASSES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    g0 = time.perf_counter()
    input_dir, sched = gen.ensure_inputs(args.workload, args.seed, CACHE)
    gen_s = time.perf_counter() - g0

    # pinned environment: cores, driver heap, fresh local/temp dirs, UTC
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    for sub in ("local", "tmp", "eventlog", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        MALLOC_ARENA_MAX="2",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # keeps spark-submit's launcher JVM from writing under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=os.path.join(run_dir, "tmp"),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        # a fixed heap shape (initial = max heap, fixed young generation)
        # keeps the JVM's resident high-water mark from following G1's
        # adaptive resizing, so peak_rss_mb moves with retained data;
        # without -XX:-UsePerfData the JVM writes a file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
            " -XX:-UsePerfData"
        ),
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = None
    try:
        s0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - s0
        ctx = Ctx(spark, input_dir, sched, os.path.join(run_dir, "out"))
        wl = WORKLOAD_CLASSES[args.workload](ctx)
        f0 = time.perf_counter()
        spark.sparkContext.setJobGroup("pb:scan", "first scan")
        wl.scan()
        first_scan_s = time.perf_counter() - f0
        setup_s = process_age() - gen_s

        outputs, pass_s = [], []
        t_start = time.perf_counter()
        while not pass_s or time.perf_counter() - t_start < args.seconds:
            ctx.pass_no = len(pass_s)
            first_leak = len(ctx.leaks)
            p0 = time.perf_counter()
            outputs.append(wl.run_pass(ctx.pass_no))
            pass_s.append(time.perf_counter() - p0)
            ctx.audit_pass(first_leak)
        ctx.pass_no = -1
        rss = jvm_peak_rss_mb(spark)
        v0 = time.perf_counter()
        wl.verify()

        spark.sparkContext.setJobGroup("pb:check", "checks")
        problems = wl.check(outputs)
        d0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        check_s, stop_s = d0 - v0, time.perf_counter() - d0
        layer, spans = (
            tr.fold(ctx.calls, tr.read_event_log(os.path.join(run_dir, "eventlog")), len(pass_s))
            if args.trace
            else ({}, [])
        )
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in problems[:20]:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    for msg in ctx.errors[:20]:
        print(f"perfbench: OPERATION FAILED: {msg}", file=sys.stderr)

    timed = [c for c in ctx.calls if c["pass"] >= 0 and c["ok"]]

    def p50(kind):
        """Median latency of one ``kind`` call per family (index family,
        or all TPC-H shapes as one), averaged over the families, so a
        change to any one family moves it."""
        by_family: dict = {}
        for c in timed:
            if c["kind"] == kind:
                by_family.setdefault(c["family"], []).append(c["t1"] - c["t0"])
        meds = [statistics.median(xs) for xs in by_family.values()]
        return statistics.fmean(meds) if meds else float("nan")

    if args.trace:
        layer.update(
            {
                "session.start_s": session_start_s,
                "session.first_scan_s": first_scan_s,
                "caching.release_s": ctx.release_s / max(1, len(pass_s)),
                "caching.blocks_left": ctx.blocks_left / max(1, len(pass_s)),
            }
        )
        metrics = {k: {"value": layer[k], "unit": tr.unit_of(k)} for k in tr.per_layer_names()}
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-trace.json"), "w") as fh:
            json.dump({"pass_s": pass_s, "spans": spans}, fh)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(pass_s), "unit": "s"},
            "search_p50_s": {"value": p50("search"), "unit": "s"},
            "append_p50_s": {"value": p50("append"), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(
        f"perfbench: {args.workload} seed {args.seed}: {len(pass_s)} timed passes "
        f"{[round(x, 3) for x in pass_s]}, setup {setup_s:.2f}s (session {session_start_s:.2f}s, "
        f"first scan {first_scan_s:.2f}s, generation {gen_s:.2f}s), "
        f"verify and checks {check_s:.2f}s, teardown {stop_s:.2f}s",
        file=sys.stderr,
    )
    result = {
        "correct": not problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
