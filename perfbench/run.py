"""Closed-loop benchmark of the Spark ELT engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_cycle --seed 1 --seconds 20 --trace 0

``--workload`` is ``cdc_cycle``, ``lake_queries`` or ``corpus_operators``
(see :mod:`workloads`). One process starts ``local[<cores>]`` Spark, builds
the workload's inputs from ``--seed``, runs one cold pass, then warm passes
for ``--seconds``, checks every output, and prints as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (:data:`END_TO_END`).
With ``--trace 1`` untraced and traced warm passes alternate: the traced
ones wrap each layer's public entry points in spans, tag Spark jobs with a
``<layer>:<span id>`` job group and read task metrics from the Spark event
log, and the metrics are the per-layer ones (``layers.per_layer_units``).
Layer self times are given as a share of the traced pass, so a layer a
workload never enters reads 0 %. The spans, plan-node counts per query and
every pass are written to ``.perfbench/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench/`` in the working
directory, and the Spark JVM is stopped and waited for before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "bigdatapipelinepysparksqlserver_spark")
CHECKER = os.path.join(ROOT, "tools", "check_correctness.py")

# name -> (unit, what it measures); every run with --trace 0 reports all
END_TO_END = {
    "setup_s": ("s", "session start, input generation, oracle hashes and CDC bootstrap"),
    # CPU, not wall: the cold pass is one sample per run, and its wall time
    # follows how much of the host's CPU the JIT and Spark threads get
    "cold_cpu_s": ("s", "Spark JVM plus Python CPU seconds of the first pass or cycle in "
                   "the fresh session"),
    "pass_s": ("s", "median warm pass (query workloads) or cycle (cdc_cycle) wall"),
    "op_geomean_s": ("s", "geomean over operations of each one's median warm wall"),
    "cpu_s": ("s", "median Spark JVM plus Python CPU seconds per warm pass"),
    "retained_mb": ("MB", "JVM heap and non-heap in use after a full GC at the end, plus "
                    "Python's resident memory"),
}

def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_s(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(key + ":"))


def _peak_rss_mb(jvm_pid: int) -> float:
    return (_status_kb(jvm_pid, "VmHWM") + _status_kb("self", "VmHWM")) / 1024


def _retained_mb(sc) -> float:
    """What the Spark JVM and Python keep between passes: heap after a full
    GC, plus metaspace and code cache, plus the Python process."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + _status_kb("self", "VmRSS") / 1024


class Session:
    """The benchmark's Spark session and its JVM, which it stops and reaps."""

    def __init__(self, work: str, traced: bool):
        from bigdatapipelinepysparksqlserver_spark.session import get_spark
        from pyspark import SparkContext

        cores = len(os.sched_getaffinity(0))
        local = os.path.join(work, "spark-local")
        os.makedirs(local)
        os.environ["SPARK_LOCAL_DIRS"] = local
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = os.path.join(work, "eventlog")
        if traced:
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.gateway = SparkContext._gateway
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def set_job_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def stop(self) -> None:
        proc = self.gateway.proc
        try:
            self.spark.stop()
            self.gateway.shutdown()
        except Exception as e:  # the JVM is reaped below either way
            print(f"perfbench: session stop: {e}", file=sys.stderr)
        finally:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def event_lines(self):
        for name in sorted(os.listdir(self.event_dir)):
            with open(os.path.join(self.event_dir, name)) as f:
                yield from f


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    from spans import Patcher, Recorder
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    t0 = time.perf_counter()
    session = Session(work, traced)
    session_s = time.perf_counter() - t0
    plain = Recorder()
    tagged = Recorder(session.set_job_group) if traced else None
    passes = []  # (recorder, pass span, cpu seconds, counts)
    attempted = failed = 0
    messages: list[str] = []

    def one_pass(k: int, rec: Recorder, tag: bool, count_plans: bool = False) -> None:
        nonlocal attempted, failed
        wl.prepare(k)
        patcher = Patcher()
        wl.op_patches(patcher, rec)
        if tag:
            wl.trace_patches(patcher, rec)
        try:
            c0 = _cpu_s(session.jvm_pid)
            with rec.span("pass") as span:
                wl.run_pass(rec, tag, count_plans)
            cpu = _cpu_s(session.jvm_pid) - c0
        finally:
            patcher.restore()
        passes.append((rec, span, cpu, wl.pass_counts(k) if tag else {}))
        n, f, msgs = wl.check()
        attempted, failed = attempted + n, failed + f
        messages.extend(msgs)

    try:
        gen_s = wl.setup(session.spark, work, seed)
        setup_s = time.perf_counter() - t0
        one_pass(0, plain, False, count_plans=traced)
        if traced:  # unmeasured passes: the JIT is still compiling the warm path
            for k in (1, 2):
                one_pass(k, plain, False)
        first = len(passes)
        deadline = time.perf_counter() + seconds
        # warm passes until the deadline, and at least the workload's minimum;
        # a traced run orders them traced, untraced, untraced, traced, ... so
        # that the remaining warm-up drift cancels in the tracing overhead
        least = 4 if traced else wl.MIN_WARM_PASSES
        k = first
        while k - first < least or time.perf_counter() < deadline:
            tag = traced and (k - first) % 4 in (0, 3)
            one_pass(k, tagged if tag else plain, tag)
            k += 1
        n, f, msgs = wl.finish()
        attempted, failed = attempted + n, failed + f
        messages.extend(msgs)
        peak = _peak_rss_mb(session.jvm_pid)
        retained = _retained_mb(session.sc)
    finally:
        session.stop()

    out = {"attempted": attempted, "failed": failed, "messages": messages,
           "passes": [round(p[1].wall, 3) for p in passes],
           "pass_cpu": [round(p[2], 3) for p in passes], **wl.describe()}
    untraced = [p for p in passes[first:] if p[0] is plain]
    if not traced:
        median = statistics.median
        op_walls: dict[str, list[float]] = {}
        for rec, span, _cpu, _c in untraced:
            for s in rec.spans:
                if s.parent == span.id and wl.op_of(s):
                    op_walls.setdefault(wl.op_of(s), []).append(s.wall)
        out["metrics"] = {
            "setup_s": setup_s,
            "cold_cpu_s": passes[0][2],
            "pass_s": median([p[1].wall for p in untraced]),
            "op_geomean_s": statistics.geometric_mean([median(v) for v in op_walls.values()]),
            "cpu_s": median([p[2] for p in untraced]),
            "retained_mb": retained,
        }
    else:
        from layers import per_layer_metrics

        out["metrics"], out["trace"] = per_layer_metrics(
            wl, passes[first:], tagged, session.event_lines(), session_s, gen_s)
        out["metrics"]["process.peak_rss_mb"] = peak
        out["metrics"]["process.cold_pass_s"] = passes[0][1].wall
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (PACKAGE_DIR, CHECKER):
        if not os.path.exists(need):
            print(f"perfbench: {os.path.relpath(need, ROOT)} not found; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.dirname(CHECKER)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    load_before = _loadavg()
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = _loadavg()

    from layers import per_layer_units

    units = per_layer_units() if args.trace else {n: u for n, (u, _) in END_TO_END.items()}
    metrics = {name: {"value": v, "unit": units[name]} for name, v in res["metrics"].items()}
    if args.trace:
        path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(res["trace"], f)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": res["passes"], "pass_cpu": res["pass_cpu"],
        "fail_ratio": res["failed"] / res["attempted"],
        **{k: res[k] for k in ("batches", "partitions_changed") if k in res},
        "loadavg_before": load_before, "loadavg_after": load_after,
        "failures": res["messages"][:20],
    }
    print("# report " + json.dumps(report))
    for name, m in metrics.items():
        print(f"# {name:48s} {m['value']:14.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
