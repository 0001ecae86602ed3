"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 8 --trace 0

Untraced (``--trace 0``): launch the session and rebuild it three times,
check every query against its DuckDB oracle (the run's cold pass), then
time warm passes for ``--seconds`` (at least three); prints the
end-to-end metrics.  Traced (``--trace 1``): one set-up with the Spark
event log on, a traced cold pass, the oracle check, then untraced and
traced warm passes in ABBA order; prints the per-layer metrics.  The last stdout line is one JSON
object.  METRICS.md describes every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP_MB = 1024
SETUP_REBUILDS = 3  # set-ups after the JVM launch; setup_s is their median
# Timed passes, however long they take.  The first follows the cold oracle
# check and often took up to 15 % more CPU time than the next on a 4-core
# VM; each query's median over three passes leaves that out without a
# warm-up pass.
MIN_PASSES = 3
END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}


def memory_limit_mb() -> int:
    """The smaller of physical memory and the cgroup limit, in MB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    limit = total_kb * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            limit = min(limit, int(raw))
    except OSError:
        pass
    return limit // (1024 * 1024)


def pin_environment(run_dir: str) -> dict:
    """Pin cores, heap and scratch paths before the engine is imported:
    the engine reads SPARK_GRAFT_* and SPARK_LOCAL_DIRS at import time."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(DRIVER_HEAP_MB, memory_limit_mb() // 4)
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "replay", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "replay"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {
        "cores": cores,
        "conf": {
            # -XX:-UsePerfData: HotSpot would write its perf file to /tmp.
            # -XX:TieredStopAtLevel=1: C1 only, so the JIT settles within
            # the cold pass; with C2 it still compiled 2-4 CPU s per warm
            # pass after eight passes and pass CPU time kept falling.
            # -XX:+UseSerialGC: the heap grows with the live data after each
            # collection; G1 grows it when pauses take long, which stolen
            # CPU time makes them do (a 383 MB heap became 562 MB).
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                             "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def event_log_conf(run_dir: str) -> dict:
    path = os.path.join(run_dir, "eventlog")
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{path}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def run_untraced(bench, orders, seconds, report) -> dict:
    from stats import median, per_query_medians, steady_passes

    launch_s = bench.setup()[1]
    setups = []
    for _ in range(SETUP_REBUILDS):
        bench.spark.stop()
        setups.append(bench.setup()[1])
    report(f"settings: {bench.settings()}")
    # The oracle check is the cold pass (JIT, first Python workers, memoized
    # indexes).  It runs DuckDB and pandas in this process, so it is not
    # timed.
    report(bench.oracle_check())
    passes, t0 = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(bench.run_pass(orders[len(passes)]))
    # CPU time is not charged for stolen time, so every timed pass counts;
    # wall time is taken over the less stolen half.  A pass's CPU time is
    # the sum of its queries' medians, so that a compile or GC burst in one
    # query of one pass does not move it.
    steady = steady_passes(passes)
    cpu_q, wall_q = per_query_medians(passes, "cpu_s"), per_query_medians(steady, "seconds")
    m = {
        "setup_s": median(setups),
        "pass_cpu_s": sum(cpu_q.values()),
        "peak_rss_mb": median([p.peak_pss for p in passes]) / 2**20,
        "pass_s": median([p.seconds for p in steady]),
        "query_p50_s": median(list(wall_q.values())),
    }
    report(f"setup_s       {m['setup_s']:9.4f} s    median of {len(setups)} set-ups "
           f"(stop, get_session, register_views) after the first, which launched the "
           f"JVM in {launch_s:.3f} s: " + ", ".join(f"{s:.3f}" for s in setups))
    report(f"pass_cpu_s    {m['pass_cpu_s']:9.4f} s    CPU time of the driver process tree: "
           f"sum over the queries of each one's median over {len(passes)} timed passes; "
           f"per pass wall / CPU / steal: "
           + ", ".join(f"{p.seconds:.3f} / {p.cpu_s:.3f} / {p.steal:.0%}" for p in passes))
    report(f"pass_s        {m['pass_s']:9.4f} s    median wall time of the less stolen "
           f"{len(steady)} of those {len(passes)} passes (printed, not a BENCHMARK.json metric)")
    report(f"query_p50_s   {m['query_p50_s']:9.4f} s    median over {len(wall_q)} queries of "
           f"each one's median wall time over those {len(steady)} passes (printed only)")
    for name in cpu_q:
        report(f"  {name:34s} CPU {cpu_q[name]:7.3f} s   wall {wall_q[name]:7.3f} s")
    report(f"peak_rss_mb   {m['peak_rss_mb']:9.1f} MB   median over those {len(passes)} passes of "
           f"each one's peak PSS of the driver process tree, sampled every {bench.rss.period} s: "
           + ", ".join(f"{p.peak_pss / 2**20:.0f}" for p in passes))
    return m


def run_traced(bench, orders, seconds, cores, report) -> dict:
    import eventlog
    import layers
    from stats import steady_passes

    start_s, _ = bench.setup()
    report(f"settings: {bench.settings()}")
    first = bench.run_traced_pass(orders[0], "first")
    report(f"first_pass_s  {first.seconds:9.4f} s    1 cold traced pass of {len(orders[0])} queries")
    report(bench.oracle_check())
    untraced, traced, t0 = [], [], time.perf_counter()
    while not traced or time.perf_counter() - t0 < seconds:
        # ABBA order, so the JIT's warming over the passes favours neither
        pair = ("untraced", "traced") if len(traced) % 2 == 0 else ("traced", "untraced")
        for kind in pair:
            order = orders[len(untraced) + len(traced) + 1]
            if kind == "traced":
                traced.append(bench.run_traced_pass(order, "warm"))
            else:
                untraced.append(bench.run_pass(order))
    app_id = bench.spark.sparkContext.applicationId
    log_dir = bench.extra_conf["spark.eventLog.dir"][len("file://"):]
    bench.spark.stop()
    bench.spark = None
    layers.attach_event_log(bench.tracer, eventlog.parse(os.path.join(log_dir, app_id)))
    traced = steady_passes(traced)
    untraced = [p.seconds for p in steady_passes(untraced)]
    m = layers.layer_metrics(bench.tracer, [p.span_id for p in traced], first.span_id,
                             untraced, start_s, cores)
    for k, v in m.items():
        report(f"{k:34s} {v:16.4f} {layers.UNITS[k]}")
    verdict = "ok" if m["trace.coverage"] >= layers.COVERAGE_MIN else (
        f"FAILED: below {layers.COVERAGE_MIN:.0%}, the run is not correct")
    report(f"coverage check: catalog + exec self times (streaming batches with the build "
           f"that ran them) cover {m['trace.coverage']:.1%} of the traced pass wall "
           f"({verdict}); tracing overhead "
           f"{m['trace.overhead_s']:+.3f} s per pass over {len(traced)} traced / "
           f"{len(untraced)} untraced passes")
    return m



def main() -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "flinkexp_spark")):
        print(f"no flinkexp_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    run_dir = os.path.join(SCRATCH, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return run(workload, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(workload, args, run_dir: str) -> int:
    pinned = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    import gen
    import harness
    import layers
    import procstat

    def report(line: str) -> None:
        print(line, flush=True)

    report(f"workload={workload.name} seed={args.seed} seconds={args.seconds:g} "
           f"trace={args.trace} queries={len(workload.queries)} cores={pinned['cores']} "
           f"driver_heap={os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    host0 = procstat.host_sample()
    report(procstat.fmt_host("before", host0))
    inputs = gen.generate(args.seed, os.path.join(run_dir, "inputs"))
    orders = gen.pass_orders(workload.queries, args.seed, 256)
    conf = dict(pinned["conf"])
    if args.trace:
        conf.update(event_log_conf(run_dir))
    bench = harness.Bench(workload, inputs, conf)
    try:
        if args.trace:
            m = run_traced(bench, orders, args.seconds, pinned["cores"], report)
        else:
            m = run_untraced(bench, orders, args.seconds, report)
    finally:
        bench.shutdown()
    f = bench.failures
    report(f"error_rate    {f.failed_count / f.attempted:9.4f}      {f.failed_count} of "
           f"{f.attempted} executions raised or failed the oracle check"
           + (f"; failing: {', '.join(sorted(f.failed))}" if f.failed else ""))
    for name, why in sorted(f.failed.items()):
        report(f"  FAILED {name}: {why}")
    correct = f.failed_count == 0
    if args.trace:
        bench.tracer.write(os.path.join(SCRATCH, f"spans-{workload.name}.json"))
        units = layers.UNITS
        correct = correct and m["trace.coverage"] >= layers.COVERAGE_MIN
    else:
        units = END_TO_END_UNITS
    report(procstat.fmt_host("after", host0, procstat.host_sample()))
    result = {
        "correct": correct,
        "attempted": f.attempted,
        "failed": f.failed_count,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
