"""Drive one workload through the engine's public entry points.

The engine is reached only through ``flinkexp_spark.session.get_session``,
``datasets.register_views``, the registered query functions
(``queries()[name](spark, dir)``, drained to the ``noop`` sink),
``streaming.replay.capture_stream_metrics`` and
``testing.oracle.compare_query``.  Import this module only after the
environment is pinned (see run.py): the engine reads it at import time.
"""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time
from dataclasses import dataclass, field

import flinkexp_spark
from flinkexp_spark import datasets
from flinkexp_spark.session import get_session
from flinkexp_spark.streaming import replay
from flinkexp_spark.testing.oracle import compare_query, duck_connection
from pyspark import SparkContext

from procstat import alive, host_sample, steal_share, tree_cpu_seconds, tree_pids, tree_pss_bytes
from tracing import Tracer


class RssSampler:
    """Samples the process tree's resident memory (PSS) every ``period`` s
    while a ``sampling()`` block runs; ``peak`` is the last block's peak
    (the Python driver, the JVM and its Python workers).  ``cpu_s`` is the
    CPU time the sampling has taken, which the pass CPU times leave out."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.cpu_s = 0.0

    @contextlib.contextmanager
    def sampling(self):
        self.peak = 0
        stop = threading.Event()

        def loop() -> None:
            while not stop.is_set():
                c0 = time.thread_time()
                self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
                self.cpu_s += time.thread_time() - c0
                stop.wait(self.period)

        thread = threading.Thread(target=loop, daemon=True)
        thread.start()
        try:
            yield self
        finally:
            stop.set()
            thread.join(timeout=5)


@dataclass
class QueryRun:
    name: str
    seconds: float
    cpu_s: float = 0.0  # CPU time of the driver process tree


@dataclass
class PassRun:
    seconds: float
    queries: list[QueryRun]
    steal: float = 0.0  # share of host CPU time stolen during the pass
    cpu_s: float = 0.0
    peak_pss: int = 0  # bytes
    span_id: int | None = None


@dataclass
class Failures:
    """Executions that raised or failed their oracle check."""
    attempted: int = 0
    failed_count: int = 0
    # query name -> first problem seen
    failed: dict[str, str] = field(default_factory=dict)

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed_count += 1
            self.failed.setdefault(name, error)


def describe(exc: Exception) -> str:
    """First line of an exception, for the failing-query report."""
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, workload, inputs: str, extra_conf: dict):
        self.workload = workload
        self.inputs = inputs
        self.extra_conf = extra_conf
        self.queries = flinkexp_spark.queries()
        self.spark = None
        self.failures = Failures()
        self.tracer = Tracer()
        self.rss = RssSampler()

    def cpu_seconds(self) -> float:
        """CPU time of the driver process tree so far, less the memory
        sampler's own."""
        return tree_cpu_seconds(os.getpid()) - self.rss.cpu_s

    # -- session -----------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Start the session and register the inputs; (start_s, total_s)."""
        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", extra_conf=self.extra_conf)
        t1 = time.perf_counter()
        datasets.register_views(self.spark, self.inputs)
        return t1 - t0, time.perf_counter() - t0

    def settings(self) -> dict:
        conf = self.spark.conf
        return {
            "spark.master": self.spark.sparkContext.master,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "replay_state_provider": replay.REPLAY_STATE_PROVIDER.rsplit(".", 1)[-1],
        }

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        # Python workers exit once the JVM is gone; they are no longer our
        # children by then, so wait on their pids.
        deadline = time.monotonic() + 20
        while (running := [p for p in children if alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in running:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)

    # -- passes ------------------------------------------------------------
    def run_query(self, name: str) -> QueryRun:
        c0, t0 = self.cpu_seconds(), time.perf_counter()
        error = None
        try:
            drain(self.queries[name](self.spark, self.inputs))
        except Exception as exc:  # a failing query is counted, not fatal
            error = describe(exc)
        wall = time.perf_counter() - t0
        self.failures.record(name, error)
        return QueryRun(name, wall, self.cpu_seconds() - c0)

    def run_pass(self, order: list[str]) -> PassRun:
        h0, c0, t0 = host_sample(), self.cpu_seconds(), time.perf_counter()
        with self.rss.sampling():
            runs = [self.run_query(n) for n in order]
        wall = time.perf_counter() - t0
        return PassRun(wall, runs, steal_share(h0, host_sample()), self.cpu_seconds() - c0,
                       self.rss.peak)

    def run_traced_query(self, name: str) -> QueryRun:
        sc = self.spark.sparkContext
        error = None
        t0 = time.perf_counter()
        with self.tracer.span("query", "query", query=name):
            try:
                with self.tracer.span("catalog.build", "catalog", query=name) as b:
                    sc.setJobGroup(f"pb{b.id}", name)
                    capture = (
                        replay.capture_stream_metrics(self.spark)
                        if self.workload.streaming
                        else contextlib.nullcontext()
                    )
                    with capture as collector:
                        df = self.queries[name](self.spark, self.inputs)
                    if collector is not None:
                        b.attrs["listener_batches"] = len(collector.progresses)
                with self.tracer.span("exec.action", "exec", query=name) as a:
                    sc.setJobGroup(f"pb{a.id}", name)
                    drain(df)
                a.attrs.update(self._group_counts(f"pb{a.id}"))
            except Exception as exc:  # a failing query is counted, not fatal
                error = describe(exc)
            finally:
                # Untraced queries and the oracle check must not fire their
                # jobs under the last traced span's group.
                sc.setLocalProperty("spark.jobGroup.id", None)
        self.failures.record(name, error)
        return QueryRun(name, time.perf_counter() - t0)

    def _group_counts(self, group: str) -> dict:
        """Jobs, stages and tasks of a job group, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def run_traced_pass(self, order: list[str], label: str) -> PassRun:
        h0, t0 = host_sample(), time.perf_counter()
        with self.tracer.span("pass", "bench", label=label) as p:
            runs = [self.run_traced_query(n) for n in order]
        wall = time.perf_counter() - t0
        return PassRun(wall, runs, steal_share(h0, host_sample()), span_id=p.id)

    # -- output check ------------------------------------------------------
    def oracle_check(self) -> str:
        """compare_query for every query of the workload, recorded in
        ``failures`` like any other execution; returns a timing summary."""
        con = duck_connection(self.inputs)
        spark_s = oracle_s = 0.0
        t0 = time.perf_counter()
        try:
            for name in sorted(self.workload.queries):
                timings: dict = {}
                try:
                    res = compare_query(self.spark, con, name, self.inputs, timings)
                    error = None if res.ok else f"oracle mismatch: {res.detail}"
                except Exception as exc:  # counted toward error_rate
                    error = describe(exc)
                self.failures.record(name, error)
                spark_s += timings.get("spark_s", 0.0)
                oracle_s += timings.get("oracle_s", 0.0)
        finally:
            con.close()
        return (f"oracle check: {len(self.workload.queries)} queries in "
                f"{time.perf_counter() - t0:.1f} s (Spark {spark_s:.1f} s, DuckDB {oracle_s:.1f} s)")
