"""Unit tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
from stats import median, per_query_medians, quartile_spread, ratio, steady_passes  # noqa: E402
from tracing import Tracer, covered, layer_self_times, self_times  # noqa: E402

EXCERPT = os.path.join(HERE, "eventlog_excerpt.jsonl")
T0 = 1700000000.0  # the excerpt's epoch base, in seconds


# -- stats -----------------------------------------------------------------
def test_median():
    assert median([]) == 0.0
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_ratio_zero_base():
    assert ratio(1, 4) == 0.25
    assert ratio(3, 0) == 0.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert quartile_spread([2.0] * 10) == 0.0


def test_steady_passes_select_by_steal_not_time():
    from types import SimpleNamespace as P

    passes = [P(seconds=5.5, steal=0.0), P(seconds=3.3, steal=0.04),
              P(seconds=6.7, steal=0.13), P(seconds=2.9, steal=0.03),
              P(seconds=2.8, steal=0.05)]
    # the three least stolen of five, in run order, whatever their times
    assert [p.seconds for p in steady_passes(passes)] == [5.5, 3.3, 2.9]
    # the less stolen half of four; of three, two; of one, that one
    assert [p.seconds for p in steady_passes(passes[1:])] == [3.3, 2.9]
    assert [p.seconds for p in steady_passes(passes[:3])] == [5.5, 3.3]
    assert steady_passes(passes[:1]) == passes[:1]
    assert steady_passes([]) == []


def test_per_query_medians_and_pass_cpu_sum():
    from types import SimpleNamespace as N

    def p(**cpu):
        return N(queries=[N(name=k, cpu_s=v, seconds=v / 2) for k, v in cpu.items()])

    # one pass's compile burst in "a" does not move a's median
    passes = [p(b=2.0, a=1.0), p(a=9.0, b=2.2), p(a=1.2, b=1.8)]
    med = per_query_medians(passes, "cpu_s")
    assert list(med) == ["a", "b"]
    assert med == pytest.approx({"a": 1.2, "b": 2.0})
    assert sum(med.values()) == pytest.approx(3.2)
    assert per_query_medians(passes, "seconds") == pytest.approx({"a": 0.6, "b": 1.0})
    assert per_query_medians([], "cpu_s") == {}


# -- /proc counters --------------------------------------------------------
def test_tree_cpu_counts_live_and_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"

    def children_cpu() -> float:  # the tree less this process's own time
        return procstat.tree_cpu_seconds(os.getpid()) - time.process_time()

    before = children_cpu()
    subprocess.run([sys.executable, "-c", burn], check=True)  # exits and is reaped
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while children_cpu() - before < 0.6 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.tree_pids(os.getpid())
        assert children_cpu() - before >= 0.6
    finally:
        child.kill()
        child.wait()
    assert not procstat.alive(child.pid)


# -- spans -----------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 3)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    tr = Tracer()
    root = tr.add("pass", "bench", 0.0, 10.0, None)
    q = tr.add("query", "query", 0.5, 9.5, root.id)
    b = tr.add("catalog.build", "catalog", 0.5, 4.5, q.id)
    a = tr.add("exec.action", "exec", 5.0, 9.0, q.id)
    # two overlapping jobs under the action, one job under the build
    tr.add("exec.job", "exec", 5.5, 7.0, a.id)
    tr.add("exec.job", "exec", 6.5, 8.0, a.id)
    tr.add("exec.job", "exec", 1.0, 2.0, b.id)
    own = self_times(tr.spans)
    assert own[root.id] == pytest.approx(1.0)
    assert own[q.id] == pytest.approx(1.0)
    assert own[b.id] == pytest.approx(3.0)
    assert own[a.id] == pytest.approx(1.5)
    by_layer = layer_self_times(tr.spans)
    assert by_layer["exec"] == pytest.approx(1.5 + 1.5 + 1.5 + 1.0)
    # concurrent siblings each keep their own time: the layers sum to the
    # wall time plus the 0.5 s the two action jobs overlap
    assert sum(by_layer.values()) == pytest.approx(10.0 + 0.5)


def test_span_context_manager_nests_and_innermost():
    tr = Tracer()
    with tr.span("pass", "bench") as p:
        with tr.span("query", "query") as q:
            with tr.span("catalog.build", "catalog") as b:
                pass
    assert (q.parent, b.parent) == (p.id, q.id)
    assert p.start <= q.start <= b.start <= b.end <= q.end <= p.end
    assert tr.innermost(b.start, [p, q, b]) is b
    assert tr.innermost(p.end + 10, [p, q, b]) is None


# -- event log -------------------------------------------------------------
def test_eventlog_parses_jobs_stages_python_and_batches():
    log = eventlog.parse(EXCERPT)
    assert set(log.jobs) == {7, 8}
    j7, j8 = log.jobs[7], log.jobs[8]
    assert (j7.group, j7.stage_ids, j7.failed) == ("pb3", [11, 12], False)
    assert j8.failed and j8.group == "6f1c2a3e-run-id"
    s11 = log.stages[11]
    assert (s11.tasks, s11.failed_tasks) == (2, 1)
    assert (s11.run_ms, s11.max_task_run_ms, s11.cpu_ns, s11.gc_ms) == (240, 180, 190_000_000, 5)
    assert (s11.input_bytes, s11.shuffle_write_bytes, s11.spill_bytes) == (65536, 2048, 124)
    # nsTiming metrics arrive in ns and are reported in seconds; the scan's
    # "number of output rows" (accumulator 90) is not a Python-runner row
    assert s11.python == pytest.approx({
        "python_exec": 0.15, "python_boot": 0.05, "python_bytes_sent": 4096,
        "python_bytes_received": 1024, "python_rows": 300,
    })
    assert log.stages[12].shuffle_read_bytes == 2048
    assert 13 not in log.stages  # listed by a job, never ran
    assert [b["batchId"] for b in log.batches] == [0]


def _traced_fixture():
    """pass > query > build (holds the micro-batch) + action (group pb3)."""
    tr = Tracer()
    p = tr.add("pass", "bench", T0, T0 + 1.0, None)
    q = tr.add("query", "query", T0 + 0.01, T0 + 0.99, p.id)
    b = tr.add("catalog.build", "catalog", T0 + 0.05, T0 + 0.50, q.id, listener_batches=1)
    a = tr.add("exec.action", "exec", T0 + 0.55, T0 + 0.95, q.id,
               jobs=1, stages=2, tasks=3, failed_tasks=1)
    assert a.id == 3
    return tr, p, b, a


def test_attach_event_log_places_batches_jobs_and_stages():
    tr, p, b, a = _traced_fixture()
    layers.attach_event_log(tr, eventlog.parse(EXCERPT))
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    (batch,) = by_name["streaming.batch"]
    assert batch.parent == b.id
    assert batch.duration == pytest.approx(0.3)
    jobs = {s.attrs["job"]: s for s in by_name["exec.job"]}
    assert jobs[7].parent == a.id  # by job group
    assert jobs[8].parent == batch.id  # micro-batch job, by time
    assert sorted(s.attrs["stage"].id for s in by_name["exec.stage"]) == [11, 12]


def test_attach_event_log_skips_jobs_of_a_stale_group():
    """A job fired under a span's group after the span ended (an untraced
    query that inherited the group) is not that span's job."""
    tr, p, b, a = _traced_fixture()
    log = eventlog.EventLog()
    log.jobs[9] = eventlog.Job(9, int((T0 + 5.0) * 1e3), int((T0 + 6.0) * 1e3), group="pb3")
    log.jobs[10] = eventlog.Job(10, int((T0 + 0.6) * 1e3), int((T0 + 0.7) * 1e3), group="pb3")
    layers.attach_event_log(tr, log)
    jobs = {s.attrs["job"]: s for s in tr.spans if s.name == "exec.job"}
    assert set(jobs) == {10} and jobs[10].parent == a.id


def test_layer_metrics_on_canned_trace():
    tr, p, b, a = _traced_fixture()
    layers.attach_event_log(tr, eventlog.parse(EXCERPT))
    m = layers.layer_metrics(tr, [p.id], None, [0.9], 2.5, cores=4)
    assert list(m) == list(layers.UNITS)
    assert m["session.start_s"] == 2.5
    assert m["catalog.build_s"] == pytest.approx(0.45)
    assert m["exec.action_s"] == pytest.approx(0.40)
    assert m["catalog.build_share"] == pytest.approx(0.45 / 0.85)
    assert m["catalog.build_jobs"] == 1  # the micro-batch job
    assert m["exec.jobs"] == 1 and m["exec.failed_tasks"] == 1
    # the action's only job runs 0.60..0.90 -> 0.10 s of the drain is uncovered
    assert m["exec.plan_s"] == pytest.approx(0.10, abs=1e-6)
    assert m["exec.executor_run_s"] == pytest.approx(0.30)
    assert m["exec.core_busy_ratio"] == pytest.approx(0.30 / (0.40 * 4))
    assert m["exec.max_task_share"] == pytest.approx(180 / 240)
    assert m["functions.python_exec_s"] == pytest.approx(0.15)
    assert m["streaming.batches"] == 1 and m["streaming.nonempty_batch_ratio"] == 1
    assert m["streaming.add_batch_ms"] == 200 and m["streaming.batch_p50_ms"] == 300
    assert m["streaming.state_rows"] == 40 and m["streaming.late_rows_dropped"] == 3
    assert m["streaming.rig_s"] == pytest.approx(0.45 - 0.3)
    assert m["streaming.listener_batches"] == 1
    # catalog + exec + streaming self time over the pass wall: the build and
    # the drain, whose children all lie inside them
    assert m["trace.coverage"] == pytest.approx(0.85)
    assert m["trace.overhead_s"] == pytest.approx(1.0 - 0.9)


# -- generator -------------------------------------------------------------
def _digest(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _rows(path: str) -> list[tuple]:
    t = pq.read_table(path)
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)), key=repr)


def test_generator_is_deterministic_and_permutes(tmp_path):
    a = gen.generate(5, str(tmp_path / "a"))
    b = gen.generate(5, str(tmp_path / "b"))
    c = gen.generate(6, str(tmp_path / "c"))
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    for t in ("orders", "events"):
        pa, pc = os.path.join(a, f"{t}.parquet"), os.path.join(c, f"{t}.parquet")
        assert _rows(pa) == _rows(pc)
        first = pq.read_table(pa).column(0).to_pylist()
        assert first != pq.read_table(pc).column(0).to_pylist()


def test_pass_orders_are_seeded_permutations():
    names = tuple(f"q{i}" for i in range(8))
    o1 = gen.pass_orders(names, 3, 4)
    assert o1 == gen.pass_orders(names, 3, 4)
    assert o1 != gen.pass_orders(names, 4, 4)
    assert all(sorted(o) == sorted(names) for o in o1)
    assert len({tuple(o) for o in o1}) > 1
