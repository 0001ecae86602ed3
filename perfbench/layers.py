"""Per-layer metrics of the traced run.

The benchmark's own spans (pass > query > catalog.build / exec.action) are
joined with what the event log recorded: micro-batches become children of
the build that ran them, jobs children of the span whose job group fired
them (or, for micro-batch jobs, which run on the stream thread under their
own group, of the innermost span containing their submission), and stages
children of their job.  Every metric is per warm traced pass unless its
name says otherwise.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime

from eventlog import EventLog
from stats import median, ratio
from tracing import Span, Tracer, layer_self_times, self_times

# per_layer metric name -> unit, in BENCHMARK.json order
UNITS = {
    "session.start_s": "s",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.build_share": "ratio",
    "catalog.first_build_s": "s",
    "catalog.self_s": "s",
    "exec.action_s": "s",
    "exec.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.core_busy_ratio": "ratio",
    "exec.max_task_share": "ratio",
    "exec.self_s": "s",
    "functions.python_exec_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "functions.python_rows": "count",
    "streaming.batches": "count",
    "streaming.nonempty_batch_ratio": "ratio",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.batch_p50_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.late_rows_dropped": "count",
    "streaming.rig_s": "s",
    "streaming.listener_batches": "count",
    "streaming.self_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}

_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


# Event-log times are whole milliseconds; span times are not.
_SLACK_S = 0.002
# trace.coverage below this fails the traced run.
COVERAGE_MIN = 0.90


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def attach_event_log(tracer: Tracer, log: EventLog) -> None:
    """Add micro-batch, job and stage spans under the benchmark's spans."""
    calls = [s for s in tracer.spans if s.name in ("catalog.build", "exec.action")]
    builds = [s for s in calls if s.name == "catalog.build"]
    batches = []
    for p in log.batches:
        start = _epoch(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        parent = tracer.innermost(start, builds)
        if parent is not None:
            batches.append(tracer.add("streaming.batch", "streaming", start, end,
                                      parent.id, progress=p))
    by_group = {f"pb{s.id}": s for s in calls}
    seen_stages: set[int] = set()
    for job in log.jobs.values():
        start = job.submit_ms / 1e3
        parent = by_group.get(job.group)
        if parent is not None and not parent.start - _SLACK_S <= start <= parent.end + _SLACK_S:
            parent = None  # a stale group: fired after its span had ended
        if parent is None:
            parent = tracer.innermost(start, calls + batches)
        if parent is None:
            continue
        js = tracer.add("exec.job", "exec", start, max(job.end_ms / 1e3, start),
                        parent.id, job=job.id)
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None or sid in seen_stages or not st.submit_ms:
                continue  # skipped (reused) stages never ran
            seen_stages.add(sid)
            tracer.add("exec.stage", "exec", st.submit_ms / 1e3,
                       max(st.end_ms, st.submit_ms) / 1e3, js.id, stage=st)


def _pass_of(tracer: Tracer, s: Span) -> int | None:
    while s.parent is not None:
        s = tracer.spans[s.parent]
    return s.id if s.name == "pass" else None


def layer_metrics(tracer: Tracer, warm_passes: list[int], first_pass: int | None,
                  untraced_pass_s: list[float], session_start_s: float,
                  cores: int) -> dict[str, float]:
    warm = set(warm_passes)
    n = max(len(warm), 1)
    by_pass = defaultdict(list)
    for s in tracer.spans:
        by_pass[_pass_of(tracer, s)].append(s)
    spans = [s for p in warm for s in by_pass[p]]
    named = defaultdict(list)
    for s in spans:
        named[s.name].append(s)
    builds, actions = named["catalog.build"], named["exec.action"]
    stages = [s.attrs["stage"] for s in named["exec.stage"]]
    batches = [s.attrs["progress"] for s in named["streaming.batch"]]
    build_ids = {s.id for s in builds}
    action_ids = {s.id for s in actions}

    def under(s: Span, ids: set[int]) -> bool:
        while s.parent is not None:
            if s.parent in ids:
                return True
            s = tracer.spans[s.parent]
        return False

    build_s = sum(s.duration for s in builds)
    action_s = sum(s.duration for s in actions)
    own = self_times(spans)
    self_by_layer = layer_self_times(spans)
    action_stage_run = sum(
        s.attrs["stage"].run_ms for s in named["exec.stage"] if under(s, action_ids)
    ) / 1e3
    multi = [st for st in stages if st.tasks >= 2]
    py = defaultdict(float)
    for st in stages:
        for k, v in st.python.items():
            py[k] += v

    m = {
        "session.start_s": session_start_s,
        "catalog.build_s": build_s / n,
        "catalog.build_jobs": sum(1 for s in named["exec.job"] if under(s, build_ids)) / n,
        "catalog.build_share": ratio(build_s, build_s + action_s),
        "catalog.first_build_s": sum(
            s.duration for s in by_pass[first_pass] if s.name == "catalog.build"
        ),
        "catalog.self_s": self_by_layer.get("catalog", 0.0) / n,
        "exec.action_s": action_s / n,
        # time inside the drain that no job covers: Catalyst and the
        # driver-side work around the jobs
        "exec.plan_s": sum(own[s.id] for s in actions) / n,
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"exec.{key}"] = sum(s.attrs.get(key, 0) for s in actions) / n
    m.update({
        "exec.executor_run_s": sum(st.run_ms for st in stages) / 1e3 / n,
        "exec.executor_cpu_s": sum(st.cpu_ns for st in stages) / 1e9 / n,
        "exec.gc_s": sum(st.gc_ms for st in stages) / 1e3 / n,
        "exec.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in stages) / n,
        "exec.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages) / n,
        "exec.input_bytes": sum(st.input_bytes for st in stages) / n,
        "exec.spill_bytes": sum(st.spill_bytes for st in stages) / n,
        "exec.core_busy_ratio": ratio(action_stage_run, action_s * cores),
        "exec.max_task_share": ratio(
            sum(st.max_task_run_ms for st in multi), sum(st.run_ms for st in multi)
        ),
        "exec.self_s": self_by_layer.get("exec", 0.0) / n,
        "functions.python_exec_s": py["python_exec"] / n,
        "functions.python_boot_s": py["python_boot"] / n,
        "functions.python_bytes_sent": py["python_bytes_sent"] / n,
        "functions.python_bytes_received": py["python_bytes_received"] / n,
        "functions.python_rows": py["python_rows"] / n,
    })
    trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    # the event log's progress JSON carries input rows per source only
    nonempty = sum(
        1 for p in batches if sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0
    )
    m["streaming.batches"] = len(batches) / n
    m["streaming.nonempty_batch_ratio"] = ratio(nonempty, len(batches))
    for key, phase in _PHASES.items():
        m[key] = sum(p["durationMs"].get(phase, 0) for p in batches) / n
    m["streaming.batch_p50_ms"] = median(trig)
    final: dict[str, dict] = {}
    for p in batches:  # last progress of each streaming query run
        if p["runId"] not in final or p["batchId"] > final[p["runId"]]["batchId"]:
            final[p["runId"]] = p
    m["streaming.state_rows"] = sum(
        o.get("numRowsTotal", 0) for p in final.values() for o in p.get("stateOperators", [])
    ) / n
    ops = [o for p in batches for o in p.get("stateOperators", [])]
    m["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0) for o in ops) / n
    m["streaming.late_rows_dropped"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) / n
    replay_builds = {s.parent for s in named["streaming.batch"]}
    m["streaming.rig_s"] = (
        sum(s.duration for s in builds if s.id in replay_builds) - sum(trig) / 1e3
    ) / n
    m["streaming.listener_batches"] = sum(s.attrs.get("listener_batches", 0) for s in builds) / n
    m["streaming.self_s"] = self_by_layer.get("streaming", 0.0) / n
    passes = [tracer.spans[p] for p in warm]
    traced = median([p.duration for p in passes])
    untraced = median(untraced_pass_s)
    m["trace.untraced_pass_s"] = untraced
    m["trace.traced_pass_s"] = traced
    m["trace.overhead_s"] = traced - untraced
    # Streaming batches are part of the build that ran them, so their self
    # time counts with the catalog layer's.
    layer_s = sum(self_by_layer.get(k, 0.0) for k in ("catalog", "exec", "streaming"))
    m["trace.coverage"] = ratio(layer_s, sum(p.duration for p in passes))
    return {k: m[k] for k in UNITS}
