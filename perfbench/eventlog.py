"""Parse a Spark event log (uncompressed, not rolled: one JSON event a line).

The traced run turns the event log on through ``extra_conf``.  This module
reduces it to jobs, stages (with summed task metrics), the Python-runner
SQL metrics per stage, and streaming micro-batch progress.  Times stay in
epoch milliseconds, as Spark writes them.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

# SQL metric names of the Python runners (PythonSQLMetrics in Spark) ->
# the key this module reports them under.
PYTHON_METRICS = {
    "time to run Python workers": "python_exec",
    "time to start Python workers": "python_boot",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
PYTHON_ROWS = "number of output rows"
# Node names of the Python runners: MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandasWithState, TransformWithStateInPySpark, ...
PYTHON_RUNNER = re.compile(r"Python|Pandas|PySpark|InArrow")
_QUERY_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    failed: bool = False


@dataclass
class Stage:
    id: int
    submit_ms: int = 0
    end_ms: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    max_task_run_ms: int = 0
    # PYTHON_METRICS keys (seconds for times, bytes) plus "python_rows"
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    batches: list[dict] = field(default_factory=list)


def _python_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """Map accumulator id -> (metric key, metric type) for every Python
    runner node in a plan tree."""
    metrics = plan.get("metrics", [])
    # Spark's stateful streaming operators carry the Python metrics too
    # (for applyInPandasWithState) but run in the JVM: pick runners by name.
    if PYTHON_RUNNER.search(plan.get("nodeName", "")):
        for m in metrics:
            key = PYTHON_METRICS.get(m["name"])
            if key is None and m["name"] == PYTHON_ROWS:
                key = "python_rows"
            if key is not None:
                out[m["accumulatorId"]] = (key, m.get("metricType", "sum"))
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _metric_value(raw, metric_type: str) -> float:
    v = float(raw)
    if metric_type == "nsTiming":
        return v / 1e9
    if metric_type == "timing":
        return v / 1e3
    return v


def parse_lines(lines) -> EventLog:
    log = EventLog()
    py_acc: dict[int, tuple[str, str]] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(e["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
                job.failed = e["Job Result"]["Result"] != "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time", 0)
            st.end_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            st.tasks += 1
            if e["Task End Reason"]["Reason"] != "Success":
                st.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            st.run_ms += run
            st.max_task_run_ms = max(st.max_task_run_ms, run)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                hit = py_acc.get(acc["ID"])
                if hit is not None and "Update" in acc:
                    key, mtype = hit
                    st.python[key] = st.python.get(key, 0.0) + _metric_value(acc["Update"], mtype)
        elif kind in _PLAN_EVENTS:
            _python_accumulators(e["sparkPlanInfo"], py_acc)
        elif kind == _QUERY_PROGRESS:
            log.batches.append(e["progress"])
    return log


def parse(path: str) -> EventLog:
    with open(path) as f:
        return parse_lines(f)
