"""The benchmark's workloads: which registered queries each pass issues.

Each workload is a closed loop: one client issues its queries one after
another, each built and drained before the next starts.  The lists are
subsets of the workloads' full lists, sized so that one run (set-ups,
the oracle check as the cold pass, the timed passes) stays within the run
budget, and chosen so that their shares of build time, build jobs, jobs
per second and Python time stay near the full lists'; METRICS.md gives
the measurements.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # Wrap each build in capture_stream_metrics in the traced run.
    streaming: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "stream_replay",
            "bounded event-time replays: the replay rig stages files, runs "
            "micro-batches and commits state",
            (
                "wordcount_datastream_api",
                "stream_sliding_window",
                "stream_session_window",
            ),
            streaming=True,
        ),
        Workload(
            "llm_pipeline",
            "LLM data prep: Python kernels at the Arrow boundary and eager "
            "jobs fired while building",
            (
                "text_quality_profile",
                "tokenizer_wordpiece_encode",
                "sim_search_ivf",
                "multimodal_decode_bzip2",
            ),
        ),
    )
}
