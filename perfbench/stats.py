"""Small numeric helpers shared by the harness and its tests."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    """Median of ``values``; 0.0 for an empty list."""
    return float(statistics.median(values)) if values else 0.0


def ratio(num: float, den: float) -> float:
    """``num / den``, or 0.0 when the base is zero."""
    return float(num) / den if den else 0.0


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread the benchmark's bounds are set from."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, median(values))


def per_query_medians(passes: list, attr: str) -> dict[str, float]:
    """Each query's median of ``attr`` (``seconds`` or ``cpu_s``) over
    ``passes``, by query name in sorted order."""
    samples: dict[str, list[float]] = {}
    for p in passes:
        for q in p.queries:
            samples.setdefault(q.name, []).append(getattr(q, attr))
    return {name: median(samples[name]) for name in sorted(samples)}


def steady_passes(passes: list) -> list:
    """The passes to report wall times over, in run order: the less stolen
    half, rounded up.  ``steal`` is the share of host CPU time the
    hypervisor gave to other guests during the pass.  The kernel counts it
    independently of the pass's own time, so this drops passes slowed by
    other tenants of the physical host without looking at how long they
    took."""
    keep = (len(passes) + 1) // 2
    chosen = {id(p) for p in sorted(passes, key=lambda p: p.steal)[:keep]}
    return [p for p in passes if id(p) in chosen]
