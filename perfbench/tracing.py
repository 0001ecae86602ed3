"""In-memory span tree for the traced run.

Spans are recorded around the calls the benchmark makes into each layer
(a query, its build, its drain) and added afterwards for what the Spark
event log reports (micro-batches, jobs, stages).  They stay in memory and
are written out once, when the run ends.  Times are epoch seconds, so
spans from the event log (epoch milliseconds) line up with ours.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> Span:
        span = Span(len(self.spans), name, layer, parent, start, end, attrs)
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = self.add(name, layer, time.time(), 0.0, parent, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def innermost(self, t: float, candidates: list[Span]) -> Span | None:
        """The deepest of ``candidates`` whose interval contains ``t``."""
        best, best_depth = None, -1
        for s in candidates:
            if s.start <= t <= s.end:
                d = self.depth(s)
                if d > best_depth:
                    best, best_depth = s, d
        return best

    def depth(self, s: Span) -> int:
        d = 0
        while s.parent is not None:
            s = self.spans[s.parent]
            d += 1
        return d

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - covered(kids[s.id], s.start, s.end) for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += own[s.id]
    return dict(out)
