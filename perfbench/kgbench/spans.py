"""In-memory spans for the traced run.

Each span records its name, start, end, parent and the run id. Spans stay
in a list until the run ends and are then written out as JSON. A span's
self time is its duration minus the part of its interval that its child
spans cover (overlapping children are merged, so nothing is subtracted
twice).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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


class Tracer:
    def __init__(self, run_id: str, on_enter=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # called with the span name when a span opens (the benchmark
        # passes setJobDescription so event-log stages carry the name)
        self._on_enter = on_enter

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        span = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        span = self.add(name, time.perf_counter(), float("nan"), parent)
        self._stack.append(span.id)
        if self._on_enter:
            self._on_enter(name)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self._on_enter:
                self._on_enter(self.spans[parent].name if parent is not None else None)

    def self_time(self, span: Span) -> float:
        children = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - covered(children, span.start, span.end)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fd:
            json.dump([asdict(s) | {"self_s": self.self_time(s)} for s in self.spans],
                      fd, indent=1)
