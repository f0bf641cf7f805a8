"""In-memory spans for the traced run.

A span has a name, a start, an end and the span that was open when it
started.  A layer's self time is its span minus the time its child spans
cover.  Nothing is written while the run is measured; `dump` returns the
spans for printing when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        covered = _union_length(
            [(c.start, c.end) for c in self.spans if c.parent == idx]
        )
        return (s.end - s.start) - covered

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over spans of that name."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + self.self_time(i)
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "parent": None if s.parent is None else self.spans[s.parent].name,
            }
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
