"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id). Spans are kept in a list and
written once, at the end of the run; nothing is written while timing.
Start and end are ``time.time()`` seconds, the clock the Spark event log
uses (milliseconds since the epoch), so Spark jobs can be placed inside
the span that was open when they were submitted.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps once."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    layer: str


class Tracer:
    """Records nested spans in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str = "", spark=None):
        """Time the block. With ``spark`` given, the block runs under a
        Spark job group named after the span, so its jobs are labelled in
        the event log."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.time(), 0.0, parent, self.run_id, layer)
        self.spans.append(rec)
        self._stack.append(sid)
        if spark is not None:
            spark.sparkContext.setJobGroup(f"{self.run_id}:{sid}", name)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setJobGroup(
                    f"{self.run_id}:{parent}" if parent is not None else "", ""
                )

    def self_seconds(self, sid: int) -> float:
        """Span duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in self.spans if c.parent == sid
        ]
        return (s.end - s.start) - union_length(kids)

    def innermost(self, t: float) -> Span | None:
        """The deepest span open at time ``t`` (latest start wins)."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best
