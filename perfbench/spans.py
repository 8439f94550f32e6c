"""In-memory span recording and self-time computation (pure Python).

A span is one timed call across a layer boundary: name, layer, start,
end (epoch seconds), parent and the id of the operation it belongs to.
Spans of one operation share ``op_id``. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    op_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanLog:
    """Records nested spans; ``open``/``close`` pairs keep a stack so a
    span's parent is whatever span was open when it started."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # epoch anchor: durations come from the monotonic clock, while
        # the epoch values line up with Spark's job submission times
        self._epoch0 = time.time() - time.perf_counter()
        self._next_op = 0

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    def open(self, name: str, layer: str, new_op: bool = False, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        if parent is None or new_op:
            self._next_op += 1
            op_id = self._next_op
        else:
            op_id = parent.op_id
        span = Span(len(self.spans), op_id, name, layer, self.now(),
                    parent=parent.span_id if parent else None, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.now()
        if not self._stack or self._stack[-1] is not span:
            raise RuntimeError(f"span {span.name!r} closed out of order")
        self._stack.pop()

    def innermost_at(self, t: float) -> Span | None:
        """The deepest span whose interval contains epoch time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[s.parent].append((lo, hi))
    return {s.span_id: s.duration - _covered(children[s.span_id]) for s in spans}


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    by_id = {s.span_id: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for span_id, t in self_times(spans).items():
        out[by_id[span_id].layer] += t
    return dict(out)
