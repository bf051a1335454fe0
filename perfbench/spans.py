"""In-memory span recorder for the traced benchmark run.

A span is one call into a layer: name, start, end, parent span and the root
span of its iteration (the trace id). Spans are kept in memory and written
out when the run ends. With ``enabled=False`` the recorder is a no-op so the
untraced path pays nothing but a context-manager entry.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to align with Spark event-log times
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            parent=parent.id if parent else None,
            trace=parent.trace if parent else len(self.spans) + 1,
            name=name,
            start=time.perf_counter(),
            wall_start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id,
                "parent": s.parent,
                "trace": s.trace,
                "name": s.name,
                "start_epoch": s.wall_start,
                "duration_s": s.duration,
                "self_s": selfs[s.id],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - _covered(children.get(s.id, []), s.start, s.end) for s in spans
    }
