"""In-memory spans for the traced run.

A span has a name, a start and an end (epoch seconds), the id of the
span that caused it, and the run's trace id. Spans are kept in memory
and written out once, when the run ends. The untraced run uses a
tracer with ``enabled=False``, whose ``span`` records nothing.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals that may overlap."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.time(), 0.0, attrs)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent_id: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a streaming epoch from its
        progress report)."""
        if not self.enabled:
            return -1
        sp = Span(len(self.spans), parent_id, name, start, end, attrs)
        self.spans.append(sp)
        return sp.span_id

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span_id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length((max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp.span_id))
        return (sp.end - sp.start) - covered

    def self_times_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + self.self_time(sp)
        return out

    def dump(self, path, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "trace_id": self.trace_id,
                    "summary": summary,
                    "self_time_s": self.self_times_by_name(),
                    "spans": [asdict(s) for s in self.spans],
                },
                f,
                indent=1,
            )
