"""In-memory spans around the benchmark's calls into each engine layer.

A span records (name, start, end, parent, trace id). Spans are kept in a
list and written out once, when the run ends. With tracing off, ``span``
returns a shared no-op context, so the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, trace_id)

    @contextlib.contextmanager
    def _record(self, name: str, trace_id: str | None):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else name
        sp = Span(next(self._ids), name, time.time(), 0.0,
                  parent.span_id if parent else None, trace_id)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def self_times(self) -> dict[int, float]:
        """Span duration minus its children's durations (spans come from one
        thread's stack, so children are disjoint and nested)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.duration
        return {s.span_id: s.duration - child_s.get(s.span_id, 0.0) for s in self.spans}

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        total: dict[str, float] = {}
        for s in self.spans:
            total[s.name] = total.get(s.name, 0.0) + st[s.span_id]
        return total

    def write(self, path: str, extra: dict) -> None:
        st = self.self_times()
        doc = {
            "spans": [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans],
            "self_s_by_name": self.self_time_by_name(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
