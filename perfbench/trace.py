"""In-memory spans for the traced run.

A span is ``(id, name, start, end, parent, op)``: ``op`` names the
micro-batch, drain or mix pass the span belongs to, and children inherit
it from their parent. Spans are kept in memory while the workload runs
and written out as JSON lines at the end. Untraced runs use
``NullTracer``, whose ``span`` does nothing.

Spans nest per thread: ``foreachBatch`` calls arrive on a Py4J callback
thread, and the spans opened there nest under each other, not under
whatever the main thread has open.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open = threading.local()
        self._ids = itertools.count()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._open.__dict__.setdefault("stack", [])
        parent, parent_op = stack[-1] if stack else (None, None)
        op = parent_op if op is None else op
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, name: str) -> list[float]:
        """Per span called ``name``: its duration minus the part of its
        interval that its direct children cover, in ms."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.named(name):
            covered, cur = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out.append((s.end - s.start - covered) * 1000.0)
        return out


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield


def durations_ms(spans: list[Span]) -> list[float]:
    return [(s.end - s.start) * 1000.0 for s in spans]
