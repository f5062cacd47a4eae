"""Spans recorded around the benchmark's calls into the engine's layers.

A span is (name, start, end, parent, op id). Spans stay in memory and
are written out once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record
    nothing, so the untraced run times the program alone."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.stack: list[int] = []
        # ``on_enter(span)`` / ``on_exit(span)`` let the runner tag the
        # Spark jobs each span fires.
        self.on_enter = None
        self.on_exit = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self.stack.append(s.id)
        if self.on_enter is not None:
            self.on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if self.on_exit is not None:
                self.on_exit(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals (clipped to the parent, so overlapping or overhanging
    children are never subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s.id, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        totals[s.name] = totals.get(s.name, 0.0) + st[s.id]
    return totals


def total_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    for s in spans:
        totals[s.name] = totals.get(s.name, 0.0) + (s.end - s.start)
    return totals
