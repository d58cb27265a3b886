"""Span recorder for the traced run.

A span marks one call across a layer boundary: its name, start, end,
parent span and the id of the operation (query, request, batch, day) it
belongs to. Spans are kept in memory and written out when the run ends.
In a traced run every span also sets a Spark job group, so the jobs the
call launched can be joined to it from Spark's event log.

With tracing off, :class:`Recorder` is a no-op that records nothing and
touches no Spark state, so the untraced run measures the program alone.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str  # operation the span belongs to
    parent: int | None
    start: float  # unix seconds
    end: float = 0.0

    @property
    def group(self) -> str:
        """The Spark job group the span's own calls run under."""
        return f"pb-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, f"{span.op}:{span.name}")

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` around the block; ``op`` defaults to the
        enclosing span's operation."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, op or (parent.op if parent else name),
                 parent.id if parent else None, time.time())
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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
    """Span id -> its duration minus the part of it its child spans
    cover (children may overlap one another; their union counts once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span]) -> dict[int, set[int]]:
    """Span id -> ids of the span and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out: dict[int, set[int]] = {}

    def walk(i: int) -> set[int]:
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s.id)
    return out
