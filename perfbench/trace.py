"""In-memory spans around calls into the program's public functions.

A :class:`Tracer` records one :class:`Span` per wrapped call: name,
start, end and the span that was open when it began.  Each span also
becomes the Spark job group of the jobs it starts, so the event log can
attribute stages to spans afterwards (see ``eventlog.py``).

Nothing here changes program code: :meth:`Tracer.patch` swaps a module
or class attribute for a timing wrapper and restores it on exit.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        inside = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.span_id, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.span_id] = s.duration - covered(inside)
    return out


class Tracer:
    def __init__(self, spark_context=None, clock=time.perf_counter):
        self.sc = spark_context
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=f"pb-{len(self.spans)}",
            name=name,
            start=self.clock(),
            parent=parent.span_id if parent else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.span_id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, fn, name_of):
        """``fn`` wrapped in a span whose name ``name_of(*args, **kw)`` gives."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def patch(self, targets):
        """Wrap ``getattr(owner, attr)`` for each ``(owner, attr, name_of)``
        while the block runs."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for (owner, attr, name_of), (_, _, orig) in zip(targets, saved):
                setattr(owner, attr, self.wrap(orig, name_of))
            yield self
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    def children(self, span_id: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: str) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            cur = todo.pop()
            for s in self.children(cur):
                out.append(s)
                todo.append(s.span_id)
        return out
