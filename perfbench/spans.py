"""In-memory span tree and its self-time arithmetic.

A span is one timed interval at a layer boundary: a query, its construct
or execute phase, a loader call inside construct, a Spark job, a streaming
micro-batch. Times are epoch seconds so that spans recorded in Python and
jobs read back from the Spark event log share one clock.

Self time follows the usual rule -- a span's duration minus the part its
children cover -- with two refinements that keep the sum over a tree equal
to the root's duration: children are clipped to their parent's interval,
and where siblings overlap (Spark runs broadcast and main jobs
concurrently) each instant is split evenly between the spans active at
that instant that have no active child.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Span:
    sid: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. ``enabled`` switches recording on and off
    without removing the instrumentation, so one process can time traced
    and untraced passes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        self._epoch0 = time.time()
        self._pc0 = time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._pc0)

    @contextmanager
    def span(self, name: str, kind: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, kind, self.now(),
                  parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.now()

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, **attrs) -> Span:
        """Attach an externally timed span (a Spark job, a micro-batch)."""
        sp = Span(len(self.spans), name, kind, start, end, parent, attrs)
        self.spans.append(sp)
        return sp


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for sp in spans:
        out.setdefault(sp.parent, []).append(sp)
    return out


def deepest_containing(spans: list[Span], root: Span, t: float) -> Span:
    """The deepest span under ``root`` (root included) whose interval
    contains instant ``t``; used to hang a Spark job under the Python span
    that was open when the job was submitted."""
    kids = children_of(spans)
    node = root
    while True:
        inner = [c for c in kids.get(node.sid, ()) if c.start <= t <= c.end]
        if not inner:
            return node
        node = max(inner, key=lambda c: c.start)


def self_times(spans: list[Span], root: Span) -> dict[int, float]:
    """Self time of every span in ``root``'s tree. The values sum to
    ``root.duration``."""
    kids = children_of(spans)
    clipped: dict[int, tuple[float, float]] = {}
    parent: dict[int, int | None] = {}
    todo = [(root, root.start, root.end)]
    while todo:
        sp, lo, hi = todo.pop()
        a = min(max(sp.start, lo), hi)
        b = max(min(sp.end, hi), a)
        clipped[sp.sid], parent[sp.sid] = (a, b), sp.parent
        for c in kids.get(sp.sid, ()):
            todo.append((c, a, b))
    bounds = sorted({t for ab in clipped.values() for t in ab})
    out = {sid: 0.0 for sid in clipped}
    for lo, hi in zip(bounds, bounds[1:]):
        active = {sid for sid, (a, b) in clipped.items() if a <= lo and b >= hi}
        if not active:
            continue
        # a clipped child lies inside its parent, so an active span with no
        # active child is a leaf of the active subtree
        leaves = active - {parent[s] for s in active}
        share = (hi - lo) / len(leaves)
        for s in leaves:
            out[s] += share
    return out
