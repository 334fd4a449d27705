"""Spans recorded by the benchmark around its calls into the program.

Each span is one call into a layer's public function: its name, its layer,
start and end (epoch seconds, the clock Spark's event log uses) and the span
that was open when it started.  While a span is open, the Spark jobs it
launches carry its job group ``bench-<id>``, so the event log's jobs and
stages can be matched to it afterwards.  Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def group(self) -> str:
        return f"bench-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals, start: float, end: float) -> list:
    """``intervals`` cut to [start, end]; empty ones dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, start), min(b, end)
        if b > a:
            out.append((a, b))
    return out


def self_times(spans) -> dict:
    """span id -> duration minus the part of it its child spans cover."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - union_length(clipped(children.get(s.sid, []), s.start, s.end))
        for s in spans
    }


def layer_self_times(spans) -> dict:
    """layer -> summed self time of its spans."""
    layer = {s.sid: s.layer for s in spans}
    out: dict = {}
    for sid, t in self_times(spans).items():
        out[layer[sid]] = out.get(layer[sid], 0.0) + t
    return out


def subtree(spans, root: int) -> list:
    """ids of ``root`` and every span below it."""
    ids, frontier = [root], [root]
    while frontier:
        parents = set(frontier)
        frontier = [s.sid for s in spans if s.parent in parents]
        ids.extend(frontier)
    return ids


class Tracer:
    """Opens spans and tags the Spark jobs launched inside them.

    ``wrap`` replaces a public function with one that runs it inside a span;
    ``unwrap_all`` puts every original back.  ``overhead_s`` is the time
    spent in the tracer's own bookkeeping (clock reads, job-group calls)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list = []
        self.overhead_s = 0.0
        self._stack: list = []
        self._patches: list = []

    def _tag(self, span) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name or layer,
                 parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t0 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
