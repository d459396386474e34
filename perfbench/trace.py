"""Timing arithmetic, in-memory spans and Spark job counters.

Spans are recorded by the benchmark around its calls into each engine
layer (the engine itself is not instrumented).  With tracing off every
span call is a no-op, so end-to-end runs pay nothing for it.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile``'s default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: str | None
    sid: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def self_times_ms(spans: list[Span]) -> dict[str, float]:
    """Per layer, the total time its spans ran minus the part of each
    span's interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered) * 1000.0
    return out


class Tracer:
    """Spans plus one Spark job group per traced operation."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.groups: dict[str, str] = {}  # job group -> "<layer>.<function>"
        self._request_of: dict[int, str | None] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = self._request_of.get(parent)
        with self._lock:
            self._request_of[sid] = request
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, layer, start, end, parent, request, sid))

    @contextmanager
    def job_group(self, op: str, request: str):
        """Tag the Spark jobs this thread starts with a per-request group."""
        if not self.enabled or self.sc is None:
            yield
            return
        group = f"perfbench-{request}"
        self.sc.setJobGroup(group, op)
        try:
            yield
        finally:
            self.groups[group] = op
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self) -> dict[str, list[tuple[int, int, int]]]:
        """Per operation name, (jobs, tasks, failed tasks) of each request."""
        out: dict[str, list[tuple[int, int, int]]] = {}
        if not self.groups:
            return out
        tracker = self.sc.statusTracker()
        for group, op in self.groups.items():
            jobs = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            out.setdefault(op, []).append((jobs, tasks, failed))
        return out

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"meta": meta}) + "\n")
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer, "parent": s.parent,
                    "request": s.request, "start": s.start, "end": s.end}) + "\n")
