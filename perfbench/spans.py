"""Spans and Spark counters recorded around the benchmark's own calls into
the program's layers.

A span is one named, timed interval with the span that caused it and the
trace id of the operation it belongs to. Spans stay in memory; run.py
writes them out once, with the run's record, when the run ends. With tracing off, `Tracer.span` hands
back one shared no-op context and records nothing.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class _NoSpan:
    """Stands in for a Span when tracing is off; what is written to its
    attrs is dropped."""

    @property
    def attrs(self) -> dict[str, Any]:
        return {}


_NO_SPAN = _NoSpan()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(
        self,
        name: str,
        trace_id: str | None = None,
        parent: Span | None = None,
        **attrs: Any,
    ) -> Iterator[Span | _NoSpan]:
        """Record `name` around the block. The parent defaults to the
        innermost open span of this thread; pass `parent` to link a span
        opened on another thread (an async call's body)."""
        if not self.enabled:
            yield _NO_SPAN
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        if trace_id is None:
            trace_id = parent.trace_id if parent is not None else name
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            name, trace_id, sid, parent.span_id if parent else None,
            time.perf_counter(), attrs=dict(attrs),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> the span's duration minus the part of its interval that
    its child spans cover (children clipped to the parent)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, [])
            if c.end > s.start and c.start < s.end
        ]
        out[s.span_id] = s.duration - union_length(covered)
    return out


class JobCounter:
    """Spark jobs, tasks and failed tasks per job group, read from the
    status tracker right after the group's work ends (the tracker keeps
    only the most recent jobs)."""

    def __init__(self, spark: Any):
        self.sc = spark.sparkContext
        self._tracker = self.sc.statusTracker()

    @contextmanager
    def group(self, name: str) -> Iterator[None]:
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> dict[str, int]:
        jobs = self._tracker.getJobIdsForGroup(name)
        tasks = failed = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}
