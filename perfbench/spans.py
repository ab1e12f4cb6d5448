"""Spans, self time, job attribution and summary statistics.

A :class:`Tracer` records one span per call into a layer.  Spans nest
(the span that was open when a call started is its parent), and a
layer's *self* time is its span's duration minus the part of that
interval its child spans cover.  While a span is open it owns a Spark
job group, so ``statusTracker`` can say how many jobs each layer
started; the caller's group is restored when the span closes.

Layers are wrapped from outside: :meth:`Tracer.wrap` swaps a module
attribute for a timing wrapper and :meth:`Tracer.unwrap_all` puts the
originals back.  Spans are kept in memory and summarised after the run.
"""

from __future__ import annotations

import functools
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    start: float
    end: float = math.nan
    parent: int | None = None
    jobs: int = 0
    tasks: int = 0
    #: layer-specific facts recorded by the caller (plan shape, memo fills)
    info: dict = field(default_factory=dict)


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of ``children``
    covers (children may overlap each other or stick out of it)."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if min(b, hi) > max(a, lo))
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered((s.start, s.end), kids.get(i, []))
        for i, s in enumerate(spans)
    ]


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile
    that leaves at least ``beyond`` samples above it.  With ``beyond`` or
    fewer samples no such percentile exists; the maximum is returned as
    percentile 100 with 0 samples beyond, so the caller can flag it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return xs[-1], 100.0, 0
    k = n - beyond - 1  # xs[k] has exactly `beyond` samples after it
    return xs[k], 100.0 * (k + 1) / n, beyond


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


class Tracer:
    """Records spans; ``spark`` may be None (no job attribution)."""

    def __init__(self, spark=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._tag = f"perfbench-{os.getpid()}-{id(self)}"
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str, count_tasks: bool = False):
        t0 = time.perf_counter()
        idx = len(self.spans)
        group = f"{self._tag}-{idx}"
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(_GROUP_PROP)
            self._sc.setJobGroup(group, layer)
        self.spans.append(Span(layer, 0.0, parent=self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        t1 = time.perf_counter()
        self.spans[idx].start = t1
        try:
            yield self.spans[idx]
        finally:
            t2 = time.perf_counter()
            self.spans[idx].end = t2
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(_GROUP_PROP, prev)
                self._count_jobs(self.spans[idx], group, count_tasks)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def _count_jobs(self, span: Span, group: str, count_tasks: bool) -> None:
        st = self._sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        span.jobs = len(ids)
        if count_tasks:
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    span.tasks += si.numTasks if si else 0

    def wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._wrapped:
            module, attr, orig = self._wrapped.pop()
            setattr(module, attr, orig)

    def by_layer(self) -> dict[str, dict[str, float]]:
        """layer -> {"self_s", "calls", "jobs", "tasks"} summed over spans."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s, st in zip(self.spans, selfs):
            d = out.setdefault(s.layer, {"self_s": 0.0, "calls": 0, "jobs": 0, "tasks": 0})
            d["self_s"] += st
            d["calls"] += 1
            d["jobs"] += s.jobs
            d["tasks"] += s.tasks
        return out
