"""Spans, self time and the summary statistics the benchmark reports.

Spans are kept in memory and only summarised when a run ends. A span has a
name, a start and an end (``time.time()`` seconds, so they line up with the
Spark status store's epoch-millisecond stage times), the id of the span that
was open on the same thread when it began, and a request id shared by the
spans of one request.
"""

from __future__ import annotations

import itertools
import math
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    request_id: str | None
    group: str | None = None  # Spark job group set for the span, if any

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch.

    Once a Spark session is attached, every span also runs its body under a
    Spark job group of its own, so the stages it started can be summed
    afterwards (see sparkstats). Job groups are thread-local in PySpark,
    which is why they are set here, on the thread that makes the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def attach_spark(self, spark) -> None:
        if self.enabled:
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, request_id: str | None = None, spark_group: bool = True):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request_id is None and parent is not None:
            request_id = parent.request_id
        sid = next(self._ids)
        group = f"{name}#{sid}" if (spark_group and self._sc is not None) else None
        prev_group = None
        if group is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        span = Span(sid, name, time.time(), 0.0, parent.span_id if parent else None,
                    request_id, group)
        stack.append(span)
        try:
            yield
        finally:
            span.end = time.time()
            stack.pop()
            if group is not None:
                if prev_group is not None:
                    self._sc.setJobGroup(prev_group, prev_group)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(span)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ms(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. Children are clipped to the parent, so the
    result is never negative and the children never count for more than the
    parent's own duration."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    out = {}
    for s in spans:
        covered = union_length(children.get(s.span_id, [])) * 1000.0
        out[s.span_id] = max(0.0, s.ms - covered)
    return out


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method of
    ``statistics.quantiles``) of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of the ladder that leaves at least ``min_beyond``
    of ``n`` samples above it, or None when even the median does not."""
    best = None
    for p in PERCENTILE_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def check_metric_names(names) -> list[str]:
    """Names that break the benchmark's metric-name rule."""
    return [n for n in names if not METRIC_NAME.match(n)]
