"""In-memory spans and the order statistics the benchmark reports.

A span records one call the benchmark makes into a layer of the program:
its name, start, end and parent. While a span is open, every Spark job
the call launches carries a job group named after the span, so the
status-store reader (``spark_status.py``) can scope executor, shuffle and
plan-node counters to it afterwards. Nothing here reads Spark state; the
spans are kept in memory and summarized when a pass ends.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Percentiles a tail is reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}-{self.name}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags each one's Spark jobs with its job group.

    With ``detail`` off only root spans (one per pass) are recorded, which is
    what the untraced runs need to scope a pass's executor counters; with it
    on, every nested ``span`` is recorded too.
    """

    def __init__(self, sc, detail: bool):
        self._sc = sc
        self.detail = detail
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if self._stack and not self.detail:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(sp.group, sp.group, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.group, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it, in start order."""
        ids = {root.id}
        out = [root]
        for sp in self.spans[root.id + 1:]:
            if sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that children cover.

    Children may overlap each other; covered time is their union, clipped
    to the span.
    """
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def tail_percentile(n: int) -> float | None:
    """Highest percentile on the ladder with at least ten samples beyond it.

    ``None`` when fewer than 20 samples leave not even the median with ten
    samples above it.
    """
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:  # 100 - 99.9 is not exact
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Median, quartiles, sample count and the tail the count supports;
    only the count when there are no samples (every pass raised)."""
    if not values:
        return {"n": 0}
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "p25": percentile(values, 25),
        "p75": percentile(values, 75),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }
