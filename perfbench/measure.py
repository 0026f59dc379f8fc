"""Pure arithmetic of the benchmark: percentiles, interval unions, span
self time and the per-op time decomposition.  No Spark import, so the
unit tests run without a JVM."""

from __future__ import annotations

import math
import re
import statistics
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples
# lie strictly beyond it.
MIN_BEYOND = 10


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float | None:
    """Nearest-rank q-th percentile (0 < q < 100), or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(math.ceil(q / 100.0 * len(xs)), 1)
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def union(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint sorted ones; empty and
    inverted intervals are dropped."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def covered(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def minus(a, b) -> list[tuple[float, float]]:
    """Parts of the union of `a` not covered by the union of `b`."""
    out = []
    cuts = union(b)
    for s, e in union(a):
        cur = s
        for cs, ce in cuts:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


@dataclass
class Span:
    """One timed interval of an operation; spans of one op share op_id."""

    name: str
    start: float
    end: float
    op_id: int
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover."""
    kids = [(s.start, s.end) for s in spans
            if s.op_id == span.op_id and s.parent == span.name]
    return span.duration - covered(clip(kids, span.start, span.end))


def decompose(op: tuple[float, float], build: tuple[float, float],
              catalyst, jobs) -> dict[str, float]:
    """Split an op's wall into disjoint parts, in seconds.

    jobs      -- union of the Spark job intervals inside the op;
    catalyst  -- Catalyst phase time not already under a job;
    build     -- build span time under neither of the above (its self time);
    gap       -- the rest: driver time in the action outside jobs and
                 Catalyst (result conversion, scheduling, Python).
    The four add up to the op wall by construction."""
    lo, hi = op
    job_iv = union(clip(jobs, lo, hi))
    cat_iv = minus(clip(catalyst, lo, hi), job_iv)
    busy = job_iv + cat_iv
    build_self = covered(minus(clip([build], lo, hi), busy))
    wall = hi - lo
    jobs_s = covered(job_iv)
    cat_s = covered(cat_iv)
    return {
        "wall": wall,
        "build": build_self,
        "catalyst": cat_s,
        "jobs": jobs_s,
        "gap": wall - build_self - cat_s - jobs_s,
    }


def plan_node_count(plan: str, names) -> int:
    """Count the nodes of an executed-plan string whose operator name is in
    `names`; of an adaptive plan only the final plan is read."""
    count = 0
    for line in plan.split("== Initial Plan ==")[0].splitlines():
        m = re.match(r"[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", line)
        if m and m.group(1) in names:
            count += 1
    return count
