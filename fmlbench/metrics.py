"""Metric math shared by the benchmark and its traced run.

Pure functions over plain numbers, so they are unit-tested without
Spark (``test_metrics.py``).
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence


def geomean_of_type_medians(latencies: Mapping[str, Sequence[float]]) -> float:
    """Median latency of each operation type, then the geometric mean
    across types.  A one-type workload gives its plain median; types
    are never pooled into one median."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    if not meds:
        raise ValueError("no latencies")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
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


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """The parts of ``intervals`` inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(wall: tuple[float, float], jobs: Iterable[tuple[float, float]]) -> float:
    """Operation wall time minus the union of the job intervals that
    fall inside it: the time no Spark job was running."""
    lo, hi = wall
    return (hi - lo) - union_length(clip(jobs, lo, hi))


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children may overlap each other (thread pools): the covered part
    is their union, so overlapping children are not subtracted twice."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def mean_concurrency(intervals: Sequence[tuple[float, float]]) -> float:
    """Summed interval length over the length of their union: the
    average number of intervals running while any one runs."""
    covered = union_length(intervals)
    if covered <= 0:
        return 0.0
    return sum(e - s for s, e in intervals) / covered
