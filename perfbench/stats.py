"""Small statistics helpers: medians with sample counts, interval unions."""

from __future__ import annotations

import math
from typing import Iterable, Sequence

_TAIL_PERCENTILES = (99.9, 99.0, 90.0)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def summary(values: Sequence[float]) -> dict:
    """Median, sample count, and the highest of p90/p99/p99.9 that has at
    least ten samples beyond it (absent when there are too few samples)."""
    out = {"n": len(values), "median": median(values)}
    for q in _TAIL_PERCENTILES:
        if len(values) * (100.0 - q) >= 1000.0 - 1e-6:
            out[f"p{q:g}"] = percentile(values, q)
            break
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def driver_seconds(start: float, end: float, jobs: Iterable[tuple[float, float]]) -> float:
    """Span wall time not covered by any Spark job: ``end - start`` minus the
    union of the job intervals clipped to the span."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in jobs]
    return (end - start) - union_length(clipped)
