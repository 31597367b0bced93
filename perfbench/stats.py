"""Percentile, rate and spread arithmetic shared by the workloads."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks (the "inclusive" definition: p0 is the minimum, p100 the
    maximum). Raises on an empty sample rather than inventing a value."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def rate(count: float, seconds: float) -> float:
    """Events per second; a zero or negative window is an error, not inf."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive window: {seconds}")
    return count / seconds


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the steadiness figure the benchmark is judged by."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
