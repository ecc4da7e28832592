"""Order statistics for the benchmark (stdlib only).

A timing is reported as a median plus, where the run supports it, one
fixed tail percentile. A tail is only reported when at least
``MIN_BEYOND`` samples lie above it; a percentile read from fewer
samples is just the largest one or two values and says nothing about
the tail.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """The ``p``-th percentile by linear interpolation between the
    closest ranks (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the rank the
    ``p``-th percentile is interpolated at."""
    if n <= 0:
        return 0
    return n - 1 - math.floor((n - 1) * p / 100.0)


def supports_tail(n: int, p: float) -> bool:
    return samples_beyond(n, p) >= MIN_BEYOND


def quartile_spread(values) -> float:
    """Interquartile distance as a share of the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
