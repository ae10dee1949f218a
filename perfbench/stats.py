"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    return xs[max(math.ceil(p / 100.0 * len(xs)), 1) - 1]


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """``(percentile, value)`` of the highest percentile in
    ``TAIL_PERCENTILES`` with at least ``beyond`` samples above its
    rank, or None when the sample is too small for any of them."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if n - max(math.ceil(p / 100.0 * n), 1) >= beyond:
            best = (p, percentile(values, p))
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
