"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must have above it


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic that still
    has ``TAIL_BEYOND`` samples above it, never below the median.

    With n samples the k-th smallest (1-based) has n - k above it, so
    the highest such k is n - 10, i.e. percentile 100 * (n - 10) / n.
    Up to 20 samples that is at or below the median: no percentile above
    the median is supported, and the median (percentile 50) is reported.
    """
    n = len(values)
    if n <= 2 * TAIL_BEYOND:
        return 50.0, median(values)
    k = n - TAIL_BEYOND
    return 100.0 * k / n, sorted(values)[k - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
