"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(percentile, value, n)``.  For ``n`` sorted samples the
    percentile is ``p = floor(100 * (n - min_beyond) / n)`` and its value is
    the sample at rank ``ceil(p / 100 * n)`` (nearest-rank), so at least
    ``min_beyond`` samples lie strictly beyond that rank.  With
    ``2 * min_beyond + 1`` samples or fewer that sample is not above the
    median, so the samples are too few for it to be a tail; then the
    90th percentile, interpolated between the two nearest samples, is
    reported instead.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail() of no samples")
    if n == 1:
        return 90.0, float(xs[0]), n
    if n <= 2 * min_beyond + 1:
        return 90.0, float(statistics.quantiles(xs, n=10, method="inclusive")[-1]), n
    p = 100 * (n - min_beyond) // n
    rank = max(1, -(-p * n // 100))
    return float(p), float(xs[rank - 1]), n
