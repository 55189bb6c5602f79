"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``.  With ``n`` sorted samples the
    value is the one with exactly ``TAIL_BEYOND`` samples after it, and its
    percentile is ``100 * (n - TAIL_BEYOND) / n``: 20 samples give the 50th
    percentile, 100 samples the 90th.  With ``TAIL_BEYOND`` samples or fewer no
    percentile has that support, so the maximum is returned with
    percentile 100 and the caller reports ``n`` beside it.
    """
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    k = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return s[k - 1], 100.0 * k / n, n


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """``(q1, median, q3, (q3 - q1) / median)`` as ``statistics.quantiles``
    gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")
