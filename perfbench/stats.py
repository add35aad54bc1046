"""Summary statistics used by every workload."""

from __future__ import annotations

import statistics

__all__ = ["median", "hi_percentile", "spread"]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def hi_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``; None with ``beyond`` or fewer
    samples.

    With ``n`` sorted samples the value at 0-based rank ``n - beyond - 1``
    has exactly ``beyond`` samples after it; its percentile is the share of
    samples at or below it.
    """
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, sorted(values)[rank]


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, the way the
    acceptance check computes it (``statistics.quantiles(n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
