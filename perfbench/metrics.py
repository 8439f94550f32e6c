"""Summary statistics shared by every workload (pure Python, no Spark).

Timings are reported as a median plus the highest percentile that still
has at least ``TAIL_BEYOND`` samples beyond it, with the sample count.
"""

from __future__ import annotations

import statistics

#: samples that must lie strictly beyond a reported tail percentile
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """``(percentile, value)`` for the highest percentile of ``values``
    with at least ``beyond`` samples above it: the value at sorted index
    ``n - beyond - 1``, so exactly ``beyond`` samples follow it.

    With fewer than ``2 * beyond`` samples that percentile would sit at
    or below the median, so the median is returned instead, labelled 50.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * beyond:
        return 50.0, median(values)
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, float(ordered[n - beyond - 1])
