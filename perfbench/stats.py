"""The tail percentile of the benchmark's timings."""

from __future__ import annotations

import math

# samples a tail percentile must leave beyond it
MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest nearest-rank percentile with at least ``MIN_BEYOND``
    samples above it, as ``(percentile, value)``.

    None when the samples cannot support a tail, i.e. when that percentile
    would fall below the median.
    """
    n = len(values)
    if n <= MIN_BEYOND:
        return None
    # nearest rank r = ceil(p * n / 100) leaves n - r samples beyond it;
    # take the largest integer p with r <= n - MIN_BEYOND
    p = (100 * (n - MIN_BEYOND)) // n
    if p < 50:
        return None
    rank = math.ceil(p * n / 100)
    return p, float(sorted(values)[rank - 1])
