"""Summary statistics shared by every workload."""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99, 90, 75, 50)
#: A percentile is reported only if at least this many samples lie beyond it.
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], p: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    if not sorted_values:
        raise ValueError("no samples")
    rank = max(1, math.ceil(len(sorted_values) * p / 100))
    return sorted_values[rank - 1]


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest of p99/p90/p75 with at least ``MIN_BEYOND`` samples
    above its rank, else the median (p50, the same value ``median``
    reports). Returns ``(value, percentile, sample_count)``."""
    s = sorted(values)
    n = len(s)
    for p in TAIL_PERCENTILES[:-1]:
        if n - math.ceil(n * p / 100) >= MIN_BEYOND:
            return nearest_rank(s, p), p, n
    return statistics.median(s), 50, n


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("no samples")
    return statistics.median(values)


def mean_of_medians(groups: dict[str, list[float]]) -> float:
    """Mean over the non-empty groups of each group's median."""
    meds = [statistics.median(v) for v in groups.values() if v]
    if not meds:
        raise ValueError("no samples")
    return sum(meds) / len(meds)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median (the steadiness
    measure used when proving the benchmark)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def slope(ys: list[float]) -> float:
    """Least-squares growth of ``ys`` per index step (0 for < 2 points)."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den
