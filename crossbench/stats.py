"""Small order statistics used by every workload."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def mean_of_medians(groups: dict[str, list[float]]) -> float:
    """The median of each group of samples, averaged over the groups.
    Used where samples fall into groups whose levels differ for a known
    reason: one median over all of them would sit between the groups."""
    if not groups:
        raise ValueError("no groups")
    return statistics.fmean(median(xs) for xs in groups.values())


def tail(values: list[float], min_above: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``min_above``
    samples strictly above it, as ``(percentile, value)``; ``None`` when
    the sample is too small to have such a percentile (fewer than
    ``min_above + 1`` samples).

    With ``n`` sorted samples the value at 0-based rank ``r`` has
    ``n - 1 - r`` samples above it, so the highest admissible rank is
    ``n - 1 - min_above`` and its percentile is ``100 * r / (n - 1)``."""
    n = len(values)
    if n < min_above + 1:
        return None
    r = n - 1 - min_above
    pct = 100.0 * r / (n - 1) if n > 1 else 100.0
    return pct, float(sorted(values)[r])


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return math.inf
    return (q3 - q1) / q2
