"""Summary statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# above it, so it rests on more than one or two outliers.
MIN_TAIL = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def supported_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile p with at least MIN_TAIL samples
    above it, as (p, value); None when there are too few samples.
    Percentiles step by ten up to 90, then by one."""
    n = len(xs)
    s = sorted(xs)
    best = None
    for p in [*range(50, 91, 10), *range(91, 100)]:
        k = math.ceil(p / 100 * n) - 1  # nearest-rank index
        if n - 1 - k >= MIN_TAIL:
            best = (p, s[k])
    return best


def quartile_spread(xs: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles`
    gives (its default, exclusive method)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else 0.0
