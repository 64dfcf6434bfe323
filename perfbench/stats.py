"""Summary statistics used by the report."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n); (nan, 0, n) when fewer than eleven
    samples exist, because then no percentile has ten beyond it."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return math.nan, 0, n
    # exactly ten samples lie above xs[n - 11]
    return xs[n - 11], int(100 * (n - 10) / n), n


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def drift(xs) -> tuple[float, float]:
    """Medians of the first and second half of a sequence."""
    xs = list(xs)
    h = len(xs) // 2
    if h == 0:
        return median(xs), median(xs)
    return median(xs[:h]), median(xs[h:])
