"""Order statistics with the benchmark's reporting rule: a timing is a
median, and a higher percentile is reported only when at least
``MIN_BEYOND`` samples lie beyond it."""

from __future__ import annotations

import math
import statistics
from typing import Optional, Sequence

MIN_BEYOND = 10


def median(xs: Sequence[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: Sequence[float], p: float) -> Optional[float]:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    MIN_BEYOND samples rank above it."""
    n = len(xs)
    rank = math.ceil(n * p / 100.0)
    if n == 0 or rank < 1 or n - rank < MIN_BEYOND:
        return None
    return float(sorted(xs)[rank - 1])


def quartile_spread(xs: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles ``statistics.quantiles``
    gives: the spread the acceptance rule bounds."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
