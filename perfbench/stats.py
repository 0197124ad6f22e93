"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics


def median(xs):
    """Median of ``xs``, or None when empty."""
    return statistics.median(xs) if xs else None


def percentile(xs, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (NumPy's default method)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(xs, q: int, min_beyond: int = 10):
    """The ``q``-th percentile, or None unless at least ``min_beyond``
    samples lie beyond it: a p99 needs 1000 samples, a p90 needs 100.
    ``q`` is a whole percent, so the rule is exact integer arithmetic."""
    if len(xs) * (100 - q) < min_beyond * 100:
        return None
    return percentile(xs, q)


def gmean(xs):
    """Geometric mean of positive ``xs``, or None when empty."""
    if not xs:
        return None
    return math.exp(sum(math.log(x) for x in xs) / len(xs))

