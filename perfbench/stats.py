"""Percentile and sample-count helpers shared by every benchmark metric.

Percentiles are nearest-rank: the p-th percentile of n samples is the
ceil(p/100 * n)-th smallest value, so it is always one of the samples and
needs no interpolation. A percentile is only reported where enough samples
lie beyond it (see `supported`).
"""
import math
from fractions import Fraction

MIN_BEYOND = 10


def _rank(n, p):
    """1-based nearest rank of percentile p among n samples, computed in
    exact arithmetic (99.9 / 100 * 10000 is 9990.000000000002 in floats)."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sequence."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]


def median(values):
    return percentile(values, 50)


def beyond(n, p):
    """How many of n samples lie strictly above the p-th percentile's rank."""
    return n - _rank(n, p)


def supported(n, p, min_beyond=MIN_BEYOND):
    """True when n samples leave at least `min_beyond` beyond percentile p."""
    return n > 0 and beyond(n, p) >= min_beyond


def highest_supported(n, candidates=(99.9, 99, 95, 90, 75, 50),
                      min_beyond=MIN_BEYOND):
    """The highest candidate percentile that n samples support, else None."""
    for p in candidates:
        if supported(n, p, min_beyond):
            return p
    return None
