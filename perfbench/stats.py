"""Summary statistics over benchmark samples."""

from __future__ import annotations

import math
import statistics
from typing import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The q-th percentile (0 <= q <= 100), interpolating linearly
    between the two closest ranks (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def geomean(values: Sequence[float]) -> float:
    """Geometric mean of positive samples."""
    if not values:
        raise ValueError("geomean of no samples")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(math.fsum(math.log(v) for v in values) / len(values))


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles that
    ``statistics.quantiles(values, n=4)`` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


#: a percentile is reported only when at least this many samples lie
#: beyond it, so p90 needs 100 samples
TAIL_SAMPLES = 10


def tail_percentile_ok(n: int, q: float) -> bool:
    return n * (100 - q) / 100.0 >= TAIL_SAMPLES
