"""Order statistics for timed samples."""

from __future__ import annotations

import math
import statistics

# a tail percentile is only reported when at least this many samples lie
# beyond it; with fewer the run reports the median alone and says so
TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[int | None, float]:
    """Highest nearest-rank percentile with >= TAIL_MIN_BEYOND samples
    above it, as ``(percentile, value)``; ``(None, median)`` when the
    sample is too small for one (fewer than 2 x TAIL_MIN_BEYOND)."""
    n = len(xs)
    rank = n - TAIL_MIN_BEYOND
    if rank < math.ceil(n / 2):
        return None, median(xs)
    pct = 100 * rank // n
    while math.ceil(pct * n / 100) > rank:  # nearest rank of pct must stay <= rank
        pct -= 1
    s = sorted(xs)
    return pct, s[math.ceil(pct * n / 100) - 1]


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0
