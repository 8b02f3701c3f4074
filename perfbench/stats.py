"""Summary statistics with the benchmark's reporting rule: a median is
always reported, a higher percentile only when at least
``MIN_BEYOND`` samples lie beyond it."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie above its rank (q > 50)."""
    if not samples:
        return None
    if q == 50:
        return median(samples)
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    if len(ordered) - rank < MIN_BEYOND:
        return None
    return ordered[rank - 1]


def tail(samples: list[float], choices: tuple[float, ...] = (99, 95, 90, 75)) -> tuple[float, float] | None:
    """The highest percentile in ``choices`` the sample supports, as
    ``(q, value)``; None when none does."""
    for q in choices:
        v = percentile(samples, q)
        if v is not None:
            return q, v
    return None
