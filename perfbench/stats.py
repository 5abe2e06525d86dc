"""Latency summaries: the median and the highest percentile the sample supports."""

from __future__ import annotations

import math

#: A tail percentile is reported only when this many samples lie beyond it.
TAIL_SUPPORT = 10
#: The highest tail percentile reported.
TAIL_MAX = 0.90


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_level(n: int) -> float | None:
    """The highest percentile, in hundredths and at most p90, with at
    least :data:`TAIL_SUPPORT` of ``n`` samples beyond its interpolation
    rank ``q * (n - 1)``; None when no percentile above the median has."""
    if n <= TAIL_SUPPORT:
        return None
    # Largest whole k with k/100 * (n - 1) < n - TAIL_SUPPORT.
    k = min(round(100 * TAIL_MAX), (100 * (n - TAIL_SUPPORT) - 1) // (n - 1))
    return k / 100 if k > 50 else None


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "tail", "tail_level"}``; without enough samples for a
    tail, ``tail`` is the slowest sample and ``tail_level`` is 1.0."""
    level = tail_level(len(values))
    return {
        "n": len(values),
        "p50": quantile(values, 0.5),
        "tail": quantile(values, level) if level is not None else max(values),
        "tail_level": level if level is not None else 1.0,
    }
