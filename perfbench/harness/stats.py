"""Latency summaries: the median and the tail percentile rule."""

from __future__ import annotations

import math

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> int:
    """The highest whole percentile with at least TAIL_BEYOND of ``n``
    samples above it, never below the median: with fewer than
    2 × TAIL_BEYOND samples no percentile above the median qualifies,
    so the tail is reported as p50 and says so."""
    if n < 2 * TAIL_BEYOND:
        return 50
    return max(50, math.floor(100.0 * (n - TAIL_BEYOND) / n))


def summarize(values: list[float]) -> dict:
    """``{"n", "p50", "tail", "tail_pct"}`` of a latency sample."""
    p = tail_pct(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "tail": percentile(values, p),
        "tail_pct": p,
    }


def median(values: list[float]) -> float:
    return percentile(values, 50)
