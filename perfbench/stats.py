"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile of ``values`` by the nearest-rank rule."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile in TAIL_LADDER
    that leaves at least ``min_beyond`` samples above its rank, or None
    when there are too few samples for any of them."""
    n = len(values)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return pct, nearest_rank(values, pct)
    return None


def summary(values: list[float]) -> dict:
    """Median, supported tail and sample count of one timing."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    t = tail(values)
    if t is not None:
        out[f"p{t[0]:g}"] = t[1]
    return out


def iqr_share(values: list[float]) -> float:
    """Distance between first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
