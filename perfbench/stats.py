"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math

# Percentiles a tail latency may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = 10,
                    ladder: tuple[float, ...] = TAIL_LADDER) -> float | None:
    """Highest ladder percentile with at least ``min_beyond`` of ``n``
    samples above it, or None when even the lowest rung has fewer."""
    best = None
    for p in ladder:
        if round(n * (100.0 - p), 6) >= 100 * min_beyond:
            best = p
    return best

