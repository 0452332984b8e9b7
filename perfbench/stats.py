"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # a tail percentile is reported only with this many samples above it


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100).

    Raises ``ValueError`` unless at least ``min_beyond`` samples lie above
    the rank it picks, so a reported tail always rests on that many samples:
    the p90 of 100 samples is the 90th smallest, with 10 beyond it; 99
    samples are too few."""
    xs = sorted(values)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} is outside (0, 100)")
    rank = max(1, math.ceil(q / 100 * len(xs)))  # 1-based
    if len(xs) - rank < min_beyond:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples leaves {len(xs) - rank} beyond it; "
            f"need {min_beyond}"
        )
    return float(xs[rank - 1])


def min_samples(q: float, min_beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count for which ``percentile(values, q)`` is allowed."""
    n = 1
    while n - max(1, math.ceil(q / 100 * n)) < min_beyond:
        n += 1
    return n
