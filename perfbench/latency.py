"""Latency summaries: a median plus the highest percentile the sample
supports: the highest whole percentile, p50 or above, with at least ten
samples beyond it. Fewer than twenty samples support no tail."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile ``p`` whose nearest-rank position
    ``ceil(p * n / 100)`` leaves ``min_beyond`` samples above it."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= min_beyond:
            return p
    return None


def nearest_rank(sorted_samples: list[float], p: float) -> float:
    """The ``p``-th percentile by nearest rank of an ascending list."""
    rank = max(math.ceil(p * len(sorted_samples) / 100), 1)
    return sorted_samples[rank - 1]


def summarise(samples: list[float]) -> dict:
    """{"n", "p50", "tail_pct", "tail"} of ``samples``; ``tail_pct`` and
    ``tail`` are None when the sample supports no tail."""
    xs = sorted(samples)
    p = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": statistics.median(xs) if xs else None,
        "tail_pct": p,
        "tail": nearest_rank(xs, p) if p is not None else None,
    }
