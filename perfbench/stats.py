"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics

#: Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the ``p``-th percentile of ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def nearest_rank(values: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in ``TAIL_LADDER`` that has at
    least ``MIN_BEYOND`` samples ranked above it, or None when even the
    median has fewer."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, nearest_rank(values, p)
    return None


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile of a timing."""
    out = {"median": statistics.median(values), "n": len(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out
