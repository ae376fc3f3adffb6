"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A tail percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first, so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail(values: list[float]) -> dict:
    """The highest ladder percentile that still has ``MIN_BEYOND`` samples
    strictly above its rank. With fewer than ``2 * MIN_BEYOND`` samples no
    percentile qualifies; the tail is then the slowest sample, reported as
    percentile 100 with the number of samples beyond it (0)."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = _rank(p, n)
        if n - rank >= MIN_BEYOND:
            return {"value": percentile(values, p), "percentile": p,
                    "beyond": n - rank, "n": n}
    return {"value": max(values), "percentile": 100.0, "beyond": 0, "n": n}


def median(values: list[float]) -> float:
    return statistics.median(values)

