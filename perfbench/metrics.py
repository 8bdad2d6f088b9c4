"""Summary statistics of one benchmark run."""

from __future__ import annotations

import math
import statistics

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def tail_latency(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile above the median with at least
    TAIL_MIN_BEYOND samples beyond it, as (percentile, value, samples
    beyond); None when the run has too few samples for any of them.
    Percentiles are nearest-rank: the value at rank ceil(p/100 * n)."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = math.ceil(round(p / 100 * n, 6))  # 99.9% of 10000 is 9990, not 9991
        if rank >= 1 and n - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n - rank
    return None


def halves_ratio(samples: list[float]) -> float:
    """Median of the second half of a run's op times over the first
    half's: above 1 means ops slowed down as the run went on."""
    h = len(samples) // 2
    if h == 0:
        return 1.0
    return statistics.median(samples[-h:]) / statistics.median(samples[:h])
