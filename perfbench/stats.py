"""Summary statistics shared by the runner and its self-tests."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only where at least this many samples
# lie beyond it, so it is never a single outlier.
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, n): the highest whole percentile p such that at
    least ``TAIL_BEYOND`` of the ``n`` samples lie above the p-th percentile
    rank, and the sample at that rank. With too few samples for any
    tail, p is 50 and the value is the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    best = 50
    for p in range(99, 50, -1):
        rank = math.ceil(p / 100 * n)  # 1-based nearest-rank
        if n - rank >= TAIL_BEYOND:
            best = p
            break
    if best == 50:
        return 50.0, median(xs), n
    return float(best), float(xs[math.ceil(best / 100 * n) - 1]), n


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted
