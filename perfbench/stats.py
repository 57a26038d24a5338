"""Summary statistics the benchmark reports: medians, the tail rule and the
failure share. Pure Python, no engine imports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10   # a tail percentile needs this many samples above it


def median(values) -> float:
    return float(statistics.median(values))


def tail_rank(n: int) -> int | None:
    """1-based rank (ascending) of the highest sample that still has
    ``TAIL_BEYOND`` samples beyond it, or None when ``n`` is too small."""
    r = n - TAIL_BEYOND
    return r if r >= 1 else None


def tail(samples) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the tail statistic.

    With too few samples for the rule, no tail percentile is defined and
    the median is reported instead, labelled as percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    r = tail_rank(n)
    if r is None:
        return median(xs), 50.0, n // 2
    return xs[r - 1], 100.0 * r / n, n - r


def failed_frac(attempted: int, failed: int) -> float:
    """Share of operations that raised or failed their output check."""
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
