"""Arithmetic behind the end-to-end metrics, kept free of Spark so it can be
tested on its own."""

from __future__ import annotations

import statistics

#: The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` at the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it, by nearest rank.

    With ``n`` sorted samples the value at rank ``n - TAIL_BEYOND`` has
    exactly ``TAIL_BEYOND`` samples above it. Below 22 samples that rank
    falls to or under the median; a tail is never reported below the
    median, so there the upper median rank ``n // 2 + 1`` is used and the
    returned percentile says so. Raises ``ValueError`` on an empty sample.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of an empty sample")
    rank = max(n - TAIL_BEYOND, n // 2 + 1)
    return sorted(samples)[rank - 1], 100.0 * rank / n


def failed_frac(failed: int, attempted: int) -> float:
    """(Exceptions + oracle mismatches) / ops attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def throughput_ops_min(correct_ops: int, timed_s: float) -> float:
    """Correct ops completed per minute of timed wall clock."""
    if timed_s <= 0:
        raise ValueError("timed region has no duration")
    return 60.0 * correct_ops / timed_s


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, the figure a
    benchmark's bound is compared against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
