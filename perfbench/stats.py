"""Summary statistics the benchmark reports."""

from __future__ import annotations

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """1-based rank of the highest order statistic with at least
    `beyond` samples above it, or None when n <= beyond."""
    return n - beyond if n > beyond else None


def tail(samples: list[float], beyond: int = TAIL_BEYOND):
    """(value, percentile, n) at the highest percentile that still has
    `beyond` samples beyond it: for n = 20, 100, 1000 that is p50, p90,
    p99. None when there are too few samples for such a percentile."""
    xs = sorted(samples)
    n = len(xs)
    k = tail_rank(n, beyond)
    if k is None:
        return None
    return xs[k - 1], 100.0 * k / n, n
