"""The tail statistic reported beside the median."""

from __future__ import annotations

TAIL_BEYOND = 10  # samples the reported tail must have beyond it


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it: ``(value, percentile, n)``. With n sorted samples the value at
    0-based rank ``n - TAIL_BEYOND - 1`` has exactly that many samples
    after it. With too few samples for any such rank the maximum is
    returned at percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - TAIL_BEYOND - 1
    if k < 0:
        return xs[-1], 100.0, n
    return xs[k], 100.0 * (k + 1) / n, n
