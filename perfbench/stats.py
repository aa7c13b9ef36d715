"""Order statistics shared by the runner and the compare tool."""

from __future__ import annotations

import statistics

#: samples that must lie strictly beyond a reported tail percentile
TAIL_BEYOND = 10


def tail_rank(n: int) -> int | None:
    """0-based rank, in ascending order, of the highest sample with at
    least ``TAIL_BEYOND`` samples beyond it, when that sample sits above
    the median; ``None`` when ``n`` is too small for such a percentile."""
    rank = n - 1 - TAIL_BEYOND
    return rank if n >= 2 * TAIL_BEYOND + 2 else None


def tail_percentile(n: int) -> float:
    """Percentile (0-100) the tail metric reports at sample count ``n``:
    the rule's percentile, or 100 (the maximum) when ``n`` is too small
    for any percentile above the median to keep ten samples beyond it."""
    rank = tail_rank(n)
    return 100.0 if rank is None else 100.0 * rank / (n - 1)


def tail(values: list[float]) -> float:
    """The tail statistic of :func:`tail_percentile`."""
    xs = sorted(values)
    rank = tail_rank(len(xs))
    return xs[-1] if rank is None else xs[rank]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
