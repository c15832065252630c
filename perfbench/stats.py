"""Summary statistics for operation latencies."""

from __future__ import annotations

import statistics


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single value is its own quartiles."""
    if not values:
        raise ValueError("no values")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(values: list[float], pct: int, min_beyond: int = 10) -> float | None:
    """The ``pct``-th percentile, or None unless at least ``min_beyond``
    samples lie strictly above it — a tail estimate resting on fewer
    samples is noise, not a measurement."""
    if len(values) < 2:
        return None
    cut = statistics.quantiles(values, n=100)[pct - 1]
    beyond = sum(1 for v in values if v > cut)
    return cut if beyond >= min_beyond else None
