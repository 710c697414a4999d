"""Small statistics helpers shared by the workloads, the tracer and the
spread tool: the "ten samples beyond" percentile rule, quartile spreads,
geometric means and interval arithmetic for span self time."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only if at least this many samples lie beyond it.
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the ``q``
    quantile's rank (0 < q < 1)."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile of ``values`` (nearest rank), or None when fewer
    than ``MIN_BEYOND`` samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    if q == 0.5:
        return float(statistics.median(values))
    return float(sorted(values)[max(0, math.ceil(q * n) - 1)])


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover. Child
    intervals may overlap each other (concurrent children) and are clipped
    to the parent."""
    clipped = [(max(start, lo), min(end, hi)) for lo, hi in children]
    return (end - start) - union_length(clipped)
