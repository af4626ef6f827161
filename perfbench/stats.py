"""Order statistics used by every workload's report."""

from __future__ import annotations

import math
import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values) -> dict:
    """The highest whole percentile, from the median up, that has at
    least ``TAIL_MIN_BEYOND`` samples above its rank, with its value and
    the sample count. A sample too small to support any percentile from
    the median up reports its maximum as percentile 100, so the reader
    sees the tail is unsupported."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    best = None
    for pct in range(99, 49, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            best = pct
            break
    if best is None:
        return {"percentile": 100, "value": xs[-1], "n": n}
    return {"percentile": best, "value": percentile(xs, best), "n": n}


def median(values) -> float:
    return statistics.median(values)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
