"""Latency percentile helpers for the benchmark.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

#: percentiles the tail rule may report, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(values: Sequence[float], min_beyond: int = 10) -> dict:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples beyond it, with its value and the sample
    count.  With too few samples for even the median the result names no
    percentile (``p`` is None)."""
    n = len(values)
    for p in TAIL_LADDER:
        if beyond(n, p) >= min_beyond:
            return {"p": p, "value": percentile(values, p), "n": n}
    return {"p": None, "value": None, "n": n}
