"""Pure statistics helpers for the benchmark: medians, the percentile rule
and metric aggregation. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Mapping, Sequence

# a tail percentile is reported only when at least this many samples lie
# beyond it
MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return statistics.median(vals)


def nearest_rank(values: Sequence[float], p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p % of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest whole percentile (50..99) with at least ``min_beyond`` of
    ``n`` samples beyond it, or None when not even the median qualifies."""
    best = None
    for p in range(50, 100):
        if beyond(n, p) >= min_beyond:
            best = p
    return best


def sum_of_medians(times: Mapping[str, Sequence[float]]) -> float:
    """Sum over keys of the median of each key's samples (a headline pass
    estimated robustly: one slow repetition of one query moves one median,
    not the total)."""
    return sum(median(v) for v in times.values())


def share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def summarize(values: Sequence[float]) -> dict:
    """Sample count, median and the highest tail percentile with enough
    samples beyond it, for the detail record."""
    out: dict = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        p = tail_percentile(len(values))
        if p is not None and p > 50:
            out[f"p{p}"] = nearest_rank(values, p)
    return out
