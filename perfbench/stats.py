"""Pure helpers of the benchmark: percentiles, interval unions, spreads
and the regression bound check.  No Spark imports, so they are unit
tested on their own (perfbench/tests)."""

from __future__ import annotations

import math
import statistics

# Percentiles a timing may be reported at, highest last.
PERCENTILES = (50, 80, 90, 95, 99)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(samples: list[float], min_beyond: int = 10) -> int | None:
    """The highest of :data:`PERCENTILES` with at least ``min_beyond``
    samples strictly beyond its nearest rank, or None when even the
    median has fewer."""
    n = len(samples)
    best = None
    for p in PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            best = p
    return best


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``[start, end]``
    intervals; the in-job time behind ``spark.outside_job_s``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi < lo:
            raise ValueError(f"interval ends before it starts: {(lo, hi)}")
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped_union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """:func:`union_length` of the parts of ``intervals`` inside
    ``[lo, hi]`` (a span's self time: its length minus this over its
    children)."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals]
    return union_length([(a, b) for a, b in clipped if b > a])


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with
    quartiles as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    if better == "lower":
        return (second - first) / first
    if better == "higher":
        return (first - second) / first
    raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")


def bound_check(
    metric: dict, first: list[float], second: list[float] | None = None
) -> list[str]:
    """Problems with one end-to-end metric's runs, empty when it holds.

    The spread of each set must stay within a third of the metric's
    bound (``setup_s`` is exempt), and the median of ``second`` may
    not be worse than that of ``first`` by more than the bound."""
    name, bound = metric["name"], metric["bound"]
    problems = []
    for label, values in (("first", first), ("second", second)):
        if values is None or name == "setup_s":
            continue
        s = spread(values)
        if s > bound / 3:
            problems.append(
                f"{name}: {label} spread {s:.4f} exceeds a third of "
                f"the bound {bound}"
            )
    if second is not None:
        w = worse_by(
            statistics.median(first), statistics.median(second),
            metric["better"],
        )
        if w > bound:
            problems.append(
                f"{name}: second median worse by {w:.4f} > bound {bound}"
            )
    return problems
