"""Summary statistics used by the benchmark and its spread/A-B tools."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], p: float) -> tuple[float, int, int]:
    """Nearest-rank percentile of ``samples`` for ``p`` in (0, 100].

    Returns ``(value, n, beyond)``: the value, the sample count and how many
    samples lie strictly above the percentile's rank. A failed operation is
    passed as ``math.inf`` so it counts as missing every latency limit.

    Nearest rank (the ``ceil(p/100 * n)``-th smallest sample) never
    interpolates, so when a run repeats a fixed mix of operations R times
    the percentile always falls in the same rank bucket of the mix,
    whatever R is.
    """
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    s = sorted(samples)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1], len(s), len(s) - rank


def kind_medians(samples: list[tuple[str, float]]) -> dict[str, tuple[float, int]]:
    """Median latency and sample count of each operation kind, from
    ``(kind, latency)`` samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, latency in samples:
        by_kind.setdefault(kind, []).append(latency)
    return {k: (statistics.median(v), len(v)) for k, v in by_kind.items()}


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values (``math.inf`` if one is infinite)."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intersect each interval with ``[lo, hi]``, dropping empty ones."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out
