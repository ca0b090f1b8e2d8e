"""Pure arithmetic the benchmark reports with: percentiles that respect a
sample-count rule, and span self time."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it, so p90 needs 100 samples and p50 needs 20.
MIN_BEYOND = 10


def min_samples(q: float) -> int:
    """Smallest sample count for which percentile ``q`` (0-100) has
    ``MIN_BEYOND`` samples above it."""
    return math.ceil(round(MIN_BEYOND * 100.0 / (100.0 - q), 9))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` of ``values``; raises ``ValueError``
    when fewer than ``min_samples(q)`` values are given."""
    need = min_samples(q)
    if len(values) < need or not values:
        raise ValueError(f"p{q:g} needs {need} samples, got {len(values)}")
    ordered = sorted(values)
    rank = max(1, math.ceil(round(q * len(ordered) / 100.0, 9)))
    return ordered[rank - 1]


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` that its child
    spans cover (overlapping children are counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
