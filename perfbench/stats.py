"""Order-free statistics over one run's executions.

Every figure here depends only on the multiset of (query, latency) samples,
never on the order they were taken in, so two commits that see the same
seed-fixed pass orders are compared on the same footing.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

MIN_BEYOND = 10  # samples a reported percentile must have above it


def query_medians(samples: list[tuple[str, float]]) -> dict[str, float]:
    by_query: dict[str, list[float]] = defaultdict(list)
    for name, lat in samples:
        by_query[name].append(lat)
    return {q: statistics.median(v) for q, v in by_query.items()}


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def query_geomean(samples: list[tuple[str, float]]) -> float:
    """Geometric mean over queries of each query's median latency: every
    query weighs the same, however many times it ran or however slow it is."""
    return geomean(query_medians(samples).values())


def supported_tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` at the highest percentile that keeps at
    least ``MIN_BEYOND`` samples strictly above its rank.

    The rank is ``n - MIN_BEYOND`` (1-based) in sorted order, so the
    maximum is never the answer; with fewer than ``MIN_BEYOND + 1``
    samples the median stands in and the percentile says so (50)."""
    xs = sorted(values)
    n = len(xs)
    rank = n - MIN_BEYOND
    if rank < max(1, (n + 1) // 2):
        return statistics.median(xs), 50.0, n
    return xs[rank - 1], 100.0 * rank / n, n


def query_tail(samples: list[tuple[str, float]]) -> tuple[float, float, int]:
    """``query_geomean`` x the supported tail of latency / own-query median.

    Normalising by each query's own median pools the queries without the
    tail landing on whichever query is slowest; returns
    ``(seconds, percentile, samples)``."""
    med = query_medians(samples)
    ratios = [lat / med[name] for name, lat in samples]
    tail, pct, n = supported_tail(ratios)
    return geomean(med.values()) * tail, pct, n


def drift(pass_walls: list[float]) -> float:
    """Median pass time of the second half of the window over the first;
    well above 1 means the run was still warming up or was disturbed."""
    half = len(pass_walls) // 2
    if half == 0:
        return 1.0
    return statistics.median(pass_walls[-half:]) / statistics.median(pass_walls[:half])


def steady(pass_walls: list[float], tol: float) -> bool:
    """The last two warm passes agree within ``tol`` (the first, cold pass
    never counts)."""
    warm = pass_walls[1:]
    return len(warm) >= 2 and abs(warm[-1] - warm[-2]) <= tol * min(warm[-2:])
