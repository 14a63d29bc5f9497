"""Statistics on synthetic latencies: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import random
import statistics

import pytest

from perfbench import stats
from perfbench.trace import Span, self_times, union_ms


def _samples(seed: int, clusters: dict[str, float], per_query: int = 12):
    rng = random.Random(seed)
    return [
        (q, centre * rng.uniform(0.9, 1.3))
        for q, centre in clusters.items()
        for _ in range(per_query)
    ]


def test_order_does_not_change_geomean_or_tail():
    samples = _samples(1, {"a": 0.5, "b": 2.0, "c": 7.0})
    shuffled = samples[:]
    random.Random(2).shuffle(shuffled)
    assert stats.query_geomean(shuffled) == pytest.approx(stats.query_geomean(samples))
    assert stats.query_tail(shuffled) == pytest.approx(stats.query_tail(samples))


def test_swapping_cluster_ranks_changes_nothing():
    fast_slow = _samples(3, {"a": 0.4, "b": 4.0})
    # the same latencies, with the two queries' clusters exchanged
    swapped = [("b" if q == "a" else "a", lat) for q, lat in fast_slow]
    assert stats.query_geomean(swapped) == pytest.approx(stats.query_geomean(fast_slow))
    assert stats.query_tail(swapped) == pytest.approx(stats.query_tail(fast_slow))


def test_pooled_tail_is_not_the_slow_query():
    """A pooled percentile of raw latencies would land on the slow query;
    the normalised tail stays near the geomean."""
    samples = _samples(4, {"a": 0.1, "b": 10.0}, per_query=30)
    tail, pct, n = stats.query_tail(samples)
    assert n == 60 and 50 < pct < 100
    assert stats.query_geomean(samples) <= tail < 1.5 * stats.query_geomean(samples)


@pytest.mark.parametrize("n", [1, 2, 5, 10, 11, 19, 20, 21, 40, 100, 250])
def test_tail_is_never_the_maximum_and_always_supported(n):
    rng = random.Random(n)
    xs = [rng.lognormvariate(0, 0.5) for _ in range(n)]
    value, pct, count = stats.supported_tail(xs)
    assert count == n
    if n > 1:
        assert value < max(xs)
    assert pct >= 50
    if sum(x > value for x in xs) < stats.MIN_BEYOND:  # too few samples: the median stands in
        assert pct == 50 and value == statistics.median(xs)


def test_drift_and_steady():
    assert stats.drift([5.0, 5.0, 6.0, 6.0]) == pytest.approx(1.2)
    assert stats.drift([3.0]) == 1.0
    assert not stats.steady([20.0, 9.0], 0.15)  # one warm pass proves nothing
    assert not stats.steady([20.0, 9.0, 7.0], 0.15)
    assert stats.steady([20.0, 9.0, 8.5], 0.15)


def test_self_time_is_never_negative():
    spans = [
        Span(0, "query", "query", 0, 100, None, 0),
        Span(1, "build", "entry", 0, 30, 0, 0),
        Span(2, "job", "job", 20, 60, 0, 0),  # overlaps build
        Span(3, "job", "job", 50, 140, 0, 0),  # runs past its parent
        Span(4, "stage", "stage", 55, 70, 3, 0),
    ]
    selfs = self_times(spans)
    assert all(v >= 0 for v in selfs.values())
    assert selfs[0] == pytest.approx(0.0)  # children cover 0..100
    assert selfs[3] == pytest.approx(90 - 15)
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == (30, 10)
