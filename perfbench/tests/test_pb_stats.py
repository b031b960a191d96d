"""Self-tests for the benchmark's statistics helpers.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import pb_stats  # noqa: E402


def test_nearest_rank():
    vals = [5, 1, 4, 2, 3]
    assert pb_stats.nearest_rank(vals, 50) == 3
    assert pb_stats.nearest_rank(vals, 100) == 5
    assert pb_stats.nearest_rank(vals, 1) == 1
    with pytest.raises(ValueError):
        pb_stats.nearest_rank([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(100, 90), (101, 90), (110, 90), (30, 66), (20, 50), (19, None), (5, None), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert pb_stats.tail_percentile(n) == expected


@pytest.mark.parametrize("n", [20, 37, 100, 250])
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    p = pb_stats.tail_percentile(n)
    vals = list(range(n))
    cut = pb_stats.nearest_rank(vals, p)
    assert sum(v > cut for v in vals) >= 10
    if p < 99:
        cut_next = pb_stats.nearest_rank(vals, p + 1)
        assert sum(v > cut_next for v in vals) < 10


def test_summarize_reports_only_supported_percentiles():
    assert pb_stats.summarize([]) == {"n": 0}
    small = pb_stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    big = pb_stats.summarize([float(i) for i in range(100)])
    assert big["n"] == 100 and big["p50"] == 49.5 and big["p90"] == 89.0


def test_sum_of_medians_is_robust_to_one_slow_repetition():
    times = {"a": [1.0, 1.0, 9.0], "b": [2.0, 3.0, 2.5]}
    assert pb_stats.sum_of_medians(times) == pytest.approx(1.0 + 2.5)


def test_share():
    assert pb_stats.share(1, 4) == 0.25
    assert pb_stats.share(0, 0) == 0.0
