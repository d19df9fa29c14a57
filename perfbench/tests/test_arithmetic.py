"""The benchmark's own arithmetic: tail percentile, failure share, self
time from nested spans. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.spans import Tracer
from perfbench.stats import (
    failed_frac,
    nearest_rank,
    self_time,
    summarize,
    tail_percentile,
    union_length,
)


@pytest.mark.parametrize(
    "n,pct",
    [(1, 50), (10, 50), (19, 50), (20, 50), (21, 52), (40, 75), (100, 90), (101, 90),
     (1000, 99), (1010, 99)],
)
def test_tail_percentile_rule(n, pct):
    assert tail_percentile(n) == pct


@pytest.mark.parametrize("n", [20, 21, 33, 40, 99, 100, 101, 250, 1000, 1010])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    vals = [float(i) for i in range(n)]
    pct = tail_percentile(n)
    above = sum(1 for v in vals if v > nearest_rank(vals, pct))
    assert above >= 10
    # and it is the highest such percentile
    if 50 < pct < 99:
        assert sum(1 for v in vals if v > nearest_rank(vals, pct + 1)) < 10


def test_summarize_small_sample_tail_is_median():
    s = summarize([5.0, 1.0, 3.0])
    assert s == {"n": 3, "p50": 3.0, "tail": 3.0, "tail_pct": "p50"}
    assert summarize([7.0, 2.0])["p50"] == 2.0


def test_summarize_large_sample():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.0
    assert s["tail_pct"] == "p90" and s["tail"] == 90.0


def test_summarize_empty():
    assert summarize([])["p50"] is None


def test_failed_frac_counts_raised_and_wrong():
    assert failed_frac(10, 0, 0) == 0.0
    assert failed_frac(10, 1, 2) == pytest.approx(0.3)
    assert failed_frac(4, 4, 0) == 1.0


@pytest.mark.parametrize("args", [(0, 0, 0), (3, 2, 2)])
def test_failed_frac_rejects_impossible_counts(args):
    with pytest.raises(ValueError):
        failed_frac(*args)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
    assert union_length([(3, 3), (4, 2)]) == 0.0


def test_self_time_nested_and_overlapping_children():
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(1, 3), (5, 6)]) == 7
    # concurrent children count once
    assert self_time((0, 10), [(1, 5), (2, 6)]) == 5
    # children are clipped to the parent
    assert self_time((0, 10), [(-5, 2), (9, 20)]) == 7


def test_tracer_self_times_by_op():
    tr = Tracer()
    op = tr.add("op", 0.0, 10.0, op=0, parent=None)
    tr.add("compose", 0.0, 4.0, op=0, parent=op)
    action = tr.add("action", 4.0, 10.0, op=0, parent=op)
    tr.add("job", 5.0, 8.0, op=0, parent=action)
    tr.add("job", 6.0, 9.0, op=0, parent=action)
    op1 = tr.add("op", 20.0, 21.0, op=1, parent=None)
    tr.add("compose", 20.0, 20.5, op=1, parent=op1)
    got = tr.self_times_by_op()
    assert got[(0, "op")] == 0.0
    assert got[(0, "compose")] == 4.0
    assert got[(0, "action")] == 2.0  # 6 s action minus jobs covering 5..9
    assert got[(0, "job")] == 6.0  # two 3 s jobs, each its own span
    assert got[(1, "op")] == 0.5

