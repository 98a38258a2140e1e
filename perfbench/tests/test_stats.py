"""The benchmark's arithmetic against hand-computed fixtures."""

import pytest

from perfbench.stats import (
    latencies_from_due,
    percentile,
    self_time_by_name,
    self_times,
    summarize,
    tail_percentile,
)


def test_nearest_rank_percentile():
    v = [7, 1, 10, 4, 2, 9, 3, 6, 8, 5]
    assert percentile(v, 50) == 5
    assert percentile(v, 90) == 9
    assert percentile(v, 99) == 10
    assert percentile(v, 1) == 1
    assert percentile([42], 99) == 42
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(10_000) == 99.9  # 10 beyond the 9990th
    assert tail_percentile(9_999) == 99.0
    assert tail_percentile(1_000) == 99.0  # 10 beyond the 990th
    assert tail_percentile(999) == 95.0  # p99 would leave 9
    assert tail_percentile(100) == 90.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(5) == 50.0  # too few for any: the median


def test_summarize_reports_median_tail_and_count():
    s = summarize([float(x) for x in range(1, 101)])
    assert s == {"p50": 50.0, "tail": 90.0, "tail_pct": 90.0, "n": 100}


def test_latency_runs_from_due_time():
    due = {"a": 1_000.0, "b": 1_250.0, "c": 1_500.0}
    done = {"a": 1_180.0, "b": 1_300.0}  # c never completed: no sample
    assert latencies_from_due(due, done) == [180.0, 50.0]
    with pytest.raises(ValueError):
        latencies_from_due(due, {"z": 5.0})


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": "p", "name": "pipeline", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "c1", "name": "xml", "parent": "p", "start": 1.0, "end": 3.0},
        {"id": "c2", "name": "pivot", "parent": "p", "start": 2.0, "end": 5.0},  # overlaps c1
        {"id": "c3", "name": "csv", "parent": "p", "start": 8.0, "end": 12.0},  # runs past p
        {"id": "g", "name": "udf", "parent": "c2", "start": 2.5, "end": 3.5},
    ]
    st = self_times(spans)
    # p: 10 - |[1,5] ∪ [8,10]| = 10 - 6
    assert st["p"] == pytest.approx(4.0)
    assert st["c1"] == pytest.approx(2.0)
    assert st["c2"] == pytest.approx(2.0)  # 3 - 1 covered by g
    assert st["c3"] == pytest.approx(4.0)
    assert st["g"] == pytest.approx(1.0)
    assert self_time_by_name(spans + [
        {"id": "c4", "name": "xml", "parent": None, "start": 0.0, "end": 0.5}
    ])["xml"] == pytest.approx(2.5)
