"""Percentiles, tail selection, span self times and the file-prefix
freshness mapping."""

import pytest

from common import Tracer, map_files_to_increments, percentile, summarize, tail_percentile


def test_percentile_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(v, 50) == 3.0
    assert percentile(v, 100) == 5.0
    assert percentile(v, 1) == 1.0
    assert percentile(list(range(1, 101)), 90) == 90


def test_percentile_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(1, 50), (19, 50), (20, 50), (21, 52), (36, 72), (100, 90), (120, 91), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


@pytest.mark.parametrize("n", [20, 21, 36, 57, 100, 120, 999, 5000])
def test_tail_is_the_highest_percentile_with_ten_beyond(n):
    import math

    p = tail_percentile(n)
    assert n - math.ceil(p / 100 * n) >= 10
    if p < 99:
        assert n - math.ceil((p + 1) / 100 * n) < 10


def test_summarize_reports_tail_percentile_and_count():
    s = summarize([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.0, "tail_pct": 90, "tail": 90.0}
    small = summarize([3.0, 1.0, 2.0])
    assert small["tail_pct"] == 50 and small["tail"] == small["p50"] == 2.0


def test_map_files_to_increments_by_prefix():
    # files of 3, 2, 4, 1 lines; increments took 5, then 4, then 1 lines
    assert map_files_to_increments([3, 2, 4, 1], [5, 9, 10]) == [0, 0, 1, 2]


def test_map_files_marks_unconsumed_files():
    assert map_files_to_increments([3, 2, 4], [3]) == [0, -1, -1]


def test_map_files_rejects_partial_files():
    # 4 rows is not a file boundary: a file was split across increments
    assert map_files_to_increments([3, 2], [4, 5]) is None
    # cumulative counts never decrease
    assert map_files_to_increments([3, 2], [5, 3]) is None


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("a"):
        pass
    assert t.spans == []


def test_self_time_subtracts_direct_children():
    t = Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == 0 and outer.parent is None
    assert t.totals(since=1) == {"inner": pytest.approx(inner.end - inner.start)}
    st = t.self_times()
    assert st["inner"] == pytest.approx(inner.end - inner.start)
    assert st["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
