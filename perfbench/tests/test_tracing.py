"""Percentile helpers and span self time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.tracing import Span, Tracer, percentile, self_times, tail_percentile


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 100) == 100
    assert percentile([3.0], 90) == 3.0
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n, pct", [(100, 90.0), (1000, 99.0), (20, 50.0), (11, 100 / 11)])
def test_tail_percentile_leaves_exactly_ten_samples_beyond(n, pct):
    values = [float(v) for v in range(n, 0, -1)]
    got_pct, value = tail_percentile(values)
    assert got_pct == pytest.approx(pct)
    assert sum(v > value for v in values) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def _span(i, parent, start, end, name="s"):
    return Span(i, name, parent, 0, start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0)]
    assert self_times(spans) == {0: pytest.approx(7.0), 1: 2.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0)]
    assert self_times(spans)[0] == pytest.approx(6.0)


def test_self_time_ignores_grandchildren_and_clips_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 12.0),  # runs past its parent: only 2..10 is covered
        _span(2, 1, 3.0, 4.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(2.0)
    assert got[1] == pytest.approx(9.0)


def test_tracer_records_nesting_and_op():
    t = Tracer(enabled=True)
    t.op = 4
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.op == inner.op == 4
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []
