"""Percentile rule, spread and span self-time arithmetic."""

import pytest

from perfbench.stats import hi_percentile, spread
from perfbench.tracing import Span, Tracer, covered, self_time


def test_hi_percentile_needs_more_than_ten_samples():
    assert hi_percentile(list(range(10))) is None
    pct, value = hi_percentile(list(range(11)))
    assert (pct, value) == (pytest.approx(100 / 11), 0)


def test_hi_percentile_leaves_exactly_ten_beyond():
    values = [float(v) for v in range(100, 0, -1)]  # unsorted input
    pct, value = hi_percentile(values)
    assert pct == 90.0
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_spread_matches_quartiles():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    # exclusive quartiles of 4 points: q1 = 92.5, q3 = 107.5
    assert spread([90.0, 100.0, 100.0, 110.0]) == pytest.approx(0.15)


def _span(start, end, parent=None, sid=0):
    return Span(sid, "s", start, end, parent, "t")


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(3, 2), (4, 4)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    parent = _span(10.0, 20.0)
    kids = [_span(11.0, 14.0), _span(13.0, 15.0), _span(19.0, 25.0)]
    # children cover 11-15 and 19-20: 5 s of the parent's 10 s
    assert self_time(parent, kids) == pytest.approx(5.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_restores_wrapped_attributes():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    tracer = Tracer("t")
    tracer.wrap(Owner, "work", "owner.work")
    with tracer.span("call") as call:
        assert Owner.work(1) == 2
    tracer.unwrap_all()
    assert Owner.work(1) == 2
    assert [s.name for s in tracer.spans] == ["call", "owner.work"]
    inner = tracer.spans[1]
    assert inner.parent == call.id
    assert call.start <= inner.start <= inner.end <= call.end
    assert len(tracer.spans) == 2  # the unwrapped call recorded nothing
