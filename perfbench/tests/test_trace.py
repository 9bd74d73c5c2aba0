"""Self time and percentile arithmetic."""

import math

from perfbench.trace import MIN_BEYOND, Span, Tracer, median, self_time, tail


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent)


def test_self_time_subtracts_children_once():
    root = _span(1, 0.0, 10.0)
    spans = [
        root,
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 5.0, parent=1),  # overlaps span 2: [1, 5] covered once
        _span(4, 7.0, 8.0, parent=1),
        _span(5, 7.2, 7.8, parent=4),  # grandchild: not subtracted from the root
    ]
    assert math.isclose(self_time(root, spans), 10.0 - 4.0 - 1.0)
    assert math.isclose(self_time(spans[3], spans), 1.0 - 0.6)
    assert math.isclose(self_time(spans[1], spans), 3.0)


def test_self_time_clips_children_to_parent():
    root = _span(1, 0.0, 2.0)
    spans = [root, _span(2, -1.0, 1.0, parent=1), _span(3, 1.5, 9.0, parent=1)]
    assert math.isclose(self_time(root, spans), 2.0 - 1.0 - 0.5)


def test_tracer_nests_spans_and_records_nothing_when_off():
    t = Tracer(True, "run")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False, "run")
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_median():
    assert median([]) == 0.0
    assert median([3.0]) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_tail_keeps_ten_samples_beyond():
    values = list(range(1, 1001))  # 1..1000
    assert tail(values, 0.99) == 990  # nearest rank: exactly 10 beyond
    assert sum(v > tail(values, 0.99) for v in values) == MIN_BEYOND
    # 100 samples cannot support p99: the highest rank with 10 beyond
    v100 = list(range(1, 101))
    assert tail(v100, 0.99) == 90
    assert sum(v > tail(v100, 0.99) for v in v100) == MIN_BEYOND
    # p50 of 100 samples has plenty beyond it
    assert tail(v100, 0.5) == 50


def test_tail_falls_back_to_median_with_few_samples():
    assert tail([5.0, 1.0, 3.0], 0.99) == 3.0
    assert tail(list(range(19)), 0.99) == median(list(range(19)))
    # 20 samples: the lower middle one is the highest with 10 beyond it
    assert tail(list(range(20)), 0.99) == 9
    assert tail([], 0.99) == 0.0
