"""Span self time: a span's duration minus what its children cover."""

import pytest

from perfbench.trace import Span, self_times


def _span(name, start, end, parent=None):
    s = Span(name, start, parent)
    s.end = end
    return s


def test_self_time_subtracts_children():
    spans = [
        _span("pipeline", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 4.0, 8.0, parent=0),
        _span("b.inner", 5.0, 6.0, parent=2),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_overlapping_and_overhanging_children_count_once():
    spans = [
        _span("p", 0.0, 10.0),
        _span("x", 2.0, 6.0, parent=0),
        _span("y", 5.0, 7.0, parent=0),   # overlaps x by 1 s
        _span("z", 9.0, 12.0, parent=0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_root_without_children_is_all_self():
    assert self_times([_span("p", 1.0, 2.5)]) == pytest.approx([1.5])
