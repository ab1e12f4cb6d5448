"""Tail percentile rule and self-time accounting."""

from __future__ import annotations

import math
import time

import pytest

from spans import Span, Tracer, covered, self_times, tail


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 51))  # 50 samples
    value, pct, beyond = tail(xs)
    assert value == 40 and pct == 80.0 and beyond == 10
    assert sum(1 for x in xs if x > value) == 10


def test_tail_with_eleven_samples_is_the_lowest():
    value, pct, beyond = tail([5.0] + [9.0] * 10)
    assert (value, beyond) == (5.0, 10)
    assert math.isclose(pct, 100 / 11)


def test_tail_without_enough_samples_is_flagged_max():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    with pytest.raises(ValueError):
        tail([])


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12), (-4, -1)]) == 6
    assert covered((0, 10), []) == 0


def test_self_time_is_span_minus_child_cover():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: cover is 1..6
        Span("c", 2.0, 3.0, parent=1),  # grandchild: only a's self shrinks
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0]


def test_tracer_nests_spans_and_restores_wrapped_attributes():
    class Mod:
        @staticmethod
        def inner():
            time.sleep(0.02)

        @staticmethod
        def outer():
            time.sleep(0.01)
            Mod.inner()

    original = Mod.inner
    t = Tracer()
    t.wrap(Mod, "inner", "layer.inner")
    t.wrap(Mod, "outer", "layer.outer")
    with t.span("op"):
        Mod.outer()
    t.unwrap_all()
    assert Mod.inner is original
    layers = t.by_layer()
    assert [s.layer for s in t.spans] == ["op", "layer.outer", "layer.inner"]
    assert layers["layer.inner"]["self_s"] >= 0.02
    assert 0.01 <= layers["layer.outer"]["self_s"] < 0.02
    total = t.spans[0].end - t.spans[0].start
    assert math.isclose(sum(d["self_s"] for d in layers.values()), total, rel_tol=1e-9)
