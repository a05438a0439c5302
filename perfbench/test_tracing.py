"""Tests of the trace summarizer on hand-built traces.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import pytest

from perfbench.tracing import Tracer, attribute, self_times, stage_intervals, summarize


def _trace(*spans):
    """Spans from (name, start, end, parent index) tuples."""
    t = Tracer(True)
    for name, start, end, parent in spans:
        t.add(name, start, end, "t0", parent=parent)
    return t.spans


def test_self_time_counts_overlapping_children_once():
    spans = _trace(
        ("op", 0.0, 10.0, None),
        ("a", 1.0, 5.0, 0),
        ("b", 3.0, 7.0, 0),  # overlaps a on [3, 5]
        ("c", 8.0, 12.0, 0),  # runs past its parent's end
        ("a.inner", 2.0, 3.0, 1),
    )
    st = self_times(spans)
    # children cover [1, 7] and [8, 10] of op: 8 of its 10 seconds
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_summary_adds_self_time_per_name():
    spans = _trace(
        ("op", 0.0, 4.0, None),
        ("q", 0.0, 1.0, 0),
        ("q", 1.0, 3.0, 0),
        ("op", 10.0, 11.0, None),
    )
    rows = {r["name"]: r for r in summarize(spans)}
    assert rows["q"]["n"] == 2 and rows["q"]["self_s"] == pytest.approx(3.0)
    assert rows["op"]["total_s"] == pytest.approx(5.0)
    assert rows["op"]["self_s"] == pytest.approx(2.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", trace="t"):
        t.add("y", 0.0, 1.0, "t")
    assert t.spans == []


def test_nested_spans_take_the_open_span_as_parent():
    t = Tracer(True)
    with t.span("outer", trace="t"):
        with t.span("inner", trace="t"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert t.spans[0]["start"] <= t.spans[1]["start"] <= t.spans[1]["end"] <= t.spans[0]["end"]


def test_stage_intervals_are_cumulative_with_nested_substages():
    timings = {"gates": 1.0, "write": 4.0, "count": 0.5,
               "write_a": 1.5, "write_b": 2.0}
    ivs = stage_intervals(100.0, timings, {"write": ("write_a", "write_b")})
    assert ivs == [
        ("gates", 100.0, 101.0, None),
        ("write", 101.0, 105.0, None),
        ("write_a", 101.0, 102.5, "write"),
        ("write_b", 102.5, 104.5, "write"),
        ("count", 105.0, 105.5, None),
    ]


def test_jobs_go_to_the_innermost_stage_and_its_parent():
    ivs = stage_intervals(0.0, {"gates": 1.0, "write": 4.0, "write_a": 1.5},
                          {"write": ("write_a",)})
    counts = attribute([0.5, 1.2, 2.0, 4.0, 9.0], ivs)
    # 9.0 falls outside every stage and is not counted
    assert counts == {"gates": 1, "write": 3, "write_a": 2}
