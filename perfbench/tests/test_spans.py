"""Span self-time arithmetic and job-group attribution."""

import pytest

from spans import Span, Tracer, covered, job_owner, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 2), (4, 6)], 0, 10) == 3
    # clipped to the parent interval
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "key", 0.0, 10.0),
        Span(1, "build", 0.0, 4.0, parent=0),
        Span(2, "exec", 4.0, 9.0, parent=0),
        # two parallel stages of one job overlap; their union counts once
        Span(3, "job", 4.0, 8.0, parent=2),
        Span(4, "stage", 4.0, 7.0, parent=3),
        Span(5, "stage", 5.0, 8.0, parent=3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.0)
    assert st[4] == pytest.approx(3.0)
    # self times add up to the root's duration plus the time where
    # siblings ran in parallel (the two stages overlap for 2 s)
    assert sum(st.values()) == pytest.approx(10.0 + 2.0)


def test_tracer_records_parents_and_self_times():
    t = Tracer()
    root = t.add("workload", 0.0, 2.0)
    t.add("key", 0.5, 1.5, root, key="k")
    out = t.to_json()
    assert out[1]["parent"] == root and out[1]["key"] == "k"
    assert out[0]["self_s"] == pytest.approx(1.0)


def test_job_owner():
    runs = {"run-1": "stream_tumbling", "run-0": ""}
    assert job_owner("build:agg_x", runs) == ("agg_x", "build")
    assert job_owner("exec:agg_x", runs) == ("agg_x", "exec")
    assert job_owner("run-1", runs) == ("stream_tumbling", "stream")
    # a query started outside any key (set-up) and untagged jobs
    assert job_owner("run-0", runs) is None
    assert job_owner("", runs) is None
    assert job_owner("check", runs) is None
