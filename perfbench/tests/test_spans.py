"""Arithmetic of the traced run: span self time, interval union (the
driver time outside Spark jobs), status-store deltas, job attribution."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import (  # noqa: E402
    Span, Tracer, assign_jobs, covered, jobs_since, self_times, stage_delta,
)


def test_covered_merges_overlaps_and_nesting():
    ivals = [(1.0, 3.0), (2.0, 4.0), (2.5, 2.6), (6.0, 7.0)]
    assert covered(ivals, 0.0, 10.0) == pytest.approx(4.0)


def test_covered_clips_to_window_and_skips_outside():
    ivals = [(-5.0, 1.0), (9.0, 20.0), (30.0, 40.0), (4.0, 4.0)]
    assert covered(ivals, 0.0, 10.0) == pytest.approx(2.0)
    assert covered([], 0.0, 10.0) == 0.0


def test_outside_jobs_is_pass_minus_job_union():
    # a 10 s pass with two overlapping jobs and one disjoint job
    jobs = [(100.5, 103.0), (102.0, 104.0), (107.0, 108.5)]
    assert 10.0 - covered(jobs, 100.0, 110.0) == pytest.approx(5.0)


def test_self_time_subtracts_children_union_only():
    spans = [
        Span(0, "pass", None, 0.0, 10.0),
        Span(1, "query", 0, 1.0, 4.0),
        Span(2, "query", 0, 5.0, 9.0),
        Span(3, "build", 1, 1.0, 2.0),
        Span(4, "materialize", 1, 2.0, 4.0),
        Span(5, "staging.stage", 3, 1.2, 1.7),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(3.0)  # 10 - (3 + 4)
    assert st[1] == pytest.approx(0.0)  # fully covered by build + materialize
    assert st[2] == pytest.approx(4.0)  # no children
    assert st[3] == pytest.approx(0.5)  # grandchildren do not count twice
    assert st[5] == pytest.approx(0.5)


def test_self_time_of_overlapping_children_counts_overlap_once():
    spans = [Span(0, "p", None, 0.0, 5.0), Span(1, "a", 0, 1.0, 3.0), Span(2, "b", 0, 2.0, 4.0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_tracer_nests_and_records_nothing_when_disabled():
    t = Tracer()
    with t.span("pass") as off:
        pass
    assert off is None and t.spans == []
    t.enabled = True
    with t.span("pass") as p:
        with t.span("query", query="q") as q:
            with t.span("build"):
                pass
    assert q.parent == p.id and p.parent is None
    assert [s.name for s in t.descendants(p.id, "build")] == ["build"]
    assert all(s.end >= s.start for s in t.spans)


def _stage(tasks, run_ms=0, cpu_ns=0, out=0):
    row = {k: 0.0 for k in ("tasks", "run_s", "cpu_s", "gc_s", "input_mb", "input_rows",
                            "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb")}
    row.update(tasks=tasks, run_s=run_ms / 1e3, cpu_s=cpu_ns / 1e9, output_mb=out)
    return row


def test_stage_delta_counts_only_new_attempts():
    before = {(1, 0): _stage(4, 100), (2, 0): _stage(2, 50)}
    after = dict(before)
    after[(3, 0)] = _stage(8, 400, 3e8)
    after[(2, 1)] = _stage(1, 10)  # a retried attempt of an old stage is new work
    d = stage_delta(before, after)
    assert d["stages"] == 2
    assert d["tasks"] == 9
    assert d["run_s"] == pytest.approx(0.41)
    assert d["cpu_s"] == pytest.approx(0.3)
    assert d["run_s"] - d["cpu_s"] == pytest.approx(0.11)  # executor.python_s


def test_stage_delta_across_passes_and_restriction():
    p0 = {(1, 0): _stage(1)}
    p1 = {**p0, (2, 0): _stage(2, out=1.5), (3, 0): _stage(3, out=2.0)}
    p2 = {**p1, (4, 0): _stage(4)}
    assert stage_delta(p0, p1)["tasks"] == 5
    assert stage_delta(p1, p2)["tasks"] == 4
    assert stage_delta(p0, p1, only={3})["output_mb"] == pytest.approx(2.0)
    assert stage_delta(p2, p2)["stages"] == 0


def test_assign_jobs_by_group_then_by_submission_time():
    q1 = Span(7, "query", 0, 10.0, 20.0)
    q2 = Span(9, "query", 0, 20.5, 30.0)
    jobs = {
        1: {"group": "perfbench.7", "start": 11.0, "end": 12.0, "stages": [1]},
        2: {"group": "stream-run-id", "start": 25.0, "end": 26.0, "stages": [2]},
        3: {"group": "perfbench.9", "start": 19.0, "end": 21.0, "stages": [3]},
        4: {"group": None, "start": 50.0, "end": 51.0, "stages": [4]},
    }
    owner = assign_jobs(jobs, [q1, q2], "perfbench.")
    assert owner == {7: [1], 9: [2, 3]}


def test_jobs_of_a_preceding_pass_are_not_counted():
    # an untraced pass ran jobs 1-2 before the traced pass started at 100.0;
    # the store returns them too when read from an older baseline
    jobs = {
        1: {"group": None, "start": 90.0, "end": 91.0, "stages": [1]},
        2: {"group": None, "start": 98.5, "end": 99.9, "stages": [2]},
        3: {"group": "perfbench.7", "start": 100.0005, "end": 101.0, "stages": [3]},
        4: {"group": "perfbench.8", "start": 101.5, "end": 103.0, "stages": [4, 5]},
        5: {"group": None, "start": None, "end": None, "stages": []},
    }
    # job 3 was stamped in the pass's first millisecond, rounded down
    assert sorted(jobs_since(jobs, 100.0009)) == [3, 4]
    assert jobs_since(jobs, 200.0) == {}
