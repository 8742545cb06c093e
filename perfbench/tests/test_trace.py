"""Tests of the benchmark's pure helpers.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.spark import read_event_log  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    attribute_jobs,
    clip,
    percentile,
    self_times,
    uncovered_s,
    union_length,
)


# ------------------------------------------------------------ percentiles
def test_percentile_needs_ten_samples_beyond_the_rank():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9  # rank 10, 10 samples above it
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89


def test_percentile_is_nearest_rank_and_order_free():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert percentile(values, 0.5) == 3.0
    assert percentile(sorted(values, reverse=True), 0.5) == 3.0
    assert percentile(values, 0.5, min_beyond=0) == 3.0
    assert percentile([7.0], 0.5, min_beyond=0) == 7.0


def test_percentile_rejects_out_of_range_quantiles():
    with pytest.raises(ValueError):
        percentile([1.0] * 50, 1.0)
    assert percentile([], 0.5, min_beyond=0) is None


# ------------------------------------------------------------ intervals
def test_union_length_merges_overlaps_and_ignores_empty_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(5, 6), (0, 1), (0.5, 0.75)]) == 2.0
    assert union_length([(1, 1), (3, 2)]) == 0.0
    assert union_length([(0, 1), (1, 2)]) == 2.0


def test_clip_keeps_only_the_parts_inside_the_window():
    assert clip([(0, 2), (3, 10), (11, 12)], 1, 5) == [(1, 2), (3, 5)]


# ------------------------------------------------------------ spans
def _span(i, start, end, parent=None, name="x"):
    return Span(span_id=i, name=name, start=start, end=end, parent=parent, trace_id="t")


def test_self_time_is_duration_minus_children_cover():
    spans = [
        _span(1, 0, 10),
        _span(2, 1, 4, parent=1),
        _span(3, 3, 6, parent=1),  # overlaps its sibling: counted once
        _span(4, 2, 3, parent=2),
        _span(5, 9, 12, parent=1),  # runs past its parent: clipped
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - (5 + 1))
    assert own[2] == pytest.approx(3 - 1)
    assert own[3] == pytest.approx(3)
    assert own[4] == pytest.approx(1)
    assert own[5] == pytest.approx(3)


def test_uncovered_wall_time():
    spans = [_span(1, 1, 3), _span(2, 2, 4), _span(3, 8, 20)]
    assert uncovered_s(spans, 0, 10) == pytest.approx(10 - 3 - 2)
    assert uncovered_s([], 0, 5) == 5


def test_tracer_records_parents_and_is_free_when_disabled(tmp_path):
    tracer = Tracer("trace-1")
    with tracer.span("outer"):
        with tracer.span("inner", k=1):
            pass
        tracer.wrap("wrapped", lambda: None)()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["inner"].parent == by_name["outer"].span_id
    assert by_name["wrapped"].parent == by_name["outer"].span_id
    assert by_name["outer"].parent is None
    assert {s.trace_id for s in tracer.spans} == {"trace-1"}
    assert by_name["inner"].attrs == {"k": 1}
    tracer.dump(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(line) for line in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["outer", "inner", "wrapped"]

    off = Tracer("trace-2", enabled=False)
    with off.span("outer") as s:
        assert s is None
    assert off.spans == []


# ------------------------------------------------------------ job attribution
def test_jobs_are_attributed_by_group_and_driver_time_is_the_rest():
    ops = {"a#1": (0.0, 10.0), "b#2": (10.0, 12.0), "c#3": (12.0, 13.0)}
    jobs = [
        {"group": "a#1", "start": 1.0, "end": 3.0, "tasks": 4, "executor_run_s": 2.0},
        {"group": "a#1", "start": 2.0, "end": 5.0, "tasks": 1, "executor_run_s": 1.0},
        {"group": "b#2", "start": 9.5, "end": 11.0, "tasks": 2},  # starts before b: clipped
        {"group": None, "start": 12.0, "end": 13.0, "tasks": 9},  # no group: nobody's
    ]
    got = attribute_jobs(ops, jobs)
    assert got["a#1"]["jobs"] == 2
    assert got["a#1"]["exec_s"] == pytest.approx(4.0)
    assert got["a#1"]["driver_s"] == pytest.approx(6.0)
    assert got["a#1"]["tasks"] == 5
    assert got["a#1"]["executor_run_s"] == pytest.approx(3.0)
    assert got["b#2"]["exec_s"] == pytest.approx(1.0)
    assert got["b#2"]["driver_s"] == pytest.approx(1.0)
    assert got["c#3"] == {"jobs": 0, "exec_s": 0.0, "driver_s": 1.0}


def test_event_log_counts_each_completed_stage_once(tmp_path):
    def stage(sid, tasks, run_ms):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid,
                "Number of Tasks": tasks,
                "Accumulables": [
                    {"Name": "internal.metrics.executorRunTime", "Value": run_ms},
                    {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": "100"},
                ],
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g#1"}},
        stage(0, 4, 500),
        stage(1, 2, 250),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 lists stage 1 again (skipped, reused) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g#1"}},
        stage(2, 1, 1000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(str(path))
    assert [(j["group"], j["start"], j["end"]) for j in jobs] == [("g#1", 1.0, 3.0), ("g#1", 3.5, 4.0)]
    assert jobs[0]["stages"] == 2 and jobs[0]["tasks"] == 6
    assert jobs[0]["executor_run_s"] == pytest.approx(0.75)
    assert jobs[0]["shuffle_write_bytes"] == 200
    assert jobs[1]["stages"] == 1 and jobs[1]["tasks"] == 1
    per_op = attribute_jobs({"g#1": (0.5, 5.0)}, jobs)
    assert per_op["g#1"]["exec_s"] == pytest.approx(2.5)
    assert per_op["g#1"]["driver_s"] == pytest.approx(2.0)
    assert per_op["g#1"]["stages"] == 3
