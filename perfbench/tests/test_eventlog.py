"""The event-log parser, on a small log recorded from a real session
(re-record it with record_eventlog.py) and on hand-made intervals."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402

EVENTS = eventlog.read(os.path.join(HERE, "data", "eventlog_small.jsonl"))
with open(os.path.join(HERE, "data", "eventlog_small_spans.json")) as fh:
    SPANS = {group: tuple(v) for group, v in json.load(fh).items()}


def task_ends(group: str) -> list[dict]:
    stages = {ev["Stage Info"]["Stage ID"] for ev in EVENTS
              if ev["Event"] == "SparkListenerStageSubmitted"
              and ev["Properties"].get("spark.jobGroup.id") == group}
    return [ev for ev in EVENTS if ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stages]


def test_jobs_and_tasks_are_attributed_to_their_group():
    m = eventlog.span_metrics(EVENTS, SPANS)
    assert set(m) == {"agg", "write"}
    for group, (name, _, _) in SPANS.items():
        jobs = [ev for ev in EVENTS if ev["Event"] == "SparkListenerJobStart"
                and ev["Properties"].get("spark.jobGroup.id") == group]
        assert m[name]["jobs"] == len(jobs) >= 1
        assert m[name]["tasks"] == len(task_ends(group)) >= 2
        cpu = sum(ev["Task Metrics"]["Executor CPU Time"] for ev in task_ends(group)) / 1e9
        assert abs(m[name]["task_cpu_s"] - cpu) < 1e-9
        assert 0 <= m[name]["driver_gap_s"] <= m[name]["wall_s"]


def test_shuffle_and_output_bytes_land_in_the_right_span():
    m = eventlog.span_metrics(EVENTS, SPANS)
    assert m["agg"]["shuffle_write_mb"] > 0 and m["agg"]["output_mb"] == 0
    assert m["write"]["output_mb"] > 0 and m["write"]["output_task_s"] >= 0
    assert m["write"]["shuffle_write_mb"] == 0


def test_unknown_groups_are_ignored():
    m = eventlog.span_metrics(EVENTS, {"nobody": ("other", 0.0, 1.0)})
    assert m["other"]["jobs"] == 0 and m["other"]["tasks"] == 0
    assert m["other"]["driver_gap_s"] == 1.0


def synthetic(windows_ms, runs_ms):
    events = []
    for sid, (a, b) in enumerate(windows_ms):
        props = {"spark.jobGroup.id": "g"}
        events.append({"Event": "SparkListenerJobStart", "Job ID": sid, "Properties": props})
        events.append({"Event": "SparkListenerStageSubmitted", "Properties": props,
                       "Stage Info": {"Stage ID": sid}})
        events.append({"Event": "SparkListenerStageCompleted",
                       "Stage Info": {"Stage ID": sid, "Submission Time": a, "Completion Time": b}})
        for run in runs_ms[sid]:
            events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                           "Task Metrics": {"Executor Run Time": run}})
    return events


def test_driver_gap_is_wall_minus_union_of_stage_windows():
    # stages cover [1000, 3000] and [2500, 4000] ms of a 0..10 s span:
    # 3 s covered (overlap counted once), 7 s of driver gap
    events = synthetic([(1000, 3000), (2500, 4000)], [[10, 10], [10, 10]])
    m = eventlog.span_metrics(events, {"g": ("s", 0.0, 10.0)})["s"]
    assert abs(m["driver_gap_s"] - 7.0) < 1e-9
    assert m["jobs"] == 2 and m["tasks"] == 4


def test_task_skew_is_the_worst_max_to_median_ratio():
    events = synthetic([(0, 1), (1, 2), (2, 3)], [[100, 100, 400], [60, 60, 60], [1, 1, 40]])
    m = eventlog.span_metrics(events, {"g": ("s", 0.0, 1.0)})["s"]
    # stage 0: 400 / 100; stage 1 is even; stage 2 is below the 50 ms floor
    assert m["task_skew"] == 4.0
