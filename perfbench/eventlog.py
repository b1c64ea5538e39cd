"""Per-span metrics from Spark's own event log.

The traced run sets a job group around each layer call, so every job,
stage and task in the (uncompressed, JSON-lines) event log can be mapped
back to the span that caused it:
  spark.jobGroup.id (stage properties) -> stages -> TaskEnd metrics.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Iterable

MB = 2**20
SKEW_MIN_TASK_MS = 50  # stages whose longest task is shorter cannot hold a fat task


def read(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_ms(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def span_metrics(events: list[dict], spans: dict[str, tuple[str, float, float]]) -> dict[str, dict]:
    """spans maps a job group id to (span name, start_s, end_s) in epoch
    seconds. Returns, per span name, the counts and times of the jobs,
    stages and tasks run under that job group."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    stage_window: dict[int, tuple[float, float]] = {}
    tasks = defaultdict(list)  # stage id -> TaskEnd events
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in spans:
                group_of_job[ev["Job ID"]] = group
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in spans:
                group_of_stage[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_window[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks[ev["Stage ID"]].append(ev)

    out: dict[str, dict] = {}
    for group, (name, t0, t1) in spans.items():
        stages = [s for s, g in group_of_stage.items() if g == group]
        m = {
            "wall_s": t1 - t0,
            "jobs": sum(1 for g in group_of_job.values() if g == group),
            "stages": len(stages),
            "tasks": 0,
            "task_s": 0.0,
            "task_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_mb": 0.0,
            "fetch_wait_s": 0.0,
            "spill_mb": 0.0,
            "input_mb": 0.0,
            "output_mb": 0.0,
            "output_task_s": 0.0,
            "task_skew": 1.0,
        }
        windows = []
        for s in stages:
            if s in stage_window:
                windows.append(stage_window[s])
            run_ms = []
            for ev in tasks.get(s, []):
                tm = ev.get("Task Metrics") or {}
                run = tm.get("Executor Run Time", 0)
                run_ms.append(run)
                m["tasks"] += 1
                m["task_s"] += run / 1e3
                m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / MB
                m["fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0) / 1e3
                m["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0)) / MB
                m["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                written = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                if written:
                    m["output_mb"] += written / MB
                    m["output_task_s"] += run / 1e3
            if len(run_ms) >= 2 and max(run_ms) >= SKEW_MIN_TASK_MS:
                m["task_skew"] = max(m["task_skew"],
                                     max(run_ms) / max(statistics.median(run_ms), 1.0))
        covered_s = _union_ms(windows, t0 * 1e3, t1 * 1e3) / 1e3
        m["driver_gap_s"] = max(m["wall_s"] - covered_s, 0.0)
        out[name] = m
    return out
