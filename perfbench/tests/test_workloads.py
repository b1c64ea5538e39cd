"""A tiny-size run of each workload, end to end, through Spark.

Each run uses the benchmark's own entry point with shrunken inputs and a
traced op, so it checks the oracles agree with the engine, that every
metric BENCHMARK.json names is reported with its unit, and that the
event log maps jobs to the spans of the workload.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

SPANS = {"pr_hub_durable": ["pagerank"], "corpus_pipeline": ["extract", "wcc", "lpa", "triangles"]}


def test_spec_names_the_registered_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"] for m in SPEC["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_tiny_run(name, tmp_path):
    workload = WORKLOADS[name]
    result, context = run.run(workload, seed=5, seconds=1, trace=True,
                              sizes=workload.sizes.tiny(), work=str(tmp_path / "work"))
    assert result["correct"], context["errors"]
    # the timed op, its repeats, and the untraced and traced ops after restarts
    ops = 1 + len(context["repeat_s"]) + 2
    assert result["failed"] == 0 and result["attempted"] == ops * len(SPANS[name])
    layers = result["metrics"]
    assert {k: v["unit"] for k, v in layers.items()} == run.per_layer_units()
    for span in SPANS[name]:
        assert layers[f"{span}.jobs"]["value"] >= 1
        assert layers[f"{span}.tasks"]["value"] >= layers[f"{span}.jobs"]["value"]
        assert 0 <= layers[f"{span}.driver_gap_s"]["value"] <= layers[f"{span}.wall_s"]["value"]
    for span in set(run.SPANS) - set(SPANS[name]):
        assert layers[f"{span}.jobs"]["value"] == 0
    e2e = context["end_to_end"]
    assert set(e2e) == set(run.END_TO_END)
    assert all(v > 0 for v in e2e.values())
    if name == "pr_hub_durable":
        assert layers["checkpoint.snapshots"]["value"] >= 1
        assert layers["checkpoint.written_mb"]["value"] > 0
    else:
        assert layers["extract.edges"]["value"] > 0
        assert layers["extract.input_mb"]["value"] > 0
