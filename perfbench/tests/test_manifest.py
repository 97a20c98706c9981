"""The manifest and the harness name the same metrics, in the same
units, so that every workload's result line holds every metric the
manifest lists."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import harness

ROOT = Path(__file__).resolve().parents[2]


def _manifest() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_manifest_metrics_match_harness():
    m = _manifest()
    assert {x["name"]: x["unit"] for x in m["end_to_end"]} == harness.E2E
    assert {x["name"]: x["unit"] for x in m["per_layer"]} == harness.LAYERS


def test_manifest_workloads_match_runner():
    from perfbench import run

    assert tuple(w["name"] for w in _manifest()["workloads"]) == run.WORKLOADS


def test_result_marks_missing_metrics_incorrect(tmp_path):
    ctx = harness.Context(1, 1.0, False, tmp_path, 0.0)
    full = {k: (1.0, u) for k, u in harness.E2E.items()}
    assert ctx.result(True, full)["correct"]
    del full["throughput_per_s"]
    assert not ctx.result(True, full)["correct"]


def test_ops_split_adds_up(tmp_path):
    ctx = harness.Context(1, 1.0, True, tmp_path, 0.0)
    ctx.ops([{"wall": 2.0, "prepare": 0.5, "jobs": 3, "tasks": 7},
             {"wall": 4.0, "prepare": 1.5, "jobs": 5, "tasks": 9}])
    L = ctx.layers
    assert L["op.count"] == (2, "count")
    assert L["op.wall_s"] == (3.0, "s")
    assert L["op.prepare_s"][0] + L["op.execute_s"][0] == L["op.wall_s"][0]
    assert L["op.spark_jobs"] == (4.0, "count") and L["op.spark_tasks"] == (8.0, "count")
