"""BENCHMARK.json names exactly the metrics the runs print."""

import json
import os

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_per_layer_metrics_match():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.COMMON_LAYER_METRICS


def test_workloads_are_runnable():
    assert {w["name"] for w in _bench()["workloads"]} <= set(run.WORKLOADS)
