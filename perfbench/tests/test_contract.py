"""BENCHMARK.json and the harness name the same metrics and workloads."""

import json
import os

from perfbench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_the_harness():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == harness.PER_LAYER


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_gated_workloads_exist():
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)
