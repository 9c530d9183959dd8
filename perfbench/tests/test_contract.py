"""BENCHMARK.json names exactly the metrics the runs print."""

import json
import os

from perfbench import common

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_the_metrics_printed():
    with open(BENCHMARK) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == common.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == common.LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
