"""BENCHMARK.json and the runner agree on workloads, metrics and units."""

import json
import os

import run

DEF = os.path.join(run.ROOT, "BENCHMARK.json")


def test_benchmark_json_matches_the_runner():
    with open(DEF) as f:
        d = json.load(f)
    assert d["command"][1] == "dedupbench/run.py" and d["paths"] == ["dedupbench"]
    assert {w["name"] for w in d["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in d["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in d["per_layer"]} == run.LAYER_UNITS
    setup = next(m for m in d["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in d["end_to_end"])
