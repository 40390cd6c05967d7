"""BENCHMARK.json and run.py name the same metrics with the same units."""

import json
import os

import run
import workloads

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match_the_runner():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_match_the_runner():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert all(m["better"] in ("higher", "lower") for m in spec["per_layer"])


def test_every_listed_workload_exists():
    names = [w["name"] for w in _spec()["workloads"]]
    assert set(names) <= set(workloads.WORKLOADS)
    assert set(names) <= set(run.SCALE)
