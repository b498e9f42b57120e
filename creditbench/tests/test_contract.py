"""The metric names and units the command prints agree with BENCHMARK.json."""

import json
import os

import run

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def _spec():
    with open(BENCHMARK) as f:
        return json.load(f)


def test_end_to_end_metrics_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS


def test_per_layer_units_match():
    for m in _spec()["per_layer"]:
        assert run.unit_of(m["name"]) == m["unit"], m["name"]


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)
