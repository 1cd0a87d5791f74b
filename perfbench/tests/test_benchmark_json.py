"""BENCHMARK.json names exactly the workloads and metrics run.py emits."""

from __future__ import annotations

import json
import os

from perfbench.run import END_TO_END_UNITS, PER_LAYER_UNITS
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_metrics_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS


def test_bounds_are_at_most_a_quarter():
    assert all(0 < m["bound"] <= 0.25 for m in _spec()["end_to_end"])
