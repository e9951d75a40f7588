"""BENCHMARK.json lists exactly the metrics and workloads run.py reports.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match():
    declared = [(m["name"], m["unit"]) for m in _bench()["per_layer"]]
    assert declared == run.per_layer_names()


def test_end_to_end_metrics_match():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == run.END_TO_END


def test_workloads_match():
    from workloads import WORKLOADS

    assert [w["name"] for w in _bench()["workloads"]] == list(WORKLOADS)
