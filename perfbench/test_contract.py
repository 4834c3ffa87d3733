"""BENCHMARK.json names exactly the metrics the benchmark reports.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import workloads  # noqa: E402


def _spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == workloads.PER_LAYER


def test_setup_bound_is_the_largest():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert all(b < bounds["setup_s"] for n, b in bounds.items()
               if n != "setup_s")
