"""BENCHMARK.json names exactly the metrics the benchmark emits."""

import json
import os

from catalog import END_TO_END, PER_LAYER
from run import WORKLOADS

BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def test_benchmark_json_matches_the_catalog():
    with open(BENCHMARK) as f:
        b = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(PER_LAYER)
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128
