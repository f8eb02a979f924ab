"""BENCHMARK.json lists exactly the metrics perfbench/metrics.py reports."""

import json
import os

from perfbench.metrics import END_TO_END, PER_LAYER

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_catalogue():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["bound"] == max(v[2] for v in END_TO_END.values())
               for m in bench["end_to_end"])
