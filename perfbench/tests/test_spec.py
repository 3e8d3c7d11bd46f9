"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""

import json
import os

import spec
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(spec.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spec.per_layer()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    kinds = {k for cls in workloads.WORKLOADS.values() for k in cls.kinds}
    assert kinds == set(spec.KINDS)
