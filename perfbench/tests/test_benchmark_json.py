"""BENCHMARK.json lists exactly the per-query metrics the workloads produce."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def test_per_query_metrics_match_workloads():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = {m["name"] for m in bench["per_layer"] if m["name"].startswith("query.")}
    wanted = {f"query.{q}.wall_s" for w in WORKLOADS.values() for q in w.queries}
    assert listed == wanted
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
