"""BENCHMARK.json and the metrics the runner emits agree."""

import json
import os

from perfbench import run as R
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_are_the_window_figures():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(R.END_TO_END)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_emitted_layer_metric_is_declared():
    names = {m["name"] for m in _spec()["per_layer"]}
    emitted = set(R.COMMON_LAYER)
    for w in WORKLOADS.values():
        emitted |= set(w.LAYER_METRICS)
    assert emitted - names == set(), "emitted but missing from BENCHMARK.json"
    assert names - emitted == set(), "in BENCHMARK.json but never emitted"


def test_workloads_match_spec():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_spec_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"] and spec["paths"] == ["perfbench"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert len(json.dumps(spec)) < 64 * 1024
