"""BENCHMARK.json and the metrics the benchmark prints stay in step."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import harness, metrics, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_and_units(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_names_and_units(bench):
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert len(metrics.PER_LAYER) == 91


def test_workloads(bench):
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS


def test_emit_refuses_a_missing_metric():
    values = dict.fromkeys(metrics.END_TO_END, 1.0)
    out = metrics.emit(values, metrics.END_TO_END)
    assert out["setup_s"] == {"value": 1.0, "unit": "s"}
    del values["op_p50_s"]
    with pytest.raises(KeyError):
        metrics.emit(values, metrics.END_TO_END)


def test_tail_percentile_needs_ten_samples_above():
    assert harness.tail_percentile([1.0] * 10) is None
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    assert harness.tail_percentile(xs) == (75, 30.0)  # 10 samples above 30
