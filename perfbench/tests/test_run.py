"""End to end: every workload prints every metric with its unit, and passes
its output checks. Each case starts Spark, so the module takes minutes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_with_its_unit(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result = json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    detail = json.loads(detail_line)["detail"]
    if trace:
        # the spans cover the replay: nothing runs between them
        total, wall = result["metrics"]["trace.total_s"]["value"], detail["trace_wall_s"]
        assert total == pytest.approx(wall, rel=0.02)
    if workload == "link-volume":
        assert detail["f1"] == 1.0
        if trace:
            assert detail["traced_md5"] == detail["md5"]
            assert detail["rescore_max_error"] <= 1e-6
    else:
        assert detail["entities"] == detail["expected_entities"]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, run.WORKLOADS[0], 0)
    assert p.returncode != 0
    assert p.stdout == ""
