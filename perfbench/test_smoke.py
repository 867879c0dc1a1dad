"""Smoke test of the benchmark at the smallest input scale.

Runs every workload once untraced and once traced with an injected
wrong result, and checks the printed result line: every metric named in
BENCHMARK.json is present with its unit, a clean run is correct with no
failed op, and the injected wrong result is counted as a failed op.

    python -m pytest perfbench/test_smoke.py -q      # about 4 minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["metrics"].keys() == {m["name"] for m in declared}
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    _assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert all(res["metrics"][m]["value"] > 0 for m in ("setup_s", "ops_per_s", "op_p50_s"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_counts_an_injected_wrong_result_as_failed(workload):
    res = _run(workload, 1, "--inject-fault")
    _assert_metrics(res, SPEC["per_layer"])
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_runner_refuses_a_directory_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    (bench / "run.py").write_text(open(os.path.join(ROOT, "perfbench", "run.py")).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
