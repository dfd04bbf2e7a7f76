"""Smoke test of the benchmark at its smallest inputs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Runs every workload once untraced and once traced and asserts that every
metric named in ``BENCHMARK.json`` is printed with its unit, that the
correctness gate fires when the expected results are deliberately wrong,
and that the benchmark refuses to run without the engine beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from layers import PER_LAYER, PREDICTIONS, WORKLOAD_NAMES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == WORKLOAD_NAMES
    assert BENCH["per_layer"] == PER_LAYER
    assert len({m["name"] for m in PER_LAYER}) == len(PER_LAYER) <= 128
    for m in PER_LAYER:
        assert any(m["name"].startswith(layer) for layer in PREDICTIONS), m["name"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    res = result(run(workload, trace))
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(res["metrics"][m["name"]]["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_correctness_gate_fires_on_wrong_expectation():
    res = result(run("retail_etl", 0, "--expect-wrong"))
    assert res["correct"] is False
    assert res["failed"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = run("retail_etl", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
