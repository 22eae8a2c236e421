"""Self-test of the benchmark at smoke sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every metric ``BENCHMARK.json`` names is printed with its unit,
that outputs check clean (error rate 0), and that the benchmark fails without
a result when the package it measures is absent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def _check(proc: subprocess.CompletedProcess, declared: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], proc.stdout
    assert any("error_rate = 0 ratio" in line for line in lines[:-1])
    units = {m["name"]: m["unit"] for m in declared}
    assert set(result["metrics"]) == set(units)
    for name, metric in result["metrics"].items():
        assert metric["unit"] == units[name]
        assert isinstance(metric["value"], float) and math.isfinite(metric["value"])
    return result


@pytest.mark.parametrize("workload", ["backfill", "live_tail", "analytics"])
def test_end_to_end_metrics(workload):
    result = _check(_run(ROOT, workload, 0), _bench()["end_to_end"])
    for name in ("throughput_per_s", "latency_p50_s", "setup_s", "peak_pss_mb"):
        assert result["metrics"][name]["value"] > 0


def test_traced_run_reports_every_layer():
    _check(_run(ROOT, "live_tail", 1), _bench()["per_layer"])


def test_fails_without_the_package(tmp_path):
    bench = _bench()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = _run(str(tmp_path), bench["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
