"""Smoke test of the benchmark at tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs with ``--smoke`` (sf0.001 fixtures, a few hundred
records, a handful of requests) untraced and traced; every metric named
in BENCHMARK.json must be printed with its unit, and the output checks
must pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(HERE, "spec.json")))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_spec_matches_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == ["fleet", "pipeline"]
    assert set(SPEC["per_layer"]) == {m["name"] for m in BENCH["per_layer"]}
    fleet = SPEC["fleet"]["plans_queries"] + SPEC["fleet"]["operator_queries"]
    assert set(fleet) <= set(SPEC["fleet"]["sentinel_16"]) and len(SPEC["fleet"]["sentinel_16"]) == 16
    assert any(m["name"] == "setup_s" for m in BENCH["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["fleet", "pipeline"])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "fleet", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
