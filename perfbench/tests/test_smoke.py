"""End-to-end smoke runs of the benchmark command, output checks on.

Each run starts a Spark session, so this file takes a few minutes; run it
alone, never while another benchmark run uses the same checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )


def _spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_smoke_run_is_correct(workload):
    proc = _bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_traced_run_reports_every_per_layer_metric():
    proc = _bench("--workload", "catalog", "--seed", "2", "--seconds", "1", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] is True
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    for name in ("exec.jobs", "exec.tasks", "catalyst.plan_s", "streaming.batches",
                 "fanout.drain_wall_s", "udf.rows_from_python"):
        assert line["metrics"][name]["value"] > 0, name


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "catalog", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
