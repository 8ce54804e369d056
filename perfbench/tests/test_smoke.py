"""Smoke-sized runs of the benchmark command (each starts a Spark
session: about a minute apiece)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=240)


def test_spec_matches_the_code():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {
        n: w.why for n, w in workloads.WORKLOADS.items()}
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    p = _run(ROOT, workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    details = json.loads(p.stdout.splitlines()[-2])["perfbench"]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], details["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 5
    assert set(result["metrics"]) == set(run.E2E)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert len(details["digests"]) == 1


def test_traced_run_reports_every_per_layer_metric():
    p = _run(ROOT, "train_regression", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    details = json.loads(p.stdout.splitlines()[-2])["perfbench"]
    result = json.loads(p.stdout.splitlines()[-1])
    assert result["correct"], details["errors"]
    assert set(result["metrics"]) == set(run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert details["absent"] == []
    assert m["sketch.jobs"] >= 1 and m["barrier.wall_s"] > 0
    assert m["collective.allreduce_calls"] > 0
    assert m["arrow.to_python_bytes"] > 0 and m["model.wall_s"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "train_regression", trace=0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
