"""The benchmark's own tests: table consistency, the tracer, and a smoke
run of every workload end to end.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark (about 40 s per workload).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import run  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_metric_tables():
    spec = _bench_json()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tracer_self_time_excludes_children_and_folds_same_layer():
    tracer = layers.Tracer()

    def leaf():
        time.sleep(0.02)

    inner = tracer.wrap("leaf", leaf)
    reentrant = tracer.wrap("leaf", lambda: inner())

    def parent():
        time.sleep(0.02)
        reentrant()

    tracer.wrap("parent", parent)()
    assert tracer.calls == {"parent": 1, "leaf": 1}
    assert 0.015 < tracer.self_ns["parent"] / 1e9 < 0.035
    assert 0.015 < tracer.self_ns["leaf"] / 1e9 < 0.035
    assert tracer.spans[1][3] == 0  # the leaf's parent is span 0


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_prints_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} \
        == {**run.END_TO_END, **run.PER_LAYER}
    shown = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3 and not line.startswith("#"):
            shown[parts[0]] = parts[2]
    assert shown == {**run.END_TO_END, **run.REPORT_ONLY, **run.PER_LAYER}
    # the fold's named layers cover it to within 10%
    assert 0.9 <= metrics["fold.child_share"]["value"] <= 1.0
    assert metrics["tracing.overhead_ratio"]["value"] > 0
    # the headline extraction plan is zero-shuffle
    assert metrics["spark.shuffle_bytes"]["value"] == 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work",
                                                  "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pdf_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
