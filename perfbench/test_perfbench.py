"""The benchmark's own tests, on its smoke inputs (sf0.001, 2-dataset fleet).

Run from the root of a checkout::

    python3 -m pytest perfbench/test_perfbench.py -q

Each test starts ``perfbench/run.py --smoke`` in a subprocess (a Spark
session each, roughly half a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def run(workload: str, trace: int, *extra: str) -> list[dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return [json.loads(line) for line in out.stdout.strip().splitlines()]


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_metric_with_its_unit(workload):
    lines = run(workload, 1)
    result = lines[-1]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert _units(result["metrics"]) == PER_LAYER
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    traced_e2e = next(line["end_to_end"] for line in lines if "end_to_end" in line)
    assert _units(traced_e2e) == E2E


def test_untraced_run_emits_the_same_end_to_end_names():
    result = run("relational", 0)[-1]
    assert result["correct"]
    assert _units(result["metrics"]) == E2E
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload,op", [
    ("curation", "text_quality"),
    ("erddap_etl", "glider_007_0"),
])
def test_corrupted_result_counts_as_failed(workload, op):
    lines = run(workload, 0, "--corrupt", op)
    result = lines[-1]
    assert not result["correct"] and result["failed"] >= 1
    failed = dict(next(line["failed_ops"] for line in lines if "failed_ops" in line))
    assert op in failed
