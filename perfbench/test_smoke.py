"""Smoke test of the benchmark itself (about six minutes on 4 vCPUs).

For each workload: one untraced and two traced short runs on one seed. It
checks that every run passes its output checks, prints every metric
declared in BENCHMARK.json with its unit, and that the exact counts repeat
across the two traced runs. It also checks that the benchmark fails
without printing a result when the program is missing.

Run from the repository root::

    python3 -m pytest -q perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 7
# counts that a seed must fix exactly, per workload
EXACT = {
    "batch_analytics": ("analytics.jobs_per_call", "functions.jobs_per_call"),
    "mutation_log": (
        "fold.jobs_per_batch",
        "scan.jobs_per_call",
        "traverse.jobs_per_call",
        "store.jobs_per_call",
        "store.bytes_written",
        "store.log_bytes",
        "store.write_amp",
    ),
}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd, workload, trace):
    spec = _spec()
    proc = subprocess.run(
        [
            *spec["command"],
            "--workload", workload,
            "--seed", str(SEED),
            "--seconds", "1",
            "--trace", str(trace),
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=180,
    )
    return proc


def _result(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    assert out["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], float), k
    return out["metrics"]


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_workload(workload):
    e2e = _result(workload, 0)
    for name, v in e2e.items():
        assert v["value"] > 0, name
    first, second = _result(workload, 1), _result(workload, 1)
    for name in EXACT[workload]:
        assert first[name]["value"] > 0, name
        assert first[name]["value"] == second[name]["value"], name


def test_fails_without_the_program():
    spec = _spec()
    with tempfile.TemporaryDirectory() as tmp:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
        for path in spec["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(tmp, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        proc = _run(tmp, sorted(EXACT)[0], 0)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main(["-q", __file__]))
