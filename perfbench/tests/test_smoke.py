"""Smoke test of the benchmark: every workload at minimal size, untraced and
traced, must exit 0 and print every metric BENCHMARK.json names, with its
unit. Takes a few minutes; run from the root of the repository:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: end-to-end metrics each workload names in its summary lines
SUMMARY = {
    "train": {"train_s": "s", "avg_acc": "frac"},
    "score": {"score_s": "s", "score_rows_per_s": "rows/s", "acc": "frac"},
}
COMMON = {"setup_s": "s", "failed_frac": "frac", "peak_rss_mb": "MB"}


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.5"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric_with_its_unit(workload, trace):
    summary, out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1 and out["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(out["metrics"][m["name"]]["value"], float), m["name"]
    for name, unit in {**SUMMARY[workload], **COMMON}.items():
        assert any(line.startswith(f"# {workload}: {name} ") and f" {unit} n=" in line
                   for line in summary), name
