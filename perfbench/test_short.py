"""The benchmark's own test: every workload in --short mode, traced and
untraced, prints every metric with its unit and runs every output check.

Run from the repository root (about three minutes):

    python3 -m pytest perfbench/test_short.py -q
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
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)

# Every check a correct run must have made, by name prefix.
CHECKS = {
    "snapshot_merge": ["merge 0: changed_rows", "merge 0: audit rows",
                       "merge 0: snapshot equals source",
                       "orders_basket_lift over the snapshot matches its DuckDB oracle"],
    "incremental_lake": ["merge 0: copy-forward", "merge 0: changed_rows",
                         "read(version=1) equals the original load",
                         "convergence: final snapshot equals the replayed deltas",
                         "retained version"],
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--short"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == workloads.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == workloads.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_short_run(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    printed = dict(line.split()[::2] for line in lines[1:-1] if line.startswith("  ")
                   and len(line.split()) == 3)
    report_path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7-trace{trace}-short.json")
    with open(report_path, encoding="utf-8") as f:
        report = json.load(f)
    shown = report["per_layer"] if trace else {**report["end_to_end"], **report["extra"]}
    assert printed == {k: m["unit"] for k, m in shown.items()}
    made = [c["check"] for c in report["checks"]]
    for prefix in CHECKS[workload]:
        assert any(c.startswith(prefix) for c in made), (prefix, made)
    if trace:
        spans = {s["name"] for s in report["spans"]}
        assert "plan.build" in spans and "changeset.build" in spans
        assert result["metrics"]["merge.jobs"]["value"] > 0


def test_without_the_program_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "snapshot_merge", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip().startswith("{")
    assert '"correct"' not in proc.stdout
