"""Pins the benchmark's report schema on tiny inputs.

    python -m pytest perfbench/tests -q

Each case starts a real local SparkSession, so the module takes a few
minutes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [
    ("person_dedup", 0), ("person_dedup", 1), ("repo_link_diverse", 1)])
def test_smoke_report_schema(workload, trace):
    section = "per_layer" if trace else "end_to_end"
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True, proc.stderr[-3000:]
    assert line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert set(line["metrics"]) == set(want)
    for name, m in line["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == want[name]
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
    if trace == 0:
        assert all(m["value"] > 0 for m in line["metrics"].values())

    report = os.path.join(ROOT, ".perfbench", "reports",
                          f"{workload}-seed3-trace{trace}-smoke.json")
    with open(report) as f:
        detail = json.load(f)
    assert detail["result"] == line
    assert detail["fail_ratio"] == 0 and detail["cold_wall_s"] > 0
    if trace:
        assert {"records", "candidate_pairs", "distinct_payload_share", "largest_block",
                "hot_blocks", "distinct_class_pairs"} <= set(detail["census"])
        assert detail["spans"] and "scoring.python_s" in detail["layers"]
        layers = line["metrics"]
        if workload == "repo_link_diverse":
            # the checkpoint and dedup layers are measured here only
            assert detail["sink_parity"] is True
            for name in ("checkpoint.run_s", "checkpoint.resume_s", "checkpoint.jobs_per_range",
                         "dedup.lsh_candidates", "dedup.rerank_task_s"):
                assert layers[name]["value"] > 0, name
        else:
            assert layers["clustering.call_s"]["value"] > 0
            assert layers["linkage.plan_build_s"]["value"] > 0
    assert not [d for d in os.listdir(os.path.join(ROOT, ".perfbench"))
                if d.startswith("tmp-")], "temp dir left behind"


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
