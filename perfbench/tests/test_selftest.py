"""Tiny-scale self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

Each workload runs once clean (every end-to-end metric is reported
with its unit, nothing fails) and once with a corrupted input (every
per-layer metric is reported with its unit, and the corruption shows
as failed operations).  About four minutes on four cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
#: corrupted inputs, each with the workload it corrupts
FAULTS = [
    ("ingest_live", "drop_file"),  # a landing file never arrives
    ("hourly_batch", "drop_feed_part"),  # an hour's feed loses a file
    ("hourly_batch", "bad_pin"),  # a pinned catalog digest is wrong
]


def _run(workload: str, trace: int, fault: str | None = None, cwd: Path = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "5", "--seconds", "2", "--trace", str(trace),
           "--scale", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in spec)
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_clean_run_reports_every_end_to_end_metric(workload):
    r = _result(_run(workload, trace=0))
    assert r["correct"] is True
    assert r["failed"] == 0 and r["attempted"] >= 1
    _assert_metrics(r, BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in r["metrics"].values()), r["metrics"]


@pytest.mark.parametrize(("workload", "fault"), FAULTS)
def test_corrupted_input_counts_as_failed(workload, fault):
    r = _result(_run(workload, trace=1, fault=fault))
    assert r["correct"] is False
    assert 0 < r["failed"] <= r["attempted"]
    _assert_metrics(r, BENCH["per_layer"])


def test_without_the_package_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("ingest_live", trace=0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout == ""
