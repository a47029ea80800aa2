"""End-to-end tests of the benchmark program itself: the tiny-size smoke
mode (every workload untraced, then a traced run), and the refusal to
run without the engine sources next to it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_smoke_runs_every_workload_and_the_traced_run(tmp_path):
    # the work directory goes under the current directory: use tmp_path
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    assert summary["correct"] and summary["failed"] == 0, summary
    spec = _bench_spec()
    e2e = sorted(m["name"] for m in spec["end_to_end"])
    per_layer = sorted(m["name"] for m in spec["per_layer"])
    runs = summary["runs"]
    for name in ("extract_scan", "curate_chain", "job_resume"):
        assert runs[f"{name}/trace=0"] == e2e
    assert runs["extract_scan/trace=1"] == per_layer
    assert not os.path.exists(tmp_path / ".perfbench_work")


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
