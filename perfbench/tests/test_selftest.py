"""End-to-end checks of the benchmark command itself (these start
Spark: about a minute each)."""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


def test_kill_mid_job_leaves_no_process():
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--self-test"], capture_output=True, text=True,
                       timeout=400)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode == 0, result
    assert result["self_test"] == "pass"
    assert all(not c["survivors"] for c in result["cases"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "extract_batch", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""
