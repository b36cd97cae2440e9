"""Teardown self-test: start a benchmark run, kill it in the middle of
a Spark job, and check that no process it started outlives it.

Two kills are tried, each once the run's Spark Python workers exist:

- SIGTERM to the benchmark command itself, which must tear its child
  session down, print no result and exit non-zero;
- SIGKILL to the Spark driver process (a crash the command did not
  cause), after which the command must reap the orphaned JVM and
  workers, count the run as failed and exit non-zero.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))


def _spark_workers(tree: dict[int, str]) -> list[int]:
    """Python processes whose parent is a java process: the PySpark
    daemon of a running job."""
    out = []
    for pid in tree:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{ppid}/comm") as f:
                parent = f.read().strip()
            with open(f"/proc/{pid}/comm") as f:
                me = f.read().strip()
        except (OSError, ValueError, IndexError):
            continue
        if parent == "java" and me.startswith("python"):
            out.append(pid)
    return out


def kill_mid_job(target: str, timeout_s: float = 150.0) -> dict:
    bench = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "extract_batch", "--seed", "1", "--seconds", "30"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        start_new_session=True)
    deadline = time.monotonic() + timeout_s
    tree: dict[int, str] = {}
    try:
        while time.monotonic() < deadline and bench.poll() is None:
            tree = procs.descendants(bench.pid)
            workers = _spark_workers(tree)
            if workers:
                break
            time.sleep(0.2)
        else:
            return {"target": target, "ok": False,
                    "why": "no Spark job started"}
        # the Spark driver: the child leading a session of its own
        driver = next(p for p in tree if os.getsid(p) == p)
        if target == "benchmark":
            victim = bench.pid
            bench.send_signal(signal.SIGTERM)
        else:
            victim = driver
            os.kill(victim, signal.SIGKILL)
        out, _ = bench.communicate(timeout=60)
        time.sleep(1.0)
        # what was alive at the kill, and anything started since in the
        # driver's session
        left = sorted({p for p, start in tree.items()
                       if procs.alive(p, start)}
                      | set(procs.session_pids(driver)))
        last = out.decode().strip().splitlines()[-1:] or [""]
        printed = last[0].startswith("{")
        ok = not left and bench.returncode != 0 and (
            not printed if target == "benchmark"
            else json.loads(last[0])["correct"] is False)
        return {"target": target, "victim": victim, "ok": ok,
                "processes_at_kill": len(tree), "survivors": left,
                "exit_code": bench.returncode, "printed_result": printed}
    finally:
        if bench.poll() is None:
            bench.kill()
            bench.wait()
        procs.kill_session(bench.pid)


def main() -> int:
    results = [kill_mid_job("benchmark"), kill_mid_job("driver")]
    ok = all(r["ok"] for r in results)
    print(json.dumps({"self_test": "pass" if ok else "fail",
                      "cases": results}))
    return 0 if ok else 1
