"""Benchmark of the production extraction path.

Usage, from the repository root::

    python3 perfbench/run.py --workload extract_batch --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Each run starts its Spark work in child processes, each in a session
of its own, at ``local[N]`` with N = the CPUs this process may use and
2 x N extraction bins.  Children are killed and reaped on exit,
timeout, exception, SIGTERM or SIGINT, and a run counts as failed if
any of their processes outlives its child.  Generated inputs are cached
under ``.perfbench/cache``; per-run output, shuffle and event-log files
live under ``.perfbench/run-<pid>`` and are removed afterwards.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Detail goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procs  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("extract_batch", "extract_dense")
DEADLINE_S = 170.0  # every run ends within this, children included
SHM_LOCAL = "/dev/shm/spark-local"  # build_session creates it
REQUIRED = ("ai_pdf_ocr_spark/engine/checkpoint.py",
            "tests/oracle.py")


class Bench:
    def __init__(self, args):
        self.args = args
        self.base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(self.base, "cache")
        self.run_dir = os.path.join(self.base, f"run-{os.getpid()}")
        self.deadline = time.monotonic() + DEADLINE_S
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def env(self, events: str | None) -> dict:
        conf = ["--conf", "spark.ui.showConsoleProgress=false",
                "--conf", "spark.sql.warehouse.dir="
                + os.path.join(self.run_dir, "warehouse"),
                "--driver-java-options",
                "-Djava.io.tmpdir=" + os.path.join(self.run_dir, "tmp")]
        if events:
            conf += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", "spark.eventLog.compress=false",
                     "--conf", "spark.eventLog.dir=file://" + events]
        env = dict(os.environ)
        env.update({
            # workers import the package whatever their cwd
            "PYTHONPATH": os.pathsep.join(
                filter(None, (ROOT, env.get("PYTHONPATH")))),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "local"),
            "TMPDIR": os.path.join(self.run_dir, "tmp"),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "PYSPARK_SUBMIT_ARGS": shlex.join(conf + ["pyspark-shell"]),
            # the launcher and driver JVMs would otherwise each leave an
            # hsperfdata file in the system temp directory
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "SPARK_SUBMIT_OPTS": "-XX:-UsePerfData",
        })
        return env

    def child(self, name: str, argv: list[str], events: str | None = None
              ) -> dict | None:
        """Run one child process to completion; its JSON output, or
        None if it failed.  Leaked processes count as a failure."""
        out = os.path.join(self.run_dir, f"{name}.json")
        cwd = os.path.join(self.run_dir, "cwd")
        for d in ("tmp", "local", "cwd"):
            os.makedirs(os.path.join(self.run_dir, d), exist_ok=True)
        rc, survivors = procs.run_child(
            [sys.executable, *argv, "--out", out],
            timeout_s=max(1.0, self.deadline - time.monotonic()),
            env=self.env(events), cwd=cwd, stdout=sys.stderr)
        self.attempted += 1
        if survivors:
            self.failed += 1
            self.errors.append(f"{name}: {survivors} processes outlived it")
            return None
        if rc != 0 or not os.path.exists(out):
            self.failed += 1
            self.errors.append(f"{name}: exit code {rc}")
            return None
        with open(out) as f:
            return json.load(f)

    def worker(self, name: str, events: str | None = None) -> dict | None:
        a = self.args
        argv = [os.path.join(HERE, "worker.py"), "--run-dir",
                os.path.join(self.run_dir, name), "--cache", self.cache,
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", "1" if events else "0"]
        os.makedirs(os.path.join(self.run_dir, name))
        r = self.child(name, argv + ["--t0", repr(time.time())], events)
        if r is not None:
            self.attempted += r["attempted"]
            self.failed += r["failed"]
            self.errors += r["errors"]
        return r

    def end_to_end(self) -> dict | None:
        main = self.worker("main")
        if main is None or not main["op_docs"]:
            return None
        op = main["op_s"]
        per_op_docs = main["op_docs"] / len(op)
        print(json.dumps({"job_s": stats.tail(op), "job_s_samples": op,
                          "cold_job_s": main["cold_job_s"]}), file=sys.stderr)
        job_s = statistics.median(op)
        return {
            "setup_s": (main["setup_s"], "s"),
            "job_s": (job_s, "s"),
            "docs_per_s": (per_op_docs / job_s, "docs/s"),
            "cpu_s_per_kdoc": (main["op_cpu_s"] * 1000.0 / main["op_docs"],
                               "cpu-s/kdoc"),
            "peak_worker_rss_mb": (main["peak_worker_rss_mb"], "MB"),
        }

    def per_layer(self) -> dict | None:
        plain = self.worker("untraced")
        events = os.path.join(self.run_dir, "events")
        os.makedirs(events)
        traced = self.worker("traced", events=events)
        if plain is None or traced is None:
            return None
        replay = self.child("replay", [
            os.path.join(HERE, "replay.py"), "--input", traced["input"]])
        if replay is None:
            return None
        logs = [os.path.join(events, f) for f in os.listdir(events)]
        spark = eventlog.summarize(eventlog.read(logs[0]), traced["windows"])
        job_s = _median(traced["op_s"])
        layers = {**replay, **spark, **traced["layers"]}
        layers.update({
            "partitioning.assign_s": _median(traced["assign_s"]),
            "checkpoint.lineage_s": _median(traced["lineage_s"]),
            "pipeline.cold_job_s": plain["cold_job_s"],
            "trace.job_s": job_s,
            "trace.overhead_s": job_s - _median(plain["op_s"]),
        })
        return {k: (v, UNITS[k]) for k, v in layers.items()}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


UNITS = {
    "kernel.decode.cpu_s": "s", "kernel.decode.spans": "count",
    "kernel.decode.malformed": "count",
    "kernel.layout.fast.cpu_s": "s", "kernel.layout.fast.pages": "count",
    "kernel.layout.dense.cpu_s": "s", "kernel.layout.dense.pages": "count",
    "kernel.layout.dense.max_blocks": "count",
    "kernel.replay_peak_rss_mb": "MB",
    "kernel.extract.cpu_s": "s", "kernel.extract.self_cpu_s": "s",
    "kernel.extract.docs": "count", "kernel.extract.spans_in": "count",
    "kernel.extract.spans_out": "count",
    "kernel.extract.merged_away": "count",
    "kernel.extract.dedup_removed": "count",
    "kernel.extract.filtered": "count",
    "pipeline.run_s": "s", "pipeline.jvm_cpu_s": "s",
    "pipeline.python_run_s": "s", "pipeline.python_init_s": "s",
    "pipeline.bytes_to_python": "bytes",
    "pipeline.bytes_from_python": "bytes",
    "pipeline.gc_s": "s", "pipeline.spill_bytes": "bytes",
    "pipeline.cold_job_s": "s",
    "partitioning.assign_s": "s", "partitioning.bin_skew": "ratio",
    "partitioning.task_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "checkpoint.plan_s": "s", "checkpoint.lineage_s": "s",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "io.write_amplification": "ratio",
    "trace.job_s": "s", "trace.overhead_s": "s",
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="kill a run mid-job and check nothing survives")
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED if not os.path.exists(
        os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program sources missing: {missing}",
              file=sys.stderr)
        return 2
    if args.self_test:
        import selftest
        return selftest.main()
    if args.workload is None:
        p.error("--workload is required")

    procs.raise_on_signals()
    bench = Bench(args)
    shm_existed = os.path.isdir(SHM_LOCAL)
    try:
        os.makedirs(bench.run_dir)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    except procs.Interrupted as e:
        print(f"perfbench: interrupted ({e})", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
        if not shm_existed:
            try:
                os.rmdir(SHM_LOCAL)
            except OSError:
                pass
    for e in bench.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    correct = metrics is not None and bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed if bench.attempted else 1,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in (metrics or {}).items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
