"""Spark's own per-stage metrics, read offline from an uncompressed
event log (``spark.eventLog.compress=false``; the default codec,
zstd, would need the ``zstandard`` module).  Python-side wall time
around a lazy write says nothing about which Spark layer spent it, so
Spark layers are attributed from these stage metrics only.

Scope: the stages of jobs submitted inside one of the timed op windows
(epoch milliseconds).  Every figure is per op: summed over the scoped
stages, divided by the number of ops.

The extraction stage is the one carrying the ``mapInArrow`` node's
Python metrics ("data sent to Python workers" ...).  Its metrics mean:

- ``run_s``: executor run time of its tasks (task wall time, summed).
- ``jvm_cpu_s``: JVM CPU time of those tasks: shuffle read, Arrow
  conversion, parquet write; the Python workers' CPU is not in it.
- ``python_run_s``: "time to run Python workers", time the task spent
  with batches inside Python, which includes waiting for input.
- ``python_init_s``: "time to initialize Python workers"; it overlaps
  input wait, so it can exceed the stage's own run time.
"""

from __future__ import annotations

import json
import os
import statistics

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"


def read(path: str) -> list[dict]:
    """Events of one application: a plain event-log file, or a rolling
    event-log directory (its ``events_<n>_*`` files in order)."""
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def summarize(events: list[dict], windows: list[tuple[float, float]]
              ) -> dict[str, float]:
    n_ops = max(1, len(windows))
    stages: set[int] = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and any(
                lo <= e["Submission Time"] <= hi for lo, hi in windows):
            stages.update(e["Stage IDs"])

    acc: dict[int, dict[str, float]] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] in stages and "Failure Reason" not in si:
                acc[si["Stage ID"]] = _acc(si)
    py = {s for s, a in acc.items() if PY_SENT in a}

    task_run: dict[int, list[float]] = {s: [] for s in py}
    for e in events:
        if (e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in py
                and e.get("Task Metrics")):
            task_run[e["Stage ID"]].append(
                e["Task Metrics"]["Executor Run Time"])

    def total(name: str, among=None) -> float:
        return sum(acc[s].get(name, 0.0) for s in (acc if among is None
                                                   else among)) / n_ops

    skews = [max(t) / statistics.median(t) for t in task_run.values()
             if t and statistics.median(t) > 0]
    im = "internal.metrics."
    return {
        "pipeline.run_s": total(im + "executorRunTime", py) / 1e3,
        "pipeline.jvm_cpu_s": total(im + "executorCpuTime", py) / 1e9,
        "pipeline.python_run_s": total(PY_RUN, py) / 1e3,
        "pipeline.python_init_s": total(PY_INIT, py) / 1e3,
        "pipeline.bytes_to_python": total(PY_SENT, py),
        "pipeline.bytes_from_python": total(PY_RECV, py),
        "pipeline.gc_s": total(im + "jvmGCTime") / 1e3,
        "pipeline.spill_bytes": total(im + "memoryBytesSpilled")
        + total(im + "diskBytesSpilled"),
        "partitioning.task_skew": statistics.mean(skews) if skews else 0.0,
        "shuffle.write_bytes": total(im + "shuffle.write.bytesWritten"),
        "shuffle.read_bytes": total(im + "shuffle.read.localBytesRead")
        + total(im + "shuffle.read.remoteBytesRead"),
    }
