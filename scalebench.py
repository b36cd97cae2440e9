#!/usr/bin/env python
"""Scaling efficiency of the production extraction path, N -> 4N cores
(north rule: >= 0.8).  ``python scalebench.py [--update-baseline]``

N is a quarter of the cores this process may use, 4N four times N.
Each level runs in a fresh ``local[k]`` subprocess that first pins
itself to k cores, so the JVM and its Python workers inherit the mask
(unpinned, ``local[1]`` borrows idle cores: 1.4 CPU-s per wall-s on a
4-vCPU box).  Levels alternate N, 4N, 4N, N, ... over ``PAIRS`` pairs;
each worker reports its best ``run_extraction`` (write and lineage
included) with the process-tree CPU it took.  Two efficiencies:

 - wall: (docs/s at 4N / docs/s at N) / 4, the north-rule figure;
 - work: docs per CPU-s at 4N / at N.  Near 1, the engine spends the
   same CPU per doc at both levels and a wall gap is cores the machine
   did not deliver; below 1, the engine does more work per doc at 4N.

The last stdout line is one JSON record; ``--update-baseline`` rewrites
BASELINE.md's scaling section from it.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from statistics import median

from ai_pdf_ocr_spark.engine.session import build_session
from bench import corpus
from perfbench.procs import run_child, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS_PER_CORE = 4000
PAIRS = 3
MAX_WARM = 4
MEASURE_RUNS = 4
WORKER_TIMEOUT_S = 900
TARGET = 0.8
SECTION = "## Measured scaling (this engine)"


def levels(cores: set[int]) -> tuple[int, int]:
    """(N, 4N) for an affinity set of cores; N is a quarter of them."""
    n = len(cores) // 4
    if n < 1:
        raise SystemExit(f"scalebench needs at least 4 cores to compare "
                         f"N with 4N; this process may use {len(cores)}")
    return n, 4 * n


def _measure(run_once, max_warm: int, measure_runs: int):
    """Warm until two consecutive runs are within 10 % (at most
    ``max_warm`` runs), then run ``measure_runs`` more.  Every run
    samples the same job, so the best is the min-wall tuple over all of
    them, warm-up included.  ``run_once`` returns (wall_s, *payload).
    Returns (best, warm-up runs)."""
    runs: list[tuple] = [run_once()]
    while len(runs) < max_warm:
        runs.append(run_once())
        if abs(runs[-1][0] / runs[-2][0] - 1) < 0.10:
            break
    warms = len(runs)
    runs += [run_once() for _ in range(measure_runs)]
    return min(runs, key=lambda r: r[0]), warms


def summarize(n: int, best: dict[int, list[tuple[float, int, float]]]) -> dict:
    """Per-level medians over the workers' best (wall_s, docs, cpu_s)
    runs, and the N -> 4N wall and work efficiencies."""
    rate = {k: median(d / w for w, d, _ in rs) for k, rs in best.items()}
    work = {k: median(d / c for _, d, c in rs) for k, rs in best.items()}
    wall_eff = rate[4 * n] / rate[n] / 4
    return {
        "levels": {k: {"docs_per_s": round(rate[k], 1),
                       "docs_per_cpu_s": round(work[k], 1)} for k in best},
        "wall_efficiency": round(wall_eff, 3),
        "work_efficiency": round(work[4 * n] / work[n], 3),
        "target": TARGET,
        "pass": wall_eff >= TARGET,
    }


def worker(k: int, n_docs: int, out_root: str) -> None:
    """One level: pin to k cores, then time warm ``run_extraction``
    jobs in a ``local[k]`` session; print the best run as JSON."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:k])
    from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
    from ai_pdf_ocr_spark.engine.io import TableStore
    from ai_pdf_ocr_spark.engine.sources import read_documents

    spark = build_session(app=f"scalebench-{k}", master=f"local[{k}]")
    spark.sparkContext.setLogLevel("ERROR")
    path = corpus(n_docs)
    sid, run_ids = os.getsid(0), itertools.count()

    def run_once() -> tuple[float, int, float]:
        run_id = f"run{next(run_ids)}"
        store = TableStore(spark, os.path.join(out_root, run_id))
        cpu0, t0 = tree_cpu_s(sid), time.perf_counter()
        # two bins per core: submit_job.py's default
        s = run_extraction(spark, read_documents(spark, path), store,
                           run_id, 2 * k)
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(sid) - cpu0
        shutil.rmtree(store.root)
        if s["docs_processed"] != n_docs:
            raise RuntimeError(f"extracted {s['docs_processed']} of {n_docs}")
        return wall, n_docs, cpu

    best, warms = _measure(run_once, MAX_WARM, MEASURE_RUNS)
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        jvm_cpus = next(ln.split()[1] for ln in f
                        if ln.startswith("Cpus_allowed_list:"))
    print(json.dumps({"level": k, "best": best, "warmup_runs": warms,
                      "jvm_cpus": jvm_cpus}))
    spark.stop()


def _run_worker(k: int, n_docs: int, tmp: str) -> dict:
    out = os.path.join(tmp, f"worker-{k}.out")
    with open(out, "w") as f:
        rc, _ = run_child([sys.executable, os.path.abspath(__file__),
                           "--worker", str(k), str(n_docs), tmp],
                          WORKER_TIMEOUT_S, cwd=HERE, stdout=f)
    with open(out) as f:
        lines = [ln for ln in f if ln.startswith("{")]
    if rc != 0 or not lines:
        raise SystemExit(f"worker local[{k}] failed (exit {rc})")
    return json.loads(lines[-1])


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        return worker(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
    t0 = time.monotonic()
    affinity = os.sched_getaffinity(0)
    n, n4 = levels(affinity)
    cores = len(affinity)
    n_docs = DOCS_PER_CORE * cores
    corpus(n_docs)

    recs: dict[int, list[dict]] = {n: [], n4: []}
    with tempfile.TemporaryDirectory(prefix="scalebench-") as tmp:
        for i in range(PAIRS):
            for k in (n, n4) if i % 2 == 0 else (n4, n):
                recs[k].append(_run_worker(k, n_docs, tmp))
    s = summarize(n, {k: [tuple(r["best"]) for r in rs]
                      for k, rs in recs.items()})
    for k, lv in s["levels"].items():
        lv["jvm_cpus"] = sorted({r["jvm_cpus"] for r in recs[k]})
    record = {"metric": f"extraction scaling, pinned local[{n}] -> "
                        f"local[{n4}]", "cores": cores, "n_docs": n_docs,
              "pairs": PAIRS, **s, "total_s": round(time.monotonic() - t0, 1)}
    print(json.dumps(record, separators=(",", ":")))
    if "--update-baseline" in sys.argv:
        _update_baseline(record)


def _update_baseline(r: dict) -> None:
    """Rewrite BASELINE.md's scaling section, up to the next "## "."""
    path = os.path.join(HERE, "BASELINE.md")
    with open(path) as f:
        text = f.read()
    rows = "\n".join(f"| local[{k}] | {lv['docs_per_s']} | "
                     f"{lv['docs_per_cpu_s']} | {', '.join(lv['jvm_cpus'])} |"
                     for k, lv in r["levels"].items())
    block = f"""{SECTION}

Generated by `python scalebench.py --update-baseline`: `run_extraction`
(write and lineage included) on {r['n_docs']} synthetic interleaved docs,
each level a fresh `local[k]` process pinned to k of {r['cores']} cores,
{r['pairs']} alternating pairs.  Per level, the median over workers of
each worker's best run; CPU is the worker's whole process tree.

| level | docs/s | docs per CPU-s | JVM's allowed cores |
|---|---|---|---|
{rows}

Wall efficiency **{r['wall_efficiency']}** (target >= {r['target']}:
{'PASS' if r['pass'] else 'FAIL'}); work efficiency
**{r['work_efficiency']}**; whole capture {r['total_s']} s.
"""
    idx = text.index(SECTION)
    end = text.find("\n## ", idx + 1)
    with open(path, "w") as f:
        f.write(text[:idx] + block + (text[end:] if end != -1 else ""))


if __name__ == "__main__":
    main()
