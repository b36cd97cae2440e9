"""One benchmark run inside a fresh process (started by run.py in a
session of its own): Spark session set-up, one workload, correctness
checks outside the timed region, and teardown that leaves no JVM or
Python worker behind.  Writes one JSON document to ``--out``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import procs  # noqa: E402

# corpus size, and documents checked against the oracle, per workload
DOCS = {"extract_batch": 4000, "extract_dense": 12}
ORACLE_SAMPLE = {"extract_batch": 48, "extract_dense": 2}
WARMUP_JOBS = 2


class Run:
    """Counters and samples of one workload run."""

    def __init__(self, spark, args, trace: bool):
        self.spark, self.args, self.trace = spark, args, trace
        self.sid = os.getsid(0)
        self.bins = 2 * spark.sparkContext.defaultParallelism
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.cold_s = None
        self.op_s: list[float] = []
        self.op_docs = 0
        self.op_cpu_s = 0.0
        self.windows: list[tuple[float, float]] = []  # epoch-ms per op
        self.layers: dict[str, float] = {}
        # trace mode only
        self.marks: list[float] = []  # data write returned
        self.lineage_s: list[float] = []
        self.assign_s: list[float] = []

    def check(self, ok: bool, what: str) -> None:
        """One attempted op; a failed one counts and is reported."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def timed(self, sampler, fn):
        """Run one warm op; record wall, process-tree CPU, window."""
        cpu0 = procs.tree_cpu_s(self.sid)
        w0 = time.time()
        sampler.active.set()
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        sampler.active.clear()
        if self.trace and self.marks:
            self.lineage_s.append(t1 - self.marks[-1])
        self.windows.append((w0 * 1000.0, time.time() * 1000.0))
        self.op_cpu_s += procs.tree_cpu_s(self.sid) - cpu0
        self.op_s.append(t1 - t0)
        return out


def _install_probes(run: Run) -> None:
    """Trace mode: record when the extracted data write returned, so
    lineage time = job end minus that mark, and time each weight-profile
    assignment.  Wraps the names ``run_extraction`` looks up at call
    time; the package itself is unchanged."""
    from ai_pdf_ocr_spark.engine import checkpoint, io

    orig_write = io.TableStore.write_extracted

    def write_extracted(self, *a, **kw):
        orig_write(self, *a, **kw)
        run.marks.append(time.perf_counter())

    io.TableStore.write_extracted = write_extracted

    orig_assign = checkpoint.compute_assignment

    def compute_assignment(*a, **kw):
        t0 = time.perf_counter()
        out = orig_assign(*a, **kw)
        run.assign_s.append(time.perf_counter() - t0)
        return out

    checkpoint.compute_assignment = compute_assignment


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _oracle_check(run: Run, committed, docs: list[dict]) -> None:
    """Committed spans of ``docs`` must equal tests/oracle.py's."""
    from pyspark.sql import functions as F
    from tests import oracle

    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
           for r in committed.where(F.col("doc_id").isin(
               [d["doc_id"] for d in docs])).select("doc_id", "spans")
           .collect()}
    for d in docs:
        run.check(got.get(d["doc_id"]) == oracle.extract_document(d["spans"]),
                  f"oracle mismatch on {d['doc_id']}")


def extraction(run: Run, sampler, input_path: str) -> None:
    """A cold job, untimed warm-up jobs, then timed ``run_extraction``
    jobs over one input for ``--seconds``, each into a fresh table
    store; then a no-op resume of the last job and the correctness
    checks, all untimed."""
    from pyspark.sql import functions as F

    from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
    from ai_pdf_ocr_spark.engine.io import TableStore
    from ai_pdf_ocr_spark.engine.sources import read_documents

    spark, args = run.spark, run.args
    n_docs, n_spans = corpus.totals(input_path)

    def job(i: int, path: str = input_path):
        store = TableStore(spark, os.path.join(args.run_dir, f"out{i}"))
        return store, lambda: run_extraction(
            spark, read_documents(spark, path), store, f"job{i}", run.bins)

    # cold job: the first in this JVM, on one input file — its cost is
    # mostly first-time work (Python workers, JIT), not documents
    first = os.path.join(input_path, sorted(os.listdir(input_path))[0])
    store, fn = job(0, first)
    t0 = time.perf_counter()
    s = fn()
    run.cold_s = time.perf_counter() - t0
    run.check(s["docs_processed"] == corpus.totals(first)[0],
              "cold job doc count")
    # untimed warm-up jobs: job times still fall by ~10 % over the
    # first few full jobs as the JIT and the workers' caches settle
    for k in range(1, 1 + WARMUP_JOBS):
        shutil.rmtree(store.root)
        store, fn = job(-k)
        run.check(fn()["docs_processed"] == n_docs, "warm-up job doc count")

    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        i += 1
        shutil.rmtree(store.root, ignore_errors=True)
        store, fn = job(i)
        s = run.timed(sampler, fn)
        run.op_docs += s["docs_processed"]
        run.check(s["docs_processed"] == n_docs, f"job{i} doc count")
        if time.perf_counter() >= deadline:
            break

    # resuming a completed run must plan nothing and process nothing
    t0 = time.perf_counter()
    noop = run_extraction(spark, read_documents(spark, input_path), store,
                          f"job{i}", run.bins)
    plan_s = time.perf_counter() - t0
    run.check(noop["docs_processed"] == 0 and not noop["bins_processed"],
              "resume of a completed run was not a no-op")

    committed = store.read_extracted()
    row = committed.agg(F.count("*").alias("n"),
                        F.sum("span_count_in").alias("spans")).first()
    run.check(row.n == n_docs, "committed doc count")
    run.check(row.spans == n_spans, "committed span_count_in total")
    lineage = (store.read_checkpoint().where(F.col("run_id") == f"job{i}")
               .select("bin", "doc_count", "span_count_in").collect())
    run.check(sum(r.doc_count for r in lineage) == n_docs,
              "lineage doc_count total")
    _oracle_check(run, committed, corpus.sample(
        input_path, ORACLE_SAMPLE[args.workload], args.seed))

    if run.trace:
        weights = [r.span_count_in for r in lineage]
        written, files = _dir_bytes(store.root)
        run.layers.update({
            "checkpoint.plan_s": plan_s,
            "partitioning.bin_skew": max(weights) / (sum(weights) / len(weights)),
            "io.bytes_written": written,
            "io.files_written": files,
            "io.write_amplification": written / _dir_bytes(input_path)[0],
        })


def teardown(spark) -> None:
    """Stop Spark and make the JVM exit: ``spark.stop()`` alone leaves
    the ``java`` child running; it exits once its gateway is shut down
    and its stdin (the liveness pipe PySpark gives it) is closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            jvm = gateway.proc
            gateway.shutdown()
            jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
    # the JVM's Python workers exit once it is gone; wait for them
    sid, me = os.getsid(0), os.getpid()
    deadline = time.monotonic() + 10
    while procs.session_pids(sid) != [me] and time.monotonic() < deadline:
        time.sleep(0.05)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(DOCS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--cache", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="time.time() when the parent started this process")
    args = p.parse_args(argv)

    from ai_pdf_ocr_spark.engine.session import build_session

    # generating inputs is not set-up a user of the engine pays: take
    # it out of setup_s, which otherwise runs from process start
    t = time.time()
    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    cache = corpus.Cache(args.cache)
    build = (cache.standard if args.workload == "extract_batch"
             else cache.dense)
    input_path = build(args.seed, DOCS[args.workload], 2 * nproc)
    prep_s = time.time() - t

    spark = build_session(app=f"perfbench-{args.workload}",
                          master=f"local[{nproc}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).count()
        setup_s = time.time() - args.t0 - prep_s
        run = Run(spark, args, bool(args.trace))
        if run.trace:
            _install_probes(run)
        with procs.WorkerRssSampler(run.sid, os.getpid()) as sampler:
            try:
                extraction(run, sampler, input_path)
            except Exception as e:  # counted, reported, run fails
                run.check(False, f"{type(e).__name__}: {e}")
    finally:
        teardown(spark)
    with open(args.out, "w") as f:
        json.dump({
            "setup_s": setup_s,
            "cold_job_s": run.cold_s,
            "op_s": run.op_s,
            "op_docs": run.op_docs,
            "op_cpu_s": run.op_cpu_s,
            "peak_worker_rss_mb": sampler.peak_mb,
            "input": input_path,
            "attempted": run.attempted,
            "failed": run.failed,
            "errors": run.errors[:20],
            "windows": run.windows,
            "layers": run.layers,
            "lineage_s": run.lineage_s,
            "assign_s": run.assign_s,
        }, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
