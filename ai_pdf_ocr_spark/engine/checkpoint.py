"""Checkpointed, resumable extraction runs.

Mirrors the reference's checkpoint-exists short-circuit
(``/root/reference/main.py:368-398``: JSON checkpoint written at
``:418``, resume skips OCR at ``:429-430``) at partition granularity:

 - bins are a deterministic pure function of (corpus, P)
   (see partitioning.py), so a rerun reproduces identical bins;
 - extracted output is written with dynamic partition overwrite, so a
   partially-written bin from a killed run is cleanly replaced;
 - a checkpoint row (lineage + span-count metrics, FIXTURES.md §3) is
   appended per bin only after the data write committed — resume skips
   exactly the bins with a 'done' row (anti-join semantics, J4).
"""

from __future__ import annotations

import time
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.extract import KERNEL_VERSION
from .io import TableStore
from .partitioning import compute_assignment
from .pipeline import extract_binned
from .schemas import CHECKPOINT, local_frame

_EMPTY_BIN = {"doc_id_min": None, "doc_id_max": None, "doc_count": 0,
              "span_count_in": 0, "span_count_out": 0, "dedup_removed": 0}


def commit_lineage(store: TableStore, committed: DataFrame, run_id: str,
                   wall_time_s: float, bins: Iterable[int] = ()) -> int:
    """Append CHECKPOINT lineage + span-count metrics: one 'done' row
    per bin present in ``committed`` (EXTRACTED rows plus ``bin``), and
    a zero row for each of ``bins`` that received no docs, so resume
    never retargets it.  The per-bin aggregate (<= P rows) is collected
    once and appended as a local frame.  Returns the docs committed."""
    agg = {
        r.bin: r.asDict() for r in
        committed.groupBy("bin")
        .agg(F.min("doc_id").alias("doc_id_min"),
             F.max("doc_id").alias("doc_id_max"),
             F.count("*").alias("doc_count"),
             F.sum("span_count_in").alias("span_count_in"),
             F.sum("span_count_out").alias("span_count_out"),
             F.sum("dedup_removed").alias("dedup_removed"))
        .collect()
    }
    rows = [{**_EMPTY_BIN, **agg.get(b, {}), "run_id": run_id, "bin": b,
             "kernel_version": KERNEL_VERSION,
             "wall_time_s": float(wall_time_s), "status": "done"}
            for b in sorted(set(agg) | set(bins))]
    store.append_checkpoint(local_frame(store.spark, rows, CHECKPOINT))
    return sum(r["doc_count"] for r in rows)


def run_extraction(spark: SparkSession, documents: DataFrame,
                   store: TableStore, run_id: str,
                   num_partitions: int) -> dict:
    """Run (or resume) one extraction job; returns a summary dict."""
    t0 = time.monotonic()

    done = {
        r.bin for r in store.read_checkpoint()
        .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bin").collect()
    }
    target_bins = sorted(set(range(num_partitions)) - done)
    if not target_bins:
        return {"run_id": run_id, "bins_done_prior": sorted(done),
                "bins_processed": [], "docs_processed": 0,
                "wall_time_s": time.monotonic() - t0}

    # deterministic bins MUST be derived from the full corpus (resume
    # filtering happens after) so reruns reproduce identical layout
    assignment = compute_assignment(documents, num_partitions)
    extracted = extract_binned(documents, assignment, num_partitions,
                               skip=frozenset(done))
    store.write_extracted(extracted)
    wall = time.monotonic() - t0

    # lineage + metrics per bin, derived from the committed output
    docs_processed = commit_lineage(
        store,
        store.read_extracted().where(F.col("bin").isin(*target_bins)),
        run_id, wall, target_bins)
    return {"run_id": run_id, "bins_done_prior": sorted(done),
            "bins_processed": target_bins,
            "docs_processed": docs_processed, "wall_time_s": wall}
