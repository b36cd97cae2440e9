"""Checkpointed, resumable extraction runs.

Mirrors the reference's checkpoint-exists short-circuit
(``/root/reference/main.py:368-398``: JSON checkpoint written at
``:418``, resume skips OCR at ``:429-430``) at partition granularity:

 - bins are a deterministic pure function of (corpus, P, buckets)
   (see partitioning.py), so a rerun reproduces identical bins;
 - extracted output is written with dynamic partition overwrite, so a
   partially-written bin from a killed run is cleanly replaced;
 - a checkpoint row (lineage + span-count metrics, FIXTURES.md §3) is
   appended per bin only after the data write committed — resume skips
   exactly the bins with a 'done' row (anti-join semantics, J4).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.extract import KERNEL_VERSION
from .io import TableStore
from .partitioning import DEFAULT_BUCKETS, compute_assignment
from .pipeline import extract_binned


def lineage_rows(committed: DataFrame, run_id: str,
                 wall_time_s: float) -> DataFrame:
    """CHECKPOINT-shaped lineage + span-count metrics, one 'done' row
    per bin present in ``committed`` (EXTRACTED rows plus ``bin``)."""
    return (
        committed.groupBy("bin")
        .agg(F.min("doc_id").alias("doc_id_min"),
             F.max("doc_id").alias("doc_id_max"),
             F.count("*").alias("doc_count"),
             F.sum("span_count_in").alias("span_count_in"),
             F.sum("span_count_out").alias("span_count_out"),
             F.sum("dedup_removed").alias("dedup_removed"))
        .select(F.lit(run_id).alias("run_id"), "bin", "doc_id_min",
                "doc_id_max", "doc_count", "span_count_in",
                "span_count_out", "dedup_removed",
                F.lit(KERNEL_VERSION).alias("kernel_version"),
                F.lit(float(wall_time_s)).alias("wall_time_s"),
                F.lit("done").alias("status"))
    )


def run_extraction(spark: SparkSession, documents: DataFrame,
                   store: TableStore, run_id: str,
                   num_partitions: int,
                   buckets: int = DEFAULT_BUCKETS) -> dict:
    """Run (or resume) one extraction job; returns a summary dict."""
    t0 = time.monotonic()

    ckpt = store.read_checkpoint()
    done = {
        r.bin for r in
        ckpt.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bin").distinct().collect()
    }
    target_bins = sorted(set(range(num_partitions)) - done)
    if not target_bins:
        return {"run_id": run_id, "bins_done_prior": sorted(done),
                "bins_processed": [], "docs_processed": 0,
                "wall_time_s": time.monotonic() - t0}

    # deterministic bins MUST be derived from the full corpus (resume
    # filtering happens after) so reruns reproduce identical layout
    assignment = compute_assignment(documents, num_partitions, buckets)
    extracted = extract_binned(documents, assignment, num_partitions,
                               buckets, skip=frozenset(done))
    store.write_extracted(extracted, mode="overwrite")
    wall = time.monotonic() - t0

    # lineage + metrics per bin, derived from the committed output
    new = lineage_rows(
        store.read_extracted().where(F.col("bin").isin(*target_bins)),
        run_id, wall)
    rows = new.collect()
    docs_processed = sum(r.doc_count for r in rows)
    # bins that received zero docs still get a 'done' row so resume
    # never retargets them
    empty_bins = set(target_bins) - {r.bin for r in rows}
    if empty_bins:
        zeros = spark.createDataFrame(
            [(run_id, b, None, None, 0, 0, 0, 0, KERNEL_VERSION,
              float(wall), "done") for b in sorted(empty_bins)],
            schema=new.schema)
        new = new.unionByName(zeros)
    store.append_checkpoint(new)
    return {"run_id": run_id, "bins_done_prior": sorted(done),
            "bins_processed": target_bins,
            "docs_processed": docs_processed, "wall_time_s": wall}
