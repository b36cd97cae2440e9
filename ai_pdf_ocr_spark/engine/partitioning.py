"""Salted, span-count-weighted repartitioning (north_rule requirement).

The reference processes one document and needs no parallelism; at
10^12 docs the UDF-stage compute skew (a few documents with 10-100x the
spans) is the bottleneck AQE cannot fix (AQE skew handling only covers
joins/shuffle reads, not Python-UDF compute, SURVEY.md §4).

Strategy — scale-correct, no global sort/window:
 1. salt  = pmod(xxhash64(doc_id), B) with B = max(4096, 16·P)
    buckets, so every bin gets ~16+ salts to balance at any P
 2. one tiny aggregation computes per-bucket span-count weights
    (<= B rows collected to the driver — constant size regardless of
    corpus size)
 3. driver LPT-packs buckets into P bins by weight (greedy
    longest-processing-time; deterministic: ties broken by salt)
 4. the bin IS the partition id: ``repartitionById(P, bin)`` places
    every bin in exactly its partition — no balls-into-bins
    collisions.
"""

from __future__ import annotations

import heapq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schemas import MAPPING, local_frame


def _salt(num_partitions: int) -> Column:
    buckets = max(4096, 16 * num_partitions)
    return F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int")


def _lpt_pack(weights: list[tuple[int, int]], p: int) -> dict[int, int]:
    """Greedy longest-processing-time bin packing; deterministic.

    weights: [(salt, weight)] -> {salt: bin}."""
    heap = [(0, k) for k in range(p)]  # (load, bin)
    heapq.heapify(heap)
    assignment: dict[int, int] = {}
    for salt, w in sorted(weights, key=lambda t: (-t[1], t[0])):
        load, k = heapq.heappop(heap)
        assignment[salt] = k
        heapq.heappush(heap, (load + w, k))
    return assignment


def compute_assignment(df: DataFrame, num_partitions: int) -> dict[int, int]:
    """salt -> bin map: one tiny aggregation (<= B rows to the driver)
    + deterministic LPT packing.  Pure function of the corpus weight
    profile and P, so resume re-derives identical bins (SURVEY.md §7
    'weighted repartition correctness under resume')."""
    weights = [
        (r.salt, r.w) for r in
        df.groupBy(_salt(num_partitions).alias("salt"))
        .agg(F.sum(F.greatest(F.size("spans"), F.lit(1))).alias("w"))
        .collect()
    ]
    return _lpt_pack(weights, num_partitions)


def weighted_repartition(df: DataFrame, num_partitions: int,
                         assignment: dict[int, int]) -> DataFrame:
    """Repartition documents into P span-count-balanced partitions by
    ``assignment`` (``compute_assignment``'s salt -> bin map), adding a
    deterministic ``bin`` column (0..P-1).

    Partition i receives exactly the docs with bin == i (verified by
    tests/test_pipeline.py).  Rows are sorted by doc_id within each
    partition for deterministic downstream output."""
    # broadcast-joined local frame: a literal ``create_map``/``array``
    # lookup measured slower per row (CLAUDE.md)
    mapping = local_frame(df.sparkSession, [
        {"salt": salt, "bin": b} for salt, b in sorted(assignment.items())],
        MAPPING)
    return (
        df.withColumn("salt", _salt(num_partitions))
        .join(F.broadcast(mapping), "salt", "left").drop("salt")
        .repartitionById(num_partitions, "bin")
        .sortWithinPartitions("doc_id")
    )
