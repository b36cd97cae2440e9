"""The extraction pipeline as one fused Arrow stage.

Spark re-expression of the reference's per-document flow (SURVEY.md
§3 EP1): ``read -> weighted repartition -> mapInArrow(extract) ->
write``.  Decode + layout + dedupe + filters are fused into a single
``mapInArrow`` so the heavy span payloads cross the JVM<->Arrow
boundary exactly once; the partition column ``bin`` rides through the
same stage unchanged (the reference's analog: lazy one-time model init
+ page-at-a-time streaming, /root/reference/ocr_processor.py:47-59,
/root/reference/main.py:197-280).

Every Python task function in the package starts with
``drop_zip_finders()``.  PySpark's worker calls
``importlib.invalidate_caches()`` before each task, and on Python 3.11
that makes every cached ``zipimporter`` re-parse its archive's whole
directory in pure Python: 16 finders over pyspark.zip's 1,328 entries,
~0.3 CPU-s per task, more than the kernel spends on a dense task.
Dropped finders are rebuilt on demand from zipimport's directory cache,
so the next task's invalidation has nothing to re-read.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.extract import extract_record_batch
from . import schemas
from .partitioning import weighted_repartition


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` entries of ``sys.path_importer_cache``
    (see the module docstring); loaded modules keep their loaders, and
    a later import from a zip gets a fresh finder without a re-parse."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


def _extract_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    drop_zip_finders()
    # iterator form: per-task setup happens once, then Arrow batches
    # stream through with bounded memory (S3 streaming analog,
    # /root/reference/pdf_processor.py:63-83).  Input columns after
    # (doc_id, spans) — ``bin`` — are appended to the output unchanged.
    for rb in batches:
        if rb.num_rows:
            out = extract_record_batch(rb)
            for i in range(2, rb.num_columns):
                out = out.append_column(rb.schema.field(i), rb.column(i))
            yield out


def _extract(df: DataFrame, schema) -> DataFrame:
    # mapInArrow, not mapInPandas: the nested spans column stays Arrow
    # end-to-end (zero-copy flatten in, offsets+flat-arrays out); the
    # pandas list<struct> marshaling measured ~5x the kernel compute.
    # Callers prune to the needed columns first — UDFs are pruning
    # barriers (SURVEY.md §4).
    return df.mapInArrow(_extract_iter, schema=schema)


def extract_documents(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> EXTRACTED rows (spans + metrics)."""
    return _extract(df.select("doc_id", "spans"), schemas.EXTRACTED)


def extract_binned(docs: DataFrame, assignment: dict[int, int],
                   num_partitions: int,
                   skip: frozenset[int] = frozenset()) -> DataFrame:
    """documents -> EXTRACTED rows plus ``bin``: the batch and streaming
    core.  Weighted repartition by ``assignment``, minus the ``skip``
    bins (already committed), then the fused extraction, which carries
    ``bin`` through."""
    part = weighted_repartition(docs, num_partitions, assignment)
    if skip:
        part = part.where(~F.col("bin").isin(*skip))
    return _extract(part.select("doc_id", "spans", "bin"),
                    schemas.EXTRACTED_BINNED)


def extracted_spans_flat(extracted: DataFrame) -> DataFrame:
    """Explode to one row per output span, preserving array position."""
    return extracted.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("order"),
    )


def doc_stats(extracted: DataFrame) -> DataFrame:
    """Per-document summary (A1-A8 analog, pure built-in expressions —
    no UDF): ordered text concat via array HOFs (order-preserving, no
    shuffle), counts, media tally."""
    spans = F.col("spans")
    text_spans = F.filter(spans, lambda s: s.kind == F.lit("text"))
    return extracted.select(
        "doc_id",
        F.size(spans).alias("n_spans"),
        F.size(text_spans).alias("n_text_spans"),
        (F.size(spans) - F.size(text_spans)).alias("n_media_spans"),
        F.concat_ws(" ", F.transform(text_spans, lambda s: s.text))
         .alias("document_text"),
        F.length(F.concat_ws(" ", F.transform(text_spans, lambda s: s.text)))
         .alias("document_length"),
        "span_count_in", "malformed", "merged_away",
        "dedup_removed", "filtered",
    )


def documents_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    """Generator output (``make_documents`` dicts) as a documents
    ``LocalRelation``, built through Arrow (tests, tools)."""
    return schemas.local_frame(spark, docs, schemas.DOCUMENTS)
