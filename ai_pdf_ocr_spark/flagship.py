"""Flagship extraction queries exposed through the driver contract.

The interleaved-span ``documents`` input (BASELINE.json input_hint) is
not part of the shared testdata, so it is synthesized deterministically
(seed=42, scale keyed to the sf directory) — FIXTURES.md §1.  These are
non-SQL-expressible (order-dependent greedy layout clustering), so the
driver records rows-only checks; exact span-sequence equality vs the
oracle is enforced by tests/test_pipeline.py.
"""

from __future__ import annotations

import os

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .engine import schemas
from .engine.partitioning import compute_assignment
from .engine.pipeline import (doc_stats, drop_zip_finders, extract_binned,
                              extract_documents, extracted_spans_flat)
from .fixtures.generate import nth_document
from .queries import FIXTURE_DIR, INPUT_DIR, fixture_sql, register

_SF_DOCS = {"sf0.001": 200, "sf0.01": 500, "sf0.1": 2000}


def corpus_size(sf_dir: str) -> int:
    return _SF_DOCS.get(os.path.basename(sf_dir.rstrip("/")), 200)


def synthetic_documents(spark: SparkSession, n: int,
                        heavy_tail_frac: float = 0.0) -> DataFrame:
    """``make_documents(n, seed=42, heavy_tail_frac=...)`` generated ON
    THE EXECUTORS: each document is a pure function of its index, so
    ``spark.range(n)`` partitions the work and each Arrow batch of ids
    becomes a batch of documents, with no driver-side list."""
    schema = to_arrow_schema(schemas.DOCUMENTS)

    def gen(batches):
        drop_zip_finders()
        for rb in batches:
            yield pa.RecordBatch.from_pylist(
                [nth_document(i, heavy_tail_frac=heavy_tail_frac)
                 for i in rb.column(0).to_pylist()], schema=schema)

    return spark.range(n).mapInArrow(gen, schema=schemas.DOCUMENTS)


@register("extract_spans", sql=fixture_sql("extract_spans"))
def extract_spans(spark, sf_dir):
    """The flagship pipeline: interleaved raw spans -> reading-ordered
    (kind, text, media_ref, order) spans, exploded to one row per span.

    Greedy layout clustering is not SQL-expressible, so the DuckDB
    oracle reads the expected output materialized by the pure-Python
    reference-parity oracle (tests/oracle.py via gen_fixtures.py) —
    the driver now hash-checks the kernel end-to-end."""
    # Lazy localCheckpoint: the weight profile and the extraction pass
    # share ONE generation (same single-compute pattern as the dedup
    # self-joins).  Bins follow the production core's policy,
    # P = 2 x defaultParallelism, submit_job.py's default.
    docs = (synthetic_documents(spark, corpus_size(sf_dir))
            .localCheckpoint(eager=False))
    parts = 2 * spark.sparkContext.defaultParallelism
    extracted = extract_binned(docs, compute_assignment(docs, parts), parts)
    # no global orderBy: the driver's value-hash compare normalizes row
    # order (VERDICT r2 #4 — keep the presentation sort out of the
    # production path the bench times)
    return extracted_spans_flat(extracted)


@register("extract_doc_stats", sql=fixture_sql("extract_doc_stats"))
def extract_doc_stats(spark, sf_dir):
    """Per-document rollup of the extraction output (A1-A8 analog).
    Oracle: pure-Python pipeline twin incl. the metric counters
    (tests/oracle_sketches.py::extract_doc_rows via gen_fixtures.py)."""
    docs = synthetic_documents(spark, corpus_size(sf_dir))
    return (doc_stats(extract_documents(docs))
            .withColumn("document_text",
                        F.substring("document_text", 1, 64))
            .orderBy("doc_id"))


@register("s1_corpus_probe", sql=f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans, recursive := true)
  FROM read_parquet('{FIXTURE_DIR}/corpus.parquet')
  WHERE _corpus = (SELECT SUM(n_chars) FROM documents)
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN kind = 'raw_text' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_text_spans,
       CAST(SUM(CASE WHEN kind = 'raw_media' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media_spans,
       MAX(TRY_CAST(SPLIT_PART(text, ';', 1) AS BIGINT)) AS max_page,
       CAST(COUNT(DISTINCT media_ref) AS BIGINT) AS n_assets,
       ROUND(COUNT(*) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE), 4)
         AS avg_spans_per_doc
FROM sp
""")
def s1_corpus_probe(spark, sf_dir):
    """S1 metadata probe: cheap corpus-level stats over the RAW spans
    without running extraction — the corpus analog of the reference's
    ``get_pdf_info`` (/root/reference/pdf_processor.py:86-110: page
    count + metadata before any OCR).  Pure built-in expressions; the
    only shuffle is the final 1-row aggregate."""
    docs = synthetic_documents(spark, corpus_size(sf_dir))
    sp = docs.select("doc_id", F.explode("spans").alias("s"))
    page = F.split_part(F.col("s.text"), F.lit(";"),
                        F.lit(1)).try_cast("bigint")
    return sp.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("s.kind") == "raw_text", 1).otherwise(0))
         .cast("long").alias("n_text_spans"),
        F.sum(F.when(F.col("s.kind") == "raw_media", 1).otherwise(0))
         .cast("long").alias("n_media_spans"),
        F.max(page).alias("max_page"),
        F.countDistinct("s.media_ref").cast("long").alias("n_assets"),
        F.round(F.count("*") /
                F.countDistinct("doc_id").cast("double"), 4)
         .alias("avg_spans_per_doc"))


@register("j_media_asset_join", sql=f"""
WITH sp AS (
  SELECT doc_id, UNNEST(spans, recursive := true)
  FROM read_parquet('{FIXTURE_DIR}/corpus.parquet')
  WHERE _corpus = (SELECT SUM(n_chars) FROM documents)
)
SELECT a.mime,
       CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT sp.media_ref) AS BIGINT) AS n_assets,
       CAST(SUM(a.bytes) AS BIGINT) AS total_bytes
FROM sp JOIN read_parquet('{INPUT_DIR}/media_assets.parquet') a
  ON sp.media_ref = a.media_ref
WHERE sp.kind = 'raw_media'
GROUP BY a.mime
""")
def j_media_asset_join(spark, sf_dir):
    """Media-ref -> asset-table equi-join (SURVEY §2.3's optional join;
    reference analog: figure/table crops linked back to assets,
    /root/reference/ocr_processor.py:377-389).  The asset dimension is
    a small table -> broadcast hash join; the raw-span side never
    shuffles for the join, only for the tiny per-mime aggregate."""
    docs = synthetic_documents(spark, corpus_size(sf_dir))
    assets = spark.read.parquet(f"{INPUT_DIR}/media_assets.parquet")
    sp = (docs.select(F.explode("spans").alias("s"))
          .where(F.col("s.kind") == "raw_media")
          .select(F.col("s.media_ref").alias("media_ref")))
    return (sp.join(F.broadcast(assets), "media_ref")
            .groupBy("mime")
            .agg(F.count("*").cast("long").alias("n_links"),
                 F.countDistinct("media_ref").cast("long").alias("n_assets"),
                 F.sum("bytes").cast("long").alias("total_bytes")))
