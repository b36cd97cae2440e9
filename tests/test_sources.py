"""Input-source readers: JSONL and parquet land identical documents and
produce identical extraction output; zstd sink round-trips."""

from __future__ import annotations

from ai_pdf_ocr_spark.engine.io import TableStore
from ai_pdf_ocr_spark.engine.pipeline import documents_df, extract_documents
from ai_pdf_ocr_spark.engine.schemas import DOCUMENTS
from ai_pdf_ocr_spark.engine.sources import read_documents
from ai_pdf_ocr_spark.fixtures.generate import make_documents
from tests import oracle as O


def _spans_map(df):
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.order)
                       for s in r.spans]
            for r in df.select("doc_id", "spans").collect()}


def test_jsonl_source_equals_parquet(spark, tmp_path):
    docs = make_documents(30, seed=11)
    src = documents_df(spark, docs)
    src.write.parquet(str(tmp_path / "p"))
    src.write.json(str(tmp_path / "j"))

    via_parquet = read_documents(spark, str(tmp_path / "p"), "parquet")
    via_jsonl = read_documents(spark, str(tmp_path / "j"), "jsonl")
    # identical rows in (schema enforced, no inference pass)
    a = {r.doc_id: r.spans for r in via_parquet.collect()}
    b = {r.doc_id: r.spans for r in via_jsonl.collect()}
    assert a == b
    # identical extraction output
    out_p = _spans_map(extract_documents(via_parquet))
    out_j = _spans_map(extract_documents(via_jsonl))
    assert out_p == out_j


def test_parquet_source_reads_fixed_schema(spark, tmp_path):
    """Parquet is read with DOCUMENTS, not footer inference: a column
    outside the schema (a ``span_count`` stats column) is not read."""
    from pyspark.sql import functions as F

    docs = make_documents(20, seed=8)
    (documents_df(spark, docs).withColumn("span_count", F.size("spans"))
     .write.parquet(str(tmp_path / "p")))
    df = read_documents(spark, str(tmp_path / "p"))
    assert df.columns == ["doc_id", "spans"]
    assert [f.dataType for f in df.schema] == \
        [f.dataType for f in DOCUMENTS]
    assert _spans_map(extract_documents(df)) == O.extract_corpus(docs)


def test_jsonl_rejects_unknown_format(spark, tmp_path):
    import pytest
    with pytest.raises(ValueError, match="unknown input format"):
        read_documents(spark, str(tmp_path), "csvx")


def test_zstd_sink_roundtrip(spark, tmp_path):
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    docs = documents_df(spark, make_documents(10, seed=3))
    store = TableStore(spark, str(tmp_path / "store"))  # writes io.CODEC
    extracted = extract_documents(docs).withColumn("bin", F.lit(0))
    store.write_extracted(extracted)
    back = store.read_extracted()
    assert _spans_map(back) == _spans_map(extracted)
    # the files really are zstd-compressed
    files = [f for f in (tmp_path / "store" /
                         "documents_extracted" / "bin=0").iterdir()
             if f.name.endswith(".parquet")]
    assert files
    meta = pq.ParquetFile(str(files[0])).metadata
    codecs = {meta.row_group(i).column(0).compression
              for i in range(meta.num_row_groups)}
    assert codecs == {"ZSTD"}


def test_bucketed_sink_colocated_join_and_bucket_pruning(spark, tmp_path):
    """S6 scale contract: (a) two tables bucketed by (doc_id, same N)
    join with ZERO Exchange on either side — at 100 TB the fact bytes
    never cross the wire; (b) an equality filter on the bucket column
    prunes the scan to 1/N of the buckets (SelectedBucketsCount)."""
    from pyspark.sql import functions as F

    docs = documents_df(spark, make_documents(40, seed=5))
    store = TableStore(spark, str(tmp_path / "store"))
    extracted = extract_documents(docs)
    t1 = store.write_bucketed(
        extracted.select("doc_id", "spans"), "ext_b", n_buckets=8)
    t2 = store.write_bucketed(
        extracted.select("doc_id", "span_count_in", "dedup_removed"),
        "stats_b", n_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (spark.table(t1).join(spark.table(t2), "doc_id")
             .agg(F.count("*").alias("n"),
                  F.sum("span_count_in").alias("s")))
        row = j.collect()[0]
        assert row.n == 40
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the 1-row final agg may Exchange SinglePartition; the JOIN
        # itself must not shuffle by key
        assert "Exchange hashpartitioning" not in plan, \
            "bucketed join must not shuffle"
        assert "SelectedBucketsCount: 8 out of 8" in plan  # no filter
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # bucket PRUNING needs the scan to retain bucket layout; by default
    # autoBucketedScan drops it on scan-only queries (no join/agg wants
    # the distribution), trading pruning for partition coalescing —
    # disable it for the point-lookup demonstration
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        some_doc = extracted.select("doc_id").limit(1).collect()[0].doc_id
        q = spark.table(t1).where(F.col("doc_id") == some_doc)
        assert q.count() == 1
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan
    finally:
        spark.conf.unset(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled")
