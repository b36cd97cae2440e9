"""End-to-end Spark pipeline vs oracle: exact span-sequence equality
(the north_rule per-row invariant), plus doc-stats and partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_pdf_ocr_spark.engine.partitioning import weighted_repartition
from ai_pdf_ocr_spark.engine.pipeline import (
    doc_stats, documents_df, extract_documents, extracted_spans_flat)
from ai_pdf_ocr_spark.fixtures.generate import golden_documents, make_documents
from tests import oracle as O


def _spark_sequences(spark, docs):
    df = documents_df(spark, docs)
    out = extract_documents(df).collect()
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in out
    }


def test_e2e_golden_equality(spark):
    docs = golden_documents()
    got = _spark_sequences(spark, docs)
    want = O.extract_corpus(docs)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_e2e_random_corpus_equality(spark):
    docs = make_documents(400, seed=42)
    got = _spark_sequences(spark, docs)
    want = O.extract_corpus(docs)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_e2e_with_weighted_repartition_equality(spark):
    docs = make_documents(200, seed=21, heavy_tail_frac=0.1)
    df = weighted_repartition(documents_df(spark, docs), 8)
    out = extract_documents(df).collect()
    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.order)
                      for s in r.spans] for r in out}
    want = O.extract_corpus(docs)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_bin_placement_exact(spark):
    # every row lands in the partition equal to its assigned bin
    docs = make_documents(150, seed=4)
    placed = (
        weighted_repartition(documents_df(spark, docs), 8)
        .withColumn("pid", F.spark_partition_id())
        .select("bin", "pid").distinct().collect()
    )
    assert all(r.bin == r.pid for r in placed)
    bins = {r.bin for r in placed}
    assert bins == set(range(8))  # all partitions used


def test_weighted_balance(spark):
    # heavy-tail corpus: max partition weight within 2.5x of mean
    docs = make_documents(300, seed=13, heavy_tail_frac=0.05)
    binned = weighted_repartition(documents_df(spark, docs), 8)
    loads = (
        binned.groupBy("bin").agg(F.sum(F.size("spans")).alias("w"))
        .collect()
    )
    ws = [r.w for r in loads]
    assert max(ws) <= 2.5 * (sum(ws) / len(ws))


def test_doc_stats_and_flat(spark):
    docs = make_documents(50, seed=2)
    extracted = extract_documents(documents_df(spark, docs))
    stats = {r.doc_id: r for r in doc_stats(extracted).collect()}
    want = O.extract_corpus(docs)
    for doc_id, seq in want.items():
        texts = [t for (k, t, _m, _o) in seq if k == "text"]
        medias = [m for (k, _t, m, _o) in seq if k == "media"]
        r = stats[doc_id]
        assert r.n_spans == len(seq)
        assert r.n_text_spans == len(texts)
        assert r.n_media_spans == len(medias)
        assert r.document_text == " ".join(texts)
    flat = extracted_spans_flat(extracted)
    assert flat.count() == sum(len(s) for s in want.values())
    # array position is strictly increasing per doc (ordering preserved)
    bad = (flat.groupBy("doc_id")
           .agg(F.max("pos").alias("mx"), F.count("*").alias("n"))
           .where(F.col("mx") != F.col("n") - 1).count())
    assert bad == 0
