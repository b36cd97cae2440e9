"""End-to-end Spark pipeline vs oracle: exact span-sequence equality
(the north_rule per-row invariant), plus doc-stats and partitioning."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pyspark.sql import functions as F

from ai_pdf_ocr_spark.engine.partitioning import (compute_assignment,
                                                  weighted_repartition)
from ai_pdf_ocr_spark.engine.pipeline import (
    doc_stats, documents_df, drop_zip_finders, extract_documents,
    extracted_spans_flat)
from ai_pdf_ocr_spark.fixtures.generate import golden_documents, make_documents
from ai_pdf_ocr_spark.flagship import synthetic_documents
from tests import oracle as O


@pytest.fixture
def zip_package(tmp_path):
    """A zip holding package ``zpkg`` (modules ``a`` and ``b``) on
    ``sys.path``, with ``zpkg.a`` imported through ``zipimport``."""
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "NAME = 'a'\n")
        z.writestr("zpkg/b.py", "NAME = 'b'\n")
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zpkg.a")
        yield archive
    finally:
        sys.path.remove(archive)
        for name in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(name, None)
        for path in list(sys.path_importer_cache):
            if path.startswith(archive):
                del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(archive, None)


def test_drop_zip_finders_stops_per_task_zip_reparse(zip_package,
                                                     monkeypatch):
    """PySpark's worker runs ``importlib.invalidate_caches()`` before
    every task; with no zip finder cached it re-reads no archive, and
    an import from the zip still works, from zipimport's directory
    cache."""
    assert isinstance(sys.path_importer_cache[zip_package],
                      zipimport.zipimporter)
    drop_zip_finders()
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zpkg.b").NAME == "b"
    assert reads == []


def _spark_sequences(spark, docs):
    df = documents_df(spark, docs)
    out = extract_documents(df).collect()
    return {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
        for r in out
    }


@pytest.mark.parametrize("frac", [0.0, 0.02])
def test_executor_generator_matches_make_documents(spark, frac):
    """The flagship rows' executor-side corpus is the driver-side one,
    row for row: same ids, same spans, same heavy-tail documents
    (0, 50 and 100 at frac = 0.02)."""
    got = synthetic_documents(spark, 120, heavy_tail_frac=frac)
    assert [r.asDict(recursive=True)
            for r in got.orderBy("doc_id").collect()] == \
        make_documents(120, seed=42, heavy_tail_frac=frac)


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
    df = documents_df(spark, docs)
    out = extract_documents(
        weighted_repartition(df, 8, compute_assignment(df, 8))).collect()
    got = {r.doc_id: [(s.kind, s.text, s.media_ref, s.order)
                      for s in r.spans] for r in out}
    want = O.extract_corpus(docs)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id


def test_bin_placement_exact(spark):
    # every row lands in the partition equal to its assigned bin
    docs = documents_df(spark, make_documents(150, seed=4))
    placed = (
        weighted_repartition(docs, 8, compute_assignment(docs, 8))
        .withColumn("pid", F.spark_partition_id())
        .select("bin", "pid").distinct().collect()
    )
    assert all(r.bin == r.pid for r in placed)
    bins = {r.bin for r in placed}
    assert bins == set(range(8))  # all partitions used


def test_every_bin_gets_a_salt_at_large_p(spark):
    # the salt-bucket count grows with P: at P=6000 a fixed 4096
    # buckets would leave ~1,900 bins empty
    docs = spark.range(20000).select(
        F.format_string("doc-%06d", "id").alias("doc_id"),
        F.lit(None).cast("array<int>").alias("spans"))
    assert len(set(compute_assignment(docs, 6000).values())) == 6000


def test_weighted_balance(spark):
    # heavy-tail corpus: max partition weight within 2.5x of mean
    docs = documents_df(spark, make_documents(300, seed=13,
                                              heavy_tail_frac=0.05))
    binned = weighted_repartition(docs, 8, compute_assignment(docs, 8))
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
