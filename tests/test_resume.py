"""Kill-and-rerun resume semantics (SURVEY.md §5 item 5, FIXTURES.md §3):
a run killed at an arbitrary partition boundary, resumed, must produce a
final table content-identical to a single-shot run, and must not
recompute done bins."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
from ai_pdf_ocr_spark.engine.io import TableStore
from ai_pdf_ocr_spark.engine.pipeline import documents_df
from ai_pdf_ocr_spark.engine.schemas import CHECKPOINT
from ai_pdf_ocr_spark.fixtures.generate import make_documents


def _content(store):
    rows = (store.read_extracted()
            .select("doc_id", "bin", F.to_json("spans").alias("s"),
                    "span_count_in", "span_count_out", "dedup_removed")
            .collect())
    return sorted(tuple(r) for r in rows)


def test_resume_content_identical(spark, tmp_path):
    docs = make_documents(120, seed=31)
    df = documents_df(spark, docs)
    P = 6

    # single-shot reference run
    full = TableStore(spark, str(tmp_path / "full"))
    s1 = run_extraction(spark, df, full, "run-A", P)
    assert s1["docs_processed"] == 120
    want = _content(full)

    # killed run: only bins {0,1,2} committed their checkpoint rows.
    # The other bins' data is stale (written but never checkpointed)
    # or, for one bin, missing; the resume must overwrite / fill both.
    part = TableStore(spark, str(tmp_path / "part"))
    run_extraction(spark, df, part, "run-A", P)
    ckpt = part.read_checkpoint().collect()
    kept = [r for r in ckpt if r.bin < 3]
    shutil.rmtree(part.path("checkpoint"))
    part.append_checkpoint(spark.createDataFrame(kept, schema=CHECKPOINT))
    lost = next(r.bin for r in ckpt if r.bin >= 3 and r.doc_count)
    shutil.rmtree(part.path(f"documents_extracted/bin={lost}"))
    interim = part.read_extracted().count()
    assert 0 < interim < 120

    # resume: processes exactly the remaining bins
    s3 = run_extraction(spark, df, part, "run-A", P)
    assert set(s3["bins_processed"]) == set(range(P)) - {0, 1, 2}
    assert sum(r.doc_count for r in kept) + s3["docs_processed"] == 120
    assert _content(part) == want

    # idempotent: a third run is a no-op
    s4 = run_extraction(spark, df, part, "run-A", P)
    assert s4["bins_processed"] == [] and s4["docs_processed"] == 0
    assert _content(part) == want


def test_checkpoint_lineage_rows(spark, tmp_path):
    docs = make_documents(60, seed=77)
    df = documents_df(spark, docs)
    store = TableStore(spark, str(tmp_path / "t"))
    run_extraction(spark, df, store, "run-B", 4)
    ck = store.read_checkpoint().collect()
    assert {r.bin for r in ck} == {0, 1, 2, 3}
    assert all(r.status == "done" and r.run_id == "run-B" for r in ck)
    assert sum(r.doc_count for r in ck) == 60
    total_in = sum(r.span_count_in for r in ck)
    assert total_in == sum(len(d["spans"]) for d in docs)
    for r in ck:
        if r.doc_count:
            assert r.doc_id_min <= r.doc_id_max
