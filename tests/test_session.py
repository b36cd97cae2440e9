"""Session factory: the shuffle partition default follows the master."""

from __future__ import annotations

from ai_pdf_ocr_spark.engine.session import build_session


def test_retry_master_sets_shuffle_partitions_from_threads(spark):
    """``local[N,F]`` (N threads, F task attempts) is read as N."""
    try:
        s = build_session(master="local[4,2]")
        assert s.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
