"""Input-source readers for the documents table.

Web-scale training corpora arrive as parquet OR line-delimited JSON
(the interchange format most crawl/annotation pipelines emit); both
land on the same ``documents(doc_id, spans)`` shape here, read with
the EXPLICIT schema.  JSON schema inference would add a full sampling
pass over 100 TB and can mistype sparse fields (a spans array that is
null in the sampled rows); parquet footer inference is a Spark job of
its own.  Columns outside the schema (e.g. a ``span_count`` stats
column) are never read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import schemas

FORMATS = ("parquet", "jsonl")


def read_documents(spark: SparkSession, path: str,
                   fmt: str = "parquet") -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unknown input format {fmt!r}; one of {FORMATS}")
    reader = spark.read.schema(schemas.DOCUMENTS)
    return reader.parquet(path) if fmt == "parquet" else reader.json(path)
