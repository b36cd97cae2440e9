"""Fixed Spark schemas (SURVEY.md §1.3: fixed StructType, lenient
defaults applied in the decode stage, not the schema), and the one way
the engine builds a small driver-side frame from them."""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..kernel.extract import OUTPUT_SCHEMA

RAW_SPAN = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(RAW_SPAN)),
])

# the kernel's output batch, as Spark sees it
EXTRACTED = from_arrow_schema(OUTPUT_SCHEMA)

# the extracted table: EXTRACTED plus the partition column
EXTRACTED_BINNED = T.StructType(
    EXTRACTED.fields + [T.StructField("bin", T.IntegerType())])

# the streaming table: EXTRACTED, the dup flags, then the partition
# columns (a stream id is md5 hex and may be all digits: a string)
STREAM_EXTRACTED = T.StructType(
    EXTRACTED.fields
    + [T.StructField(c, T.BooleanType()) for c in ("dup_exact", "dup_near")]
    + [T.StructField("stream", T.StringType())]
    + [T.StructField(c, T.IntegerType()) for c in ("epoch", "bin")])

CHECKPOINT = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bin", T.IntegerType(), False),
    T.StructField("doc_id_min", T.StringType()),
    T.StructField("doc_id_max", T.StringType()),
    T.StructField("doc_count", T.LongType()),
    T.StructField("span_count_in", T.LongType()),
    T.StructField("span_count_out", T.LongType()),
    T.StructField("dedup_removed", T.LongType()),
    T.StructField("kernel_version", T.StringType()),
    T.StructField("wall_time_s", T.DoubleType()),
    T.StructField("status", T.StringType()),
])

# one stream's signature history: the stream's directory of the
# signature table, with ``epoch`` its partition column
SIGNATURES = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("doc_id", "kind", "key")]
    + [T.StructField("epoch", T.IntegerType())])

# weighted repartition's salt -> bin lookup
MAPPING = T.StructType([T.StructField(c, T.IntegerType())
                        for c in ("salt", "bin")])


def local_frame(spark: SparkSession, rows: list[dict],
                schema: T.StructType) -> DataFrame:
    """A driver-side table as a ``LocalRelation``, built through Arrow:
    collecting it runs no Spark job.  A Python-list ``createDataFrame``
    runs a PythonRDD job each time it is used, even when empty, and so
    does an empty pandas frame."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
