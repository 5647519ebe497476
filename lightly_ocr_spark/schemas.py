"""Declared schemas (S11): the graft of the reference's reflection-based
schema mapping (`ingress/db/field.go:18-50`, `query.go:16-30`) — explicit
StructTypes instead of Go-struct reflection, nullability stated."""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # oracle golden column
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE, False), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("extract_sha256", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

# mapInPandas intermediate (spans as parallel arrays; zipped JVM-side)
EXTRACT_RAW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("span_starts", T.ArrayType(T.LongType(), False), False),
        T.StructField("span_ends", T.ArrayType(T.LongType(), False), False),
        T.StructField("span_scores", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("n_blocks", T.IntegerType(), False),
    ]
)
