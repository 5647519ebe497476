"""JSONL(.gz) ingest: newline-delimited JSON corpora -> pages rows.

Alongside pages parquet and WARC (the crawl-native container), JSONL is
the third format real training corpora arrive in (RedPajama/Dolma-style
dumps: one JSON object per line with url/text/meta fields).  Spark's JSON
source handles gzip transparently and splits uncompressed files by line,
so ingest parallelism is free; an EXPLICIT schema is mandatory at scale —
schema inference reads the whole dataset once before the real job starts.

The JSON fields are `url`, `timestamp`, `html`, `text` and `lang`; a
missing field reads as a typed null, so the result always matches
PAGES_SCHEMA.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_jsonl_pages(spark: SparkSession, path: str) -> DataFrame:
    """JSONL directory/file(s) -> canonical pages(url, warc_ts, html, text,
    lang).  `html` may arrive as a plain string (JSON has no bytes) — it is
    utf-8 encoded into the binary column.  A field absent from a JSON
    object reads as null (the JSON source's missing-key semantics against
    the explicit nullable schema).

    TEXT-ONLY corpora (the common RedPajama/Dolma shape: url + text, no
    html) flow through extraction rather than vanishing: when `html` is
    null the text field is used as the page body — the extractor treats
    plain text as one dense block and whitespace-canonicalizes it, so
    text-only rows survive `keep_empty=False` instead of every row
    extracting to '' from an empty html column."""
    raw = spark.read.schema(
        "url string, timestamp string, html string, text string, lang string"
    ).json(path)
    return raw.select(
        "url",
        F.col("timestamp").try_cast("timestamp").alias("warc_ts"),
        F.encode(
            F.coalesce(F.col("html"), F.col("text"), F.lit("")), "utf-8"
        ).alias("html"),
        "text",
        "lang",
    ).filter(F.col("url").isNotNull())

