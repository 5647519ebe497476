"""Spark operator for the fused extraction pass.

One `mapInPandas` stage carries the whole detect+recognize pipeline
(D1-D11 + R1-R11) per Arrow batch — the graft of the reference's fused
detector→recognizer chain executed with no intermediate materialization
(`pipeline.py:65-87`).  Keeping it a single Python stage means exactly one
JVM↔Python Arrow round-trip per batch (the CPU↔GPU copy analog,
`net.py:79,105`).

Span arrays come back as three parallel primitive arrays and are zipped into
`array<struct<start,end,score>>` JVM-side (`arrays_zip` is codegen'd), so no
nested structs cross the Arrow boundary.  The content hash
(`extract_sha256`) is likewise computed JVM-side from the returned text.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from lightly_ocr_spark.functions.extract import extract_batch
from lightly_ocr_spark.operators.dedup import newest_per_url
from lightly_ocr_spark.schemas import EXTRACT_RAW_SCHEMA


def _extract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = extract_batch(pdf["html"])
        out.insert(0, "url", pdf["url"].to_numpy())
        out.insert(1, "warc_ts", pdf["warc_ts"].to_numpy())
        yield out


def extract_pages(pages: DataFrame, keep_empty: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> extracted table (EXTRACTED_SCHEMA).

    Column pruning: only (url, warc_ts, html) are shipped to Python — the
    parquet scan never reads the golden `text`/`lang` columns.
    """
    raw = pages.select("url", "warc_ts", "html").mapInPandas(
        _extract_partition, schema=EXTRACT_RAW_SCHEMA
    )
    out = raw.select(
        "url",
        "warc_ts",
        "text",
        F.arrays_zip(
            F.col("span_starts").alias("start"),
            F.col("span_ends").alias("end"),
            F.col("span_scores").alias("score"),
        ).alias("spans"),
        "n_blocks",
        F.sha2(F.encode("text", "utf-8"), 256).alias("extract_sha256"),
        F.spark_partition_id().alias("part_id"),
    )
    if not keep_empty:
        out = out.filter(F.length("text") > 0)
    return out


def newest_extracted(
    pages: DataFrame, counter: Observation | None = None
) -> DataFrame:
    """The prefix of the curate job and of each crawl batch: extract,
    drop empty docs, keep the five columns the jobs read (url, warc_ts,
    text, n_blocks, extract_sha256), then collapse url revisits to the
    newest fetch (`newest_per_url`) — downstream, url is a key.
    `counter` observes the non-empty rows before the collapse as `n`."""
    extracted = extract_pages(pages, keep_empty=False).select(
        "url", "warc_ts", "text", "n_blocks", "extract_sha256"
    )
    if counter is not None:
        extracted = extracted.observe(counter, F.count(F.lit(1)).alias("n"))
    return newest_per_url(extracted)


def _dense_ascii_docs(spark, sf_dir: str) -> DataFrame:
    """documents rows restricted so extraction is SQL-predictable —
    printable-ASCII text, >= 8 words and >= 10 chars after collapse (the
    contract reduces to whitespace collapse for such paragraphs).  ONE
    definition shared by the HTML and PDF flagship queries so their
    eligibility gates cannot drift apart from each other or from the
    matching DuckDB oracle predicates.

    The scan is `spread` (round 6, guide §2.5): both flagship queries
    funnel this frame into a mapInPandas Arrow stage, and a
    single-row-group parquet file otherwise feeds EVERY Python extraction
    batch through one task — one core doing all the work regardless of
    cluster size."""
    from lightly_ocr_spark.plans.relational import spread

    d = spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    collapsed = F.trim(F.regexp_replace("text", r"\s+", " "))
    return d.filter(
        ~F.col("text").rlike("[^ -~]")
        & (F.size(F.split(collapsed, " ")) >= 8)
        & (F.length(collapsed) >= 10)
    )


def documents_as_pages(spark, sf_dir: str) -> DataFrame:
    """Wrap the driver `documents` table into pages rows (deterministic HTML
    template), restricted via `_dense_ascii_docs`."""
    d = _dense_ascii_docs(spark, sf_dir)
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), esc, F.lit("</p></body></html>")),
            "utf-8",
        ).alias("html"),
    )


def extract_documents_query(spark, sf_dir: str) -> DataFrame:
    """Flagship extraction with a SQL oracle: for a single dense ASCII
    paragraph the contract reduces to whitespace collapse, so DuckDB can
    predict the engine's output (and its sha256) exactly."""
    pages = documents_as_pages(spark, sf_dir)
    return extract_pages(pages).select("url", "text", "extract_sha256")


def _pdf_roundtrip_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from lightly_ocr_spark.functions.pdf import extract_pdf_text, make_pdf

    for pdf in batches:
        yield pd.DataFrame(
            {
                "url": pdf["url"].to_numpy(),
                "text": [extract_pdf_text(make_pdf(t)) for t in pdf["text"]],
            }
        )


def extract_pdf_query(spark, sf_dir: str) -> DataFrame:
    """The PDF leg of main-content extraction (north_rule "PDF/layout
    parse"): documents are typeset into real one-page FlateDecode PDFs and
    re-extracted — synthesis and extraction fused into ONE Arrow stage, no
    intermediate binary column crossing the boundary twice.  Under the same
    dense-ASCII-paragraph restriction as the HTML flagship (shared
    `_dense_ascii_docs` gate), the extraction contract reduces to
    whitespace collapse, so the DuckDB oracle predicts output text and
    sha256 exactly."""
    d = _dense_ascii_docs(spark, sf_dir)
    pages = d.select(
        F.concat(F.lit("pdf://"), F.col("doc_id")).alias("url"), "text"
    )
    out = pages.mapInPandas(
        _pdf_roundtrip_partition, schema="url string, text string"
    )
    return out.select(
        "url",
        "text",
        F.sha2(F.encode("text", "utf-8"), 256).alias("extract_sha256"),
    )
