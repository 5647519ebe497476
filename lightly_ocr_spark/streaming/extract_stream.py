"""Incremental extraction: the SAME fused operator under Structured
Streaming.

Batch is the product (SURVEY.md §2.8) — this proves the extraction stage is
engine-agnostic: `readStream` over a pages directory (new WARC drops appear
as new files), `extract_pages` unchanged, append-mode sink.  With a real
sink (kafka/Iceberg) the `foreachBatch` path gives exactly-once commits via
the same manifest discipline as the batch job.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.operators.extract_udf import extract_pages
from lightly_ocr_spark.schemas import PAGES_SCHEMA
from lightly_ocr_spark.sources.commit import atomic_json, require_local


def extract_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Run the extraction as a file-source stream to completion; returns the
    materialized extracted rows (url, text, extract_sha256)."""
    stream_pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(pages_dir)
    )
    extracted = extract_pages(stream_pages).select(
        "url", "text", "extract_sha256"
    )
    name = "extract_stream_" + uuid.uuid4().hex[:8]
    q = (
        extracted.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        rows, schema="url string, text string, extract_sha256 string"
    )


def extract_stream_job(
    spark: SparkSession, pages_dir: str, out_dir: str, checkpoint_dir: str,
    max_files_per_trigger: int = 2,
) -> dict:
    """Exactly-once streaming extraction sink: `foreachBatch` writes each
    epoch's rows to `epoch=K/` idempotently (mode=overwrite re-runs a
    half-written epoch cleanly) and commits a per-epoch manifest AFTER the
    write — the streaming twin of the batch job's slice/manifest discipline.
    The epoch's row count comes from an `Observation` riding the write,
    not from re-reading what was just written.

    Restart semantics come from the checkpoint: a restarted query resumes
    from the last committed offsets, re-processing at most the one epoch
    whose write raced the failure, which the overwrite absorbs.  Run to
    completion of currently-available files; returns a summary."""
    require_local(out_dir)
    stream_pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(pages_dir)
    )
    extracted = extract_pages(stream_pages).select(
        "url", "text", "extract_sha256"
    )
    manifests_dir = os.path.join(out_dir, "_manifests")
    os.makedirs(manifests_dir, exist_ok=True)

    def write_epoch(df, epoch_id: int) -> None:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"epoch={epoch_id}"))
        atomic_json(
            os.path.join(manifests_dir, f"epoch-{epoch_id}.json"),
            {"epoch": int(epoch_id), "rows": int(obs.get["n"])},
        )

    q = (
        extracted.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    manifests = sorted(glob.glob(os.path.join(manifests_dir, "epoch-*.json")))
    total = 0
    for m in manifests:
        with open(m) as f:
            total += json.load(f)["rows"]
    return {"epochs": len(manifests), "rows_out": total}
