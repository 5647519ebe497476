"""The on-disk commit protocol: remote output paths fail loudly before any
Spark job, and the library layers never import the jobs."""

import ast
import os
import re
from pathlib import Path

import pytest

import lightly_ocr_spark
from lightly_ocr_spark.jobs.compact_job import run_compact
from lightly_ocr_spark.jobs.crawl_job import run_crawl_batch
from lightly_ocr_spark.jobs.curate_job import run_curate
from lightly_ocr_spark.jobs.extract_job import run_extract
from lightly_ocr_spark.sources.commit import read_index

REMOTE = "s3a://bucket/out"

RUNNERS = {
    "extract": lambda spark, pages, d: run_extract(spark, pages, REMOTE),
    "curate": lambda spark, pages, d: run_curate(spark, pages, REMOTE),
    "crawl_out": lambda spark, pages, d: run_crawl_batch(
        spark, pages, REMOTE, os.path.join(d, "idx")),
    "crawl_index": lambda spark, pages, d: run_crawl_batch(
        spark, pages, os.path.join(d, "corpus"), REMOTE),
    "compact": lambda spark, pages, d: run_compact(spark, pages, REMOTE),
}


@pytest.mark.parametrize("runner", sorted(RUNNERS))
def test_remote_path_raises_before_any_spark_job(
    spark, tmp_path, monkeypatch, runner
):
    """A URI output path must not become a relative local `s3a:/...`
    directory holding the job's manifests: the run raises ValueError
    naming the path, and submits no Spark job."""
    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [("https://r.example/1", None, b"<p>some words</p>")],
        "url string, warc_ts timestamp, html binary",
    ).write.parquet(pages)
    monkeypatch.chdir(tmp_path)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    with pytest.raises(ValueError, match=re.escape(REMOTE)):
        RUNNERS[runner](spark, pages, str(tmp_path))
    assert [j for j in tracker.getJobIdsForGroup(None) if j > before] == []
    assert not (tmp_path / "s3a:").exists()


def test_library_layers_do_not_import_jobs():
    """operators/, functions/, plans/ and sources/ sit below the jobs:
    none of their modules imports `lightly_ocr_spark.jobs`."""
    root = Path(lightly_ocr_spark.__file__).parent
    offenders = []
    for layer in ("operators", "functions", "plans", "sources"):
        for py in sorted((root / layer).rglob("*.py")):
            for node in ast.walk(ast.parse(py.read_text())):
                if isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                elif isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                else:
                    continue
                if any(n == "lightly_ocr_spark.jobs"
                       or n.startswith("lightly_ocr_spark.jobs.")
                       for n in names):
                    offenders.append(f"{py.relative_to(root)}:{node.lineno}")
    assert offenders == []


def test_missing_index_is_none_without_a_read(tmp_path):
    """A first batch finds no index: read_index says so from the
    filesystem and never asks Spark to read the path (a failed read is
    logged as an error).  An existing index is read."""
    class NoRead:
        @property
        def read(self):
            raise LookupError("spark.read called")

    assert read_index(NoRead(), str(tmp_path / "missing")) is None
    (tmp_path / "idx").mkdir()
    with pytest.raises(LookupError, match="spark.read called"):
        read_index(NoRead(), str(tmp_path / "idx"))
