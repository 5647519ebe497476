"""Sources & sinks: synthetic pages corpus, parquet/manifest table IO."""

from __future__ import annotations

import glob
import os

# the input formats every job reads, and the files each one consists of
FORMAT_GLOBS = {
    "pages": "*.parquet",
    "warc": "*.warc*",
    "jsonl": "*.jsonl*",
}


def input_files(pages_path: str, input_format: str = "pages") -> list[str]:
    """A directory's `input_format` files, sorted, or the one file named."""
    pattern = FORMAT_GLOBS[input_format]
    if os.path.isdir(pages_path):
        files = sorted(glob.glob(os.path.join(pages_path, pattern)))
    else:
        files = [pages_path]
    if not files:
        raise FileNotFoundError(f"no {pattern} files under {pages_path}")
    return files


def read_pages(spark, path_or_files: str | list[str], input_format: str):
    """The one input-format -> reader mapping: a directory (or explicit
    file list) of pages parquet, WARC archives or JSONL dumps -> pages rows
    (url, warc_ts, html, ...), extraction-ready."""
    if input_format == "warc":
        from lightly_ocr_spark.sources.warc import warc_pages

        return warc_pages(spark, path_or_files)
    if input_format == "jsonl":
        from lightly_ocr_spark.sources.jsonl import read_jsonl_pages

        return read_jsonl_pages(spark, path_or_files)
    from lightly_ocr_spark.schemas import PAGES_SCHEMA

    paths = [path_or_files] if isinstance(path_or_files, str) else path_or_files
    return spark.read.schema(PAGES_SCHEMA).parquet(*paths)
