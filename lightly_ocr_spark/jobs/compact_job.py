"""Small-file compaction: rewrite a parquet dataset into ~target-size files.

At 10^12 docs the extraction sink accumulates files from many slices,
retries, and streaming epochs; small files tax every later scan (driver
listing, task scheduling, row-group overhead — the classic small-files
problem).  This job rewrites a dataset to ceil(bytes / target) files and
commits crash-safely through `sources.commit.swap_dir`: write to a staging
dir, verify the row count matches the input via an `Observation` riding
the write (never a separate re-read), then swap directories.  A crash
inside the swap leaves the original intact, and the NEXT run (or any
index reader) restores it before doing anything else.

Plan: `coalesce(n)` — compaction is file-count reduction, and coalesce
does it with ZERO shuffle (each output task concatenates whole input
splits).  `--partition-by` instead repartitions on the partition columns.

Graft note: the reference never compacts (its KV store hides file layout,
`ingress/server.go`); a table-format pipeline has to.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.sources.commit import (
    atomic_json,
    recover_interrupted_swap,
    require_local,
    swap_dir,
)

DEFAULT_TARGET_BYTES = 128 << 20


def _data_files(path: str) -> list[str]:
    return [
        p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True)
        if os.path.isfile(p)
    ]


def run_compact(
    spark: SparkSession, in_dir: str, out_dir: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_by: list[str] | None = None,
) -> dict:
    """`partition_by` compacts a HIVE-PARTITIONED dataset (e.g. the crawl
    loop's fingerprint index, `fp_prefix=XX/` dirs that gain one small
    file per batch append) while PRESERVING its layout: a flat rewrite
    would mix root-level files with partition dirs and break partition
    discovery for every later reader.  The plan hash-repartitions on the
    partition columns (one shuffle; each partition value lands in exactly
    one task) and writes with the same partitionBy, so every partition
    dir collapses to one file.  `in_dir == out_dir` is supported — the
    dataset is fully materialized into the staging dir before the swap
    touches the original."""
    require_local(in_dir, out_dir)
    recover_interrupted_swap(in_dir)
    recover_interrupted_swap(out_dir)
    files = _data_files(in_dir)
    if not files:
        raise ValueError(f"no parquet data files under {in_dir}")
    in_bytes = sum(os.path.getsize(p) for p in files)
    n_out = max(1, -(-in_bytes // target_bytes))  # ceil

    if partition_by:
        # read partition VALUES as strings, never inferred types: an
        # all-digit dir set (fp_prefix=00, 12, 57 — realistic for a small
        # crawl index) would otherwise infer as int and the rewrite would
        # emit fp_prefix=0, forking dirs against later string appends
        infer_key = "spark.sql.sources.partitionColumnTypeInference"
        old_infer = spark.conf.get(infer_key, "true")
        spark.conf.set(infer_key, "false")
        try:
            df = spark.read.parquet(in_dir)
        finally:
            spark.conf.set(infer_key, old_infer)
    else:
        df = spark.read.parquet(in_dir)
    obs_in = Observation(f"compact-in-{int(time.time() * 1000)}")
    df = df.observe(obs_in, F.count(F.lit(1)).alias("n"))
    if partition_by:
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition column(s) {missing} not in dataset "
                f"(has {df.columns})"
            )
        sized = df.repartition(*[F.col(c) for c in partition_by])
    else:
        sized = df.coalesce(n_out)

    t0 = time.time()
    writer = sized.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    with swap_dir(out_dir) as tmp:
        writer.parquet(tmp)
        rows_in = int(obs_in.get["n"])
        # verify BEFORE the swap: the new files' parquet footers must
        # account for every input row (metadata-only count — no data
        # re-read)
        rows_out = spark.read.parquet(tmp).count()
        if rows_out != rows_in:
            raise RuntimeError(
                f"compaction row mismatch: {rows_in} in vs {rows_out} out "
                "— aborted before swap, original dataset untouched"
            )

    out_files = _data_files(out_dir)
    manifest = {
        "rows": rows_in,
        "files_in": len(files),
        "files_out": len(out_files),
        "bytes_in": in_bytes,
        "bytes_out": sum(os.path.getsize(p) for p in out_files),
        # effective plan only: the partitioned path is governed by the
        # partition columns, not by target size
        "target_bytes": None if partition_by else target_bytes,
        "partition_by": partition_by,
        "wall_s": round(time.time() - t0, 3),
    }
    atomic_json(os.path.join(out_dir, "_compaction.json"), manifest)
    return manifest


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--in", dest="in_dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument("--partition-by", default=None,
                    help="comma-separated hive-partition columns: compact "
                    "each partition dir to one file, layout preserved "
                    "(e.g. fp_prefix for the crawl fingerprint index)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from lightly_ocr_spark.plans.session import build_session

    spark = build_session("compact-job", cores=args.cores)
    print(json.dumps(run_compact(
        spark, args.in_dir, args.out,
        target_bytes=args.target_mb << 20,
        partition_by=(args.partition_by.split(",")
                      if args.partition_by else None),
    )))


if __name__ == "__main__":
    main()
