"""The flagship batch job: pages -> extracted, salted, resumable, audited.

Graft of the reference's serve/predict path (`pipeline.py:106-112`) plus its
checkpoint/resume training discipline (`train/crnn.py:285-327`), restated for
a 10^12-row table:

* **Slices** — the input file set is split into one slice per
  `SLICE_BYTES` of input, rounded up and at most one per file (file-level
  assignment, so each slice job scans only its own files: no re-read
  amplification).  A slice is the unit of commit, the analog of the
  reference's periodic checkpoint interval (`val_interval`, config.yml:14).
  The count depends only on the input, so a resume on another cluster
  size cuts the same slices; ``--slices`` pins it.
* **Salting** — a slice of input that does not split (gzip WARC or
  JSONL) is shuffled by ``xxhash64(url)`` so one giant archive cannot pin
  a task (north_rule skew requirement); parquet and plain JSONL splits
  are already byte-uniform and run narrow (``--salt`` overrides).
  ``xxhash64`` over full urls is near-uniform regardless of the zipf host
  distribution.
* **Manifests** — each committed slice writes `_manifests/slice-K.json` with
  rows in/out, char counts, a url+sha checksum, input files, and wall time:
  per-partition lineage + metric accumulators (north_rule), the analog of the
  reference's per-interval logs (`train/crnn.py:285-327`).
* **Resume** — a slice is committed iff its manifest exists; re-running skips
  committed slices and overwrites partial output of uncommitted ones
  (idempotent): a table format's snapshot-commit semantics, from parquet
  data plus atomic JSON markers (`sources.commit`).

Run: ``spark-submit --py-files dist/lightly_ocr_spark.zip -m`` or
``python -m lightly_ocr_spark.jobs.extract_job --pages DIR --out DIR``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.operators.extract_udf import extract_pages
from lightly_ocr_spark.schemas import PAGES_SCHEMA
from lightly_ocr_spark.sources import FORMAT_GLOBS, input_files, read_pages
from lightly_ocr_spark.sources.commit import atomic_json, require_local

MANIFEST_DIR = "_manifests"
CONCURRENT_SLICES = 4
# input bytes per slice when the caller does not pin the count: about one
# Common Crawl WARC file (unmeasured: inputs so far were at most 7.7 MB)
SLICE_BYTES = 1 << 30


def _slice_files(files: list[str], n_slices: int | None) -> list[list[str]]:
    if n_slices is None:
        n_slices = -(-sum(map(os.path.getsize, files)) // SLICE_BYTES)
    n_slices = max(1, min(n_slices, len(files)))
    return [files[k::n_slices] for k in range(n_slices)]


def run_extract(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    n_slices: int | None = None,
    salt: bool | None = None,
    input_format: str = "pages",
) -> dict:
    """Run the extraction over all uncommitted slices; return job summary.

    ``n_slices=None`` cuts one slice per `SLICE_BYTES` of input.  Slices
    run as `CONCURRENT_SLICES` concurrent Spark jobs (driver threads;
    Spark's scheduler interleaves their stages) so per-job
    barriers — scan tail, shuffle boundary, write commit — overlap instead
    of serializing.  Commit semantics are unchanged: each slice's manifest
    is written only after its own parquet write succeeds.  A rerun skips
    the committed slices; to redo a run, write to a fresh `out_dir`.
    Salting shuffles into `spark.sql.shuffle.partitions` partitions."""
    require_local(out_dir)
    man_dir = os.path.join(out_dir, MANIFEST_DIR)
    os.makedirs(man_dir, exist_ok=True)
    slices = _slice_files(input_files(pages_path, input_format), n_slices)
    salt_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # a manifest commits a SPECIFIC file set under a SPECIFIC cut; if the
    # slice count or input dir changed since, slice k denotes other files,
    # and running on would lose the moved ones or leave stale slice=* dirs
    # that double-count in the rollup — fail loudly before any slice runs
    committed = set()
    for p in glob.glob(os.path.join(man_dir, "slice-*.json")):
        with open(p) as f:
            m = json.load(f)
        k, n = m["slice"], m.get("slices")
        if n != len(slices):
            raise ValueError(
                f"{out_dir} holds slice {k} of a run of {n or 'unrecorded'} "
                f"slices (this run cuts {len(slices)}) — "
                + (f"resume with --slices {n}, or " if n else "")
                + "use a fresh --out"
            )
        if m["input_files"] != slices[k]:
            raise ValueError(
                f"slice {k} was committed for a different file set — the "
                "input changed since; use a fresh --out"
            )
        committed.add(k)

    t_job = time.time()

    def run_slice(k: int, files: list[str]) -> int | None:
        if k in committed:
            return None
        t0 = time.time()
        pages = read_pages(spark, files, input_format)
        # skew salting: spread any hot host across all partitions
        # (north_rule).  Extraction is row-local and parquet or plain
        # .jsonl splits are byte-uniform, so salt=None (auto) skips the
        # ~21% shuffle tax there; it salts only gzip input, which does not
        # split (WARC always, jsonl when THIS slice has .gz members), so
        # one giant archive cannot pin one task.  Host-keyed downstream
        # ops (curate's host cap, near-dup) re-shuffle on their own keys.
        gz = any(f.endswith(".gz") for f in files)
        slice_salt = bool(salt) if salt is not None else (
            input_format == "warc" or (input_format == "jsonl" and gz))
        salted = (
            pages.repartition(salt_partitions, F.xxhash64("url"))
            if slice_salt else pages
        )
        obs = Observation(f"slice-{k}-{int(t_job)}")
        extracted = extract_pages(salted).observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.length("text")).alias("text_chars"),
            F.sum((F.length("text") == 0).cast("long")).alias("empty_docs"),
            F.sum(F.crc32(F.concat("url", "extract_sha256"))).alias("checksum"),
        )
        slice_out = os.path.join(out_dir, f"slice={k}")
        extracted.write.mode("overwrite").parquet(slice_out)
        m = obs.get
        manifest = {
            "slice": k,
            "slices": len(slices),
            "input_files": files,
            "rows_out": m["rows_out"],
            "text_chars": int(m["text_chars"] or 0),
            "empty_docs": int(m["empty_docs"] or 0),
            "checksum": int(m["checksum"] or 0),
            "salted": slice_salt,
            "salt_partitions": salt_partitions,
            "wall_s": round(time.time() - t0, 3),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # commit point: manifest written only after the parquet write succeeds
        atomic_json(os.path.join(man_dir, f"slice-{k}.json"), manifest)
        return m["rows_out"]

    with ThreadPoolExecutor(max_workers=CONCURRENT_SLICES) as pool:
        results = list(pool.map(lambda a: run_slice(*a), enumerate(slices)))
    summary = {"slices": len(slices), "skipped": results.count(None),
               "run": len(slices) - results.count(None),
               "rows_out": sum(r or 0 for r in results),
               "wall_s": round(time.time() - t_job, 3)}
    rollup_manifests(out_dir)
    return summary


def rollup_manifests(out_dir: str) -> dict:
    """U1: roll the per-slice lineage manifests into one job-level summary
    (the multi-partition manifest union of SURVEY §2.6)."""
    paths = sorted(glob.glob(os.path.join(out_dir, MANIFEST_DIR, "slice-*.json")))
    total = {"slices": 0, "rows_out": 0, "text_chars": 0, "empty_docs": 0,
             "checksum": 0, "input_files": []}
    for p in paths:
        with open(p) as f:
            m = json.load(f)
        total["slices"] += 1
        total["rows_out"] += m["rows_out"]
        total["text_chars"] += m["text_chars"]
        total["empty_docs"] += m["empty_docs"]
        total["checksum"] = (total["checksum"] + m["checksum"]) % (1 << 63)
        total["input_files"] += m["input_files"]
    atomic_json(os.path.join(out_dir, MANIFEST_DIR, "_rollup.json"), total)
    return total


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(*sorted(glob.glob(os.path.join(out_dir, "slice=*"))))


def verify_extracted(
    spark: SparkSession, pages_path: str, out_dir: str
) -> dict:
    """Golden check (J1/J2 + A2): every url present exactly once, text
    byte-identical to the pages.text golden column."""
    golden = spark.read.schema(PAGES_SCHEMA).parquet(
        *input_files(pages_path)
    ).select("url", F.col("text").alias("golden_text"))
    got = read_extracted(spark, out_dir).select("url", "text")
    joined = got.join(golden, "url", "inner")
    stats = joined.agg(
        F.count(F.lit(1)).alias("joined"),
        F.sum((F.col("text") == F.col("golden_text")).cast("long")).alias("matched"),
    ).collect()[0]
    missing = golden.join(got, "url", "left_anti").count()  # J2 coverage
    dupes = got.groupBy("url").count().filter("count > 1").count()
    return {
        "joined": stats["joined"],
        "matched": stats["matched"],
        "missing": missing,
        "duplicate_urls": dupes,
        "byte_identical": stats["joined"] == stats["matched"] and missing == 0
        and dupes == 0,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--slices", type=int, default=None,
                    help="slice count (default: one per GiB of input, at "
                    "most one per file); resuming an --out needs the "
                    "count it was written with")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--salt", choices=("auto", "on", "off"), default="auto",
                    help="url-hash rebalancing shuffle before extraction: "
                    "auto (default) salts only non-splittable WARC input; "
                    "parquet scans are already byte-uniform")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--format", choices=tuple(FORMAT_GLOBS), default="pages",
                    help="input layout: pages parquet, raw WARC archives, "
                    "or JSONL(.gz) dumps")
    args = ap.parse_args()

    from lightly_ocr_spark.plans.session import build_session

    spark = build_session("extract-job", cores=args.cores)
    salt = {"auto": None, "on": True, "off": False}[args.salt]
    summary = run_extract(
        spark, args.pages, args.out, n_slices=args.slices, salt=salt,
        input_format=args.format,
    )
    if args.verify:
        if args.format == "warc":
            # WARC input carries no golden text column to compare against
            summary["verify"] = {
                "skipped": "no golden text in warc input; "
                "use pages parquet for the byte-identity check"
            }
        else:
            summary["verify"] = verify_extracted(spark, args.pages, args.out)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
