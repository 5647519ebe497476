"""Quantify the LSH hot-bucket cap's recall trade-off (round-5 verdict #6).

Builds a corpus of N extracted bench docs plus ~1% PLANTED near-dup twins
(every 20th token perturbed -> ~0.86 shingle similarity, so an uncapped
8x4-band MinHash should recall ~99% of the pairs), computes banded buckets
once, then for each cap in {none, 2000, 500, 100} measures:

* planted-pair recall (fraction of (doc, twin) pairs still produced),
* total candidate pairs (the quadratic cost the cap exists to bound),
* candidate-join wall seconds.

Also prints the bucket-size tail so the hot buckets being capped are
visible.  Usage: python tools/lsh_cap_recall.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    from bench import ensure_bench_pages
    from lightly_ocr_spark.operators.dedup import (
        _pairs_from_stacked,
        band_buckets,
        cap_buckets,
        minhash_signatures,
    )
    from lightly_ocr_spark.operators.extract_udf import extract_pages
    from lightly_ocr_spark.plans.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        os.sched_setaffinity(0, set(range(cpus)))
    except (AttributeError, OSError):
        pass
    spark = build_session(
        "lsh-cap-recall", cores=cpus * 3 // 2, shuffle_partitions=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )
    pages_dir = ensure_bench_pages(n)
    pages = spark.read.parquet(pages_dir).select("url", "warc_ts", "html")
    warm = pages.limit(cpus * 64).repartition(cpus * 2)
    extract_pages(warm).agg(F.count("*")).collect()

    TWIN = 1_000_000_000_000
    base = (
        extract_pages(pages)
        .select(F.xxhash64("url").alias("doc_id"), "text")
        .filter(F.length("text") > 0)
        .withColumn(
            "doc_id",
            F.abs(F.col("doc_id")) % TWIN,  # keep twin ids collision-free
        )
    )
    # ~1% of docs get a perturbed twin: every 20th token gets a suffix
    words = F.filter(F.split("text", r"\s+"), lambda w: F.length(w) > 0)
    perturbed = F.concat_ws(
        " ",
        F.zip_with(
            words,
            F.sequence(F.lit(1), F.size(words)),
            lambda w, i: F.when(i % 20 == 0, F.concat(w, F.lit("qx")))
            .otherwise(w),
        ),
    )
    planted_src = base.filter(F.pmod("doc_id", F.lit(97)) == 0)
    twins = planted_src.select(
        (F.col("doc_id") + TWIN).alias("doc_id"), perturbed.alias("text")
    )
    corpus = base.unionByName(twins).persist()
    n_docs = corpus.count()
    n_planted = twins.count()

    t0 = time.time()
    sig = minhash_signatures(corpus, ngram=3)
    stacked = band_buckets(sig).select("doc_id", "band", "bh").persist()
    stacked.count()
    sig_s = round(time.time() - t0, 1)

    sizes = (
        stacked.groupBy("band", "bh")
        .agg(F.count_distinct("doc_id").alias("sz"))
        .filter(F.col("sz") > 1)
    )
    tail = sizes.orderBy(F.col("sz").desc()).limit(8).collect()
    planted_ids = planted_src.select(F.col("doc_id").alias("id_a"))

    out = {
        "n_docs": n_docs, "n_planted_pairs": n_planted,
        "signature_build_s": sig_s,
        "bucket_size_tail": [r["sz"] for r in tail],
        "caps": {},
    }
    for cap in [None, 2000, 500, 100]:
        t0 = time.time()
        pairs = _pairs_from_stacked(cap_buckets(stacked, cap)).persist()
        n_pairs = pairs.count()
        wall = round(time.time() - t0, 1)
        hit = (
            pairs.filter(F.col("id_b") == F.col("id_a") + TWIN)
            .join(planted_ids, "id_a", "left_semi")
            .count()
        )
        pairs.unpersist()
        out["caps"][str(cap)] = {
            "candidate_pairs": n_pairs,
            "planted_recall": round(hit / max(n_planted, 1), 4),
            "pairs_join_s": wall,
        }
        print(f"cap={cap}: pairs={n_pairs} recall={hit}/{n_planted} "
              f"wall={wall}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
