"""SparkSession factory with the engine's canonical configuration.

The graft of the reference's pipeline assembly (`pipeline.py:47-62`
``prepModel``): one place that fixes execution knobs instead of model
choices.  All settings are plain public Spark configuration:

* AQE on (runtime re-plan, skew-join splitting) — the analog of the
  reference's shape-adaptive resize (`imgproc.py:38-65`);
* Arrow enabled with a bounded batch size — the collate/batch analog
  (`dataset.py:68-101`, batch 64);
* shuffle partitions sized to cores for local runs — on a real cluster pass
  ``spark.sql.shuffle.partitions`` ≈ 2-3× total executor cores via
  ``spark-submit --conf``;
* a generated-class cache that holds every job's working set — the analog
  of the reference preparing its model once and serving every call from
  it (`pipeline.py:106-112`).  Spark keys each Janino-compiled class by
  its generated source and keeps at most
  ``spark.sql.codegen.cache.maxEntries`` of them, LRU; the default is 100.
  One curate call on the perfbench corpus generates over 100 classes
  (the first call of a session 125-135), so at 100 every warm call
  evicted what the next one needed: it recompiled 104 classes, and each
  warm crawl batch 58-63.  Sized to the largest measured working set
  (CODEGEN_CACHE_ENTRIES), a warm repeat compiles none.  A static conf:
  it applies only when the builder creates the session, so a session
  that already exists in the JVM keeps its own value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Docs per Arrow batch into the Python workers.  Small batches pipeline the
# JVM scan with Python extraction (measured: 512 ≈ 2.9x faster than 8192 at
# ~2 KB/doc).  Budget ~1-4 MB per batch: for ~100 KB Common-Crawl docs the
# equivalent setting is 16-64 rows — tune per corpus byte size, not row count.
ARROW_BATCH_ROWS = 512

# Local parquet files are small; the 128 MB default bin-packs them into a
# handful of scan partitions and strands cores.  16 MB keeps local[N] busy;
# on a real cluster with ~1 GB files the default is fine (override per job).
MAX_PARTITION_BYTES = "16m"

# Generated classes kept per JVM (spark.sql.codegen.cache.maxEntries).
# Distinct classes one session compiles, counted with a cache too large
# to evict (JVM counter CodegenMetrics.METRIC_COMPILATION_TIME, 4 cores):
# the tier-1 suite 1,686; the 54 driver queries at sf0.1 597; a session
# running extract, curate (perfbench options, then every leg on) and three
# crawl batches with a compaction, twice, 252; perfbench --trace 1 curate
# 335 and extract 319.  4,000 is 2.4x the largest.  Each retained class
# costs metaspace (tens of KB), not heap.
CODEGEN_CACHE_ENTRIES = 4000


def build_session(
    app_name: str = "lightly-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    python_heavy: bool = False,
) -> SparkSession:
    """Create (or reuse) the canonical session: one task slot per core.

    ``cores=None`` uses ``local[*]``; an int pins ``local[N]`` — the
    two-parallelism scaling protocol (BASELINE.md §3) relies on this.

    ``python_heavy`` is accepted and ignored.  It used to declare
    ``spark.task.cpus=2`` for pandas-UDF jobs, halving the task slots
    although a Python worker uses one core.  On a 4-core box, the only
    size measured, one slot per core ran the extract benchmark at 1.44x
    the docs/s in 4 of 4 interleaved pairs (median 2,242 vs 1,555);
    whether ``task.cpus=2`` pays at larger sizes is open.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    sp = shuffle_partitions if shuffle_partitions is not None else max(n_cores, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
