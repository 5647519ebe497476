"""Warm job calls compile no code: the session's generated-class cache
holds a job's whole working set, so a repeat of a call whose plan shapes
have already run finds every class it needs and compiles nothing.  At
Spark's default of 100 entries, a curate call (about 100 classes)
evicted what the next call needed, and every warm call recompiled."""

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def compilations(spark) -> int:
    """Janino compilations so far in this JVM: one per generated class
    that missed the cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def small_pages(tmp_path_factory):
    from lightly_ocr_spark.sources.synthetic import write_pages_parquet

    d = str(tmp_path_factory.mktemp("cg_pages"))
    write_pages_parquet(d, n=300, files=2)
    return d


def test_build_session_sizes_the_codegen_cache(spark):
    from lightly_ocr_spark.plans.session import CODEGEN_CACHE_ENTRIES

    assert CODEGEN_CACHE_ENTRIES > 100
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)


def test_second_identical_curate_call_compiles_nothing(
    spark, small_pages, tmp_path
):
    """Every leg on: the call's working set (well over 100 classes)
    exceeds Spark's default cache."""
    from lightly_ocr_spark.jobs.curate_job import run_curate

    opts = dict(host_cap=150, passage_dedup=(8, 3), max_rep=0.5,
                min_fluency=-7.0, pii=True, chunk=(64, 48), shuffle_seed=1,
                pack_budget=256)
    first = run_curate(spark, small_pages, str(tmp_path / "warm"), **opts)
    before = compilations(spark)
    second = run_curate(spark, small_pages, str(tmp_path / "again"), **opts)
    assert compilations(spark) - before == 0
    assert {k: v for k, v in second.items() if k not in ("legs", "wall_s")} \
        == {k: v for k, v in first.items() if k not in ("legs", "wall_s")}


def test_repeated_crawl_batches_compile_nothing(spark, small_pages, tmp_path):
    """Two batches, the first against empty indexes and the second
    probing them, then the same two into fresh dirs: the second round
    runs only shapes the first already compiled."""
    from lightly_ocr_spark.jobs.crawl_job import run_crawl_batch

    pages = spark.read.parquet(small_pages)
    drops = []
    for k in range(2):
        drops.append(str(tmp_path / f"drop-{k}"))
        pages.filter(F.pmod(F.crc32("url"), F.lit(2)) == k) \
            .write.parquet(drops[-1])

    def crawl(run: str) -> list[dict]:
        d = str(tmp_path / run)
        return [run_crawl_batch(
            spark, drop, os.path.join(d, "corpus"), os.path.join(d, "fp"),
            near_index_path=os.path.join(d, "near"),
        ) for drop in drops]

    first = crawl("warm")
    before = compilations(spark)
    second = crawl("again")
    assert compilations(spark) - before == 0
    for a, b in zip(first, second):
        assert (a["n_unique"], a["n_near_unique"], a["rows_written"]) == \
            (b["n_unique"], b["n_near_unique"], b["rows_written"])
