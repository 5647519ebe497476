"""Job option rules: each lives once, in the job's option check, and a bad
value fails before any Spark work through both doors — the API raises
ValueError without submitting a Spark job, and the CLI exits with usage
code 2 without starting a session."""

import os
import sys

import pytest

import lightly_ocr_spark.plans.session as session
from lightly_ocr_spark.jobs import crawl_job, curate_job

pytestmark = pytest.mark.spark


def _curate(**opts):
    return lambda spark, pages, d: curate_job.run_curate(
        spark, pages, os.path.join(d, "curated"), **opts)


API_CASES = {
    "nb_drop_without_model": _curate(nb_drop="spam"),
    "passage_n_below_2": _curate(passage_dedup=(1, 3)),
    "passage_min_below_2": _curate(passage_dedup=(8, 1)),
    "curate_near_max_bucket_0": _curate(near_max_bucket=0),
    "chunk_stride_above_window": _curate(chunk=(4, 8)),
    "chunk_stride_0": _curate(chunk=(4, 0)),
    "pack_without_chunk": _curate(pack_budget=64),
    "shuffle_without_chunk": _curate(shuffle_seed=1),
    "pack_below_1": _curate(chunk=(8, 4), pack_budget=0),
    "crawl_near_max_bucket_0": lambda spark, pages, d: crawl_job.run_crawl_batch(
        spark, pages, os.path.join(d, "corpus"), os.path.join(d, "idx"),
        near_index_path=os.path.join(d, "near"), near_max_bucket=0),
    "crawl_stream_without_checkpoint":
        lambda spark, pages, d: crawl_job.run_crawl_stream(
            spark, pages, os.path.join(d, "corpus"), os.path.join(d, "idx"),
            None),
}


@pytest.mark.parametrize("case", sorted(API_CASES))
def test_api_bad_option_raises_before_any_spark_job(spark, tmp_path, case):
    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://o.example/{i}", None,
          f"<p>{' '.join(f'w{i}x{j}' for j in range(30))}</p>".encode())
         for i in range(4)],
        "url string, warc_ts timestamp, html binary",
    ).write.parquet(pages)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    with pytest.raises(ValueError):
        API_CASES[case](spark, pages, str(tmp_path))
    assert [j for j in tracker.getJobIdsForGroup(None) if j > before] == []


CLI_CASES = {
    "curate": [
        ["--nb-drop", "spam"],
        ["--passage-dedup", "1,3"],
        ["--passage-dedup", "8,1"],
        ["--passage-dedup", "8"],
        ["--near-max-bucket", "0"],
        ["--chunk", "4,8"],
        ["--chunk", "4,x"],
        ["--pack", "64"],
        ["--shuffle-seed", "1"],
        ["--chunk", "8,4", "--pack", "0"],
    ],
    "crawl": [
        ["--near-max-bucket", "0"],
        ["--stream"],
    ],
}
CLI_BASE = {
    "curate": (curate_job.main, ["--pages", "p", "--out", "o"]),
    "crawl": (crawl_job.main, ["--input", "p", "--out", "o", "--index", "i"]),
}


@pytest.mark.parametrize("job,k", [
    (job, k) for job, cases in CLI_CASES.items() for k in range(len(cases))
])
def test_cli_bad_option_exits_2_before_spark(monkeypatch, job, k):
    def no_session(*a, **kw):
        raise AssertionError("build_session called")

    monkeypatch.setattr(session, "build_session", no_session)
    main, base = CLI_BASE[job]
    monkeypatch.setattr(sys, "argv", [job, *base, *CLI_CASES[job][k]])
    with pytest.raises(SystemExit) as e:
        main()
    assert e.value.code == 2


def test_curate_raise_releases_disk_only_caches(spark, tmp_path):
    """A curate call that raises mid-run (here: a missing NB model dir,
    read after the exact-dedup cache is filled) leaves no DISK_ONLY
    cache behind in the reused session."""
    def disk_only():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in rdds.keySet()
                if rdds.get(k).getStorageLevel().useDisk()
                and not rdds.get(k).getStorageLevel().useMemory()}

    pages = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://c.example/{i}", None,
          f"<p>{' '.join(f'c{i}y{j}' for j in range(30))}</p>".encode())
         for i in range(6)],
        "url string, warc_ts timestamp, html binary",
    ).write.parquet(pages)
    before = disk_only()
    with pytest.raises(Exception, match="missing-model"):
        curate_job.run_curate(spark, pages, str(tmp_path / "out"),
                              nb_model_path=str(tmp_path / "missing-model"))
    assert disk_only() - before == set()
