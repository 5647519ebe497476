"""Shared pieces of the benchmark: paths, the session, the job calls and
their output checks."""

from __future__ import annotations

import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

HOST_CAP = 150
PASSAGE = (8, 3)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def dir_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def start_session(extra_conf: dict | None = None):
    """The session exactly as the job CLIs build it, plus its first action
    (Python worker start and imports).  Returns (spark, seconds)."""
    from lightly_ocr_spark.operators.extract_udf import extract_pages
    from lightly_ocr_spark.plans.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", cores=nproc(), python_heavy=True,
                          extra_conf=extra_conf)
    spark.createDataFrame(
        [("u", None, b"<p>first action</p>")],
        "url string, warc_ts timestamp, html binary",
    ).transform(extract_pages).collect()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM the sessions of this process ran in and wait for it, so
    a run leaves no process behind (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def warm_up(home, spark, corpus: str, work: str) -> float:
    """The session's first call of the job, on the corpus's first crawl
    drop: the first call is the cold one (code generation, JIT, Python
    worker imports), and those costs hardly depend on the input size.
    Returns its wall."""
    t = time.perf_counter()
    home(spark, os.path.join(corpus, "drops", "drop-0.parquet"),
         os.path.join(work, "warm-0"))
    return time.perf_counter() - t


def task_counts(spark) -> tuple[int, int, int]:
    """(attempted tasks, failed tasks, failed jobs) from statusTracker."""
    st = spark.sparkContext.statusTracker()
    done = failed = failed_jobs = 0
    for jid in st.getJobIdsForGroup(None):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        failed_jobs += job.status == "FAILED"
        for sid in job.stageIds:
            s = st.getStageInfo(sid)
            if s is not None:
                done += s.numCompletedTasks
                failed += s.numFailedTasks
    return done + failed, failed, failed_jobs


def call_extract(spark, pages: str, out: str) -> dict:
    from lightly_ocr_spark.jobs.extract_job import run_extract

    return run_extract(spark, pages, out)


def call_curate(spark, pages: str, out: str) -> dict:
    from lightly_ocr_spark.jobs.curate_job import run_curate

    return run_curate(spark, pages, out, host_cap=HOST_CAP,
                      passage_dedup=PASSAGE)


HOME = {"extract": call_extract, "curate": call_curate}


def check_extract_out(pages: str, out: str, truth: dict) -> list[str]:
    from perfbench import checks

    return checks.check_extract(
        checks.read_rows([pages], ["url", "html"]),
        checks.read_rows([os.path.join(out, d) for d in os.listdir(out)
                          if d.startswith("slice=")], ["url", "text"]),
        truth)


def check_curate_out(manifest: dict, out: str, truth: dict) -> list[str]:
    from perfbench import checks

    return checks.check_curate(
        manifest,
        checks.read_rows([os.path.join(out, "data")], ["url", "text"]),
        truth)


def check_home(workload: str, corpus: str, out: str, summary: dict,
               truth: dict) -> list[str]:
    if workload == "extract":
        return check_extract_out(os.path.join(corpus, "pages"), out, truth)
    return check_curate_out(summary, out, truth)
