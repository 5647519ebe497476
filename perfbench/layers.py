"""The traced run: every layer of every job, each call in its own span.

`run_all` runs, in the traced session,

1. a cold `run_extract` on the corpus's first drop, the call the tracing
   overhead is measured on; then the workload's own job (its *home* job)
   as the untraced runs call it: its warm-up call on the first drop (on
   `extract`, the cold call was that), then warm on the whole corpus;
2. the single-thread kernels, and the layer-isolation suite on inputs
   materialised beforehand: the scan and the extraction crossing into
   noop sinks, and the dedup and enrichment steps;
3. the crawl loop over the corpus's three drops, with one
   fingerprint-index compaction after the first two appends, and a replay
   of the last batch;
4. the other job: on `curate` a warm extract call, on `extract` a curate
   call on the crawl drops.

`layer_metrics` turns that record plus the parsed event log into the
per-layer metrics of BENCHMARK.json.  Span names are
``<workload>.<module>[.<step>]``; spans ending in ``.build`` cover only the
construction of a DataFrame, so any Spark job inside one is a plan-build
job.
"""

from __future__ import annotations

import contextlib
import os
import statistics

from perfbench import checks
from perfbench.common import (
    HOME,
    PASSAGE,
    call_curate,
    call_extract,
    check_curate_out,
    check_extract_out,
    dir_bytes,
    dir_files,
    nproc,
    warm_up,
)
from perfbench.trace import jobs_wall, stage_summary, tree_cpu_s

KERNEL_SAMPLE = 1000
KERNEL_REPEATS = 3
PDF_SAMPLE = 100


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _count_local_checkpoints(df_class, box: list):
    """Count DataFrame.localCheckpoint calls (one per connected-components
    materialisation) for the duration of the block."""
    orig = df_class.localCheckpoint

    def counted(self, *a, **kw):
        box.append(1)
        return orig(self, *a, **kw)

    df_class.localCheckpoint = counted
    try:
        yield
    finally:
        df_class.localCheckpoint = orig


def run_all(spark, tracer, workload: str, corpus: str, truth: dict,
            work: str, rec: dict) -> None:
    pages = os.path.join(corpus, "pages")
    drops = os.path.join(corpus, "drops")
    # the crawl drops, and the curate run on the extract corpus, cover
    # only the rows listed in the sidecar's drops
    drop_truth = dict(truth, rows=sum(len(d) for d in truth["drops"]))
    w = workload
    me = os.getpid()
    rec["cores"] = nproc()
    rec["task_slots"] = spark.sparkContext.defaultParallelism // int(
        spark.conf.get("spark.task.cpus", "1"))
    rec["arrow_batch_rows"] = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    # the overhead is measured on the cheapest cold call: a curate call
    # would cost ~18 s here and again in the reference
    with tracer.span(f"{w}.jobs.extract_job.cold") as s:
        warm_up(call_extract, spark, corpus, os.path.join(work, "cold"))
    rec["cold_wall"] = s["end"] - s["start"]
    if w != "extract":
        with tracer.span(f"{w}.jobs.{w}_job.warm_up"):
            warm_up(HOME[w], spark, corpus, work)

    home_out = os.path.join(work, "home")
    cpu0 = tree_cpu_s(me)
    with tracer.span(f"{w}.jobs.{w}_job") as s:
        summary = HOME[w](spark, pages, home_out)
    rec["home"] = {"span": len(tracer.spans) - 1,
                   "wall": s["end"] - s["start"],
                   "cpu_s": tree_cpu_s(me) - cpu0,
                   "legs_s": sum((summary.get("legs") or {}).values())}

    _kernels(w, pages, tracer, rec)
    _isolation(spark, tracer, w, pages, drops, work, rec)
    _crawl(spark, tracer, w, drops, drop_truth, work, rec)

    # jobs.extract_job.write_s needs a warm extract call on these pages:
    # on `extract` that is the home call
    if w == "extract":
        rec["extract_wall"] = rec["home"]["wall"]
        rec["errors"] += check_extract_out(pages, home_out, truth)
        out = os.path.join(work, "curate")
        with tracer.span(f"{w}.jobs.curate_job"):
            rec["curate"] = call_curate(spark, drops, out)
        rec["errors"] += check_curate_out(rec["curate"], out, drop_truth)
    else:
        extract_out = os.path.join(work, "extract")
        with tracer.span(f"{w}.jobs.extract_job") as s:
            call_extract(spark, pages, extract_out)
        rec["extract_wall"] = s["end"] - s["start"]
        rec["errors"] += check_extract_out(pages, extract_out, truth)
        rec["curate"], out = summary, home_out
        rec["errors"] += check_curate_out(summary, home_out, truth)
    kept = {r["url"] for r in checks.read_rows([os.path.join(out, "data")],
                                               ["url"])}
    rec["near_caught"], rec["near_injected"] = checks.near_recall(
        drop_truth, kept)


def _crawl(spark, tracer, w, drops, truth, work, rec) -> None:
    from lightly_ocr_spark.jobs.compact_job import run_compact
    from lightly_ocr_spark.jobs.crawl_job import run_crawl_batch

    out, idx, near = (os.path.join(work, "crawl", d)
                      for d in ("corpus", "fp", "near"))
    n = len(truth["drops"])
    batches, spans = [], []

    def batch(k: int) -> dict:
        return run_crawl_batch(
            spark, os.path.join(drops, f"drop-{k}.parquet"), out, idx,
            batch_id=f"b{k}", near_index_path=near)

    for k in range(n):
        if k == n - 1:
            with tracer.span(f"{w}.jobs.compact_job") as s:
                rec["compact"] = run_compact(spark, idx, idx,
                                             partition_by=["fp_prefix"])
            rec["compact"]["s"] = s["end"] - s["start"]
        with tracer.span(f"{w}.jobs.crawl_job.batch-{k}") as s:
            m = batch(k)
        spans.append(len(tracer.spans) - 1)
        m["wall"] = s["end"] - s["start"]
        batches.append(m)
    rec["crawl"] = {
        "batches": batches, "spans": spans,
        "index_files": dir_files(idx) + dir_files(near),
        "index_bytes": dir_bytes(idx) + dir_bytes(near),
    }
    kept = {r["url"] for r in checks.read_rows([out], ["url"])}
    rec["errors"] += checks.check_crawl(batches, kept, truth)
    before = checks.count_rows([idx])
    replay = batch(n - 1)
    rec["errors"] += checks.check_replay(replay, before,
                                         checks.count_rows([idx]))


def _kernels(w, pages, tracer, rec) -> None:
    """Single-thread kernels in this process over a fixed sample."""
    import pandas as pd

    from lightly_ocr_spark.functions.extract import extract_batch
    from lightly_ocr_spark.functions.pdf import (
        PDF_MAGIC,
        extract_pdf_text,
        make_pdf,
    )

    rows = checks.read_rows([pages], ["html"])
    html = pd.Series([r["html"] for r in rows
                      if not r["html"].startswith(PDF_MAGIC)][:KERNEL_SAMPLE])
    pdfs = [r["html"] for r in rows if r["html"].startswith(PDF_MAGIC)]
    walls = []
    for _ in range(KERNEL_REPEATS):
        with tracer.span(f"{w}.functions.extract") as s:
            out = extract_batch(html)
        walls.append(s["end"] - s["start"])
    rec["kernel"] = {"docs": len(html), "wall": statistics.median(walls),
                     "blocks": int(out["n_blocks"].sum())}
    if not pdfs:  # a corpus without PDFs: typeset its own extracted text
        pdfs = [make_pdf(t) for t in out["text"] if t][:PDF_SAMPLE]
    walls = []
    for _ in range(KERNEL_REPEATS):
        with tracer.span(f"{w}.functions.pdf") as s:
            for p in pdfs:
                extract_pdf_text(p)
        walls.append(s["end"] - s["start"])
    rec["pdf_kernel"] = {"docs": len(pdfs), "wall": statistics.median(walls)}


def _isolation(spark, tracer, w, pages, drops, work, rec) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lightly_ocr_spark.jobs.curate_job import NEAR_DUP_MIN_AGREEMENT
    from lightly_ocr_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_K,
        band_candidate_pairs,
        connected_components,
        minhash_signatures,
        passage_dedup_docs,
    )
    from lightly_ocr_spark.operators.enrich import enrich_pages
    from lightly_ocr_spark.operators.extract_udf import extract_pages
    from lightly_ocr_spark.schemas import PAGES_SCHEMA

    iso = os.path.join(work, "iso")
    read = spark.read.parquet

    def timed(name: str, fn) -> float:
        with tracer.span(name) as s:
            fn()
        return s["end"] - s["start"]

    scan = spark.read.schema(PAGES_SCHEMA).parquet(pages)
    rec["scan_s"] = timed(f"{w}.sources",
                          lambda: _noop(scan.select("url", "warc_ts", "html")))
    with tracer.span(f"{w}.operators.extract_udf.build"):
        ex = extract_pages(scan)
    rec["udf_s"] = timed(f"{w}.operators.extract_udf", lambda: _noop(ex))

    # the near-dedup input exactly as curate shapes it: one row per url
    # (newest fetch), then one per content hash (min url)
    one = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), "extract_sha256")
    one_sha = Window.partitionBy("extract_sha256").orderBy("url")
    (extract_pages(spark.read.schema(PAGES_SCHEMA).parquet(drops),
                   keep_empty=False)
     .withColumn("rn", F.row_number().over(one)).filter("rn = 1")
     .withColumn("rn", F.row_number().over(one_sha)).filter("rn = 1")
     .select("url", "text").write.parquet(f"{iso}/texts"))
    texts = read(f"{iso}/texts")

    with tracer.span(f"{w}.operators.dedup.signatures.build"):
        sig = minhash_signatures(
            texts.select(F.col("url").alias("doc_id"), "text"),
            k=MINHASH_K, ngram=3)
    rec["signatures_s"] = timed(f"{w}.operators.dedup.signatures",
                                lambda: _noop(sig))
    sig.write.parquet(f"{iso}/sig")
    sig = read(f"{iso}/sig")
    with tracer.span(f"{w}.operators.dedup.candidates.build"):
        cand = band_candidate_pairs(sig, MINHASH_K, MINHASH_BANDS)
    timed(f"{w}.operators.dedup.candidates",
          lambda: cand.write.parquet(f"{iso}/cand"))
    cand = read(f"{iso}/cand")
    agree = sum((F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("int")
                for i in range(MINHASH_K))
    (cand.join(sig.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
     .join(sig.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
     .filter(agree >= int(NEAR_DUP_MIN_AGREEMENT * MINHASH_K))
     .select("id_a", "id_b").write.parquet(f"{iso}/verified"))
    verified = read(f"{iso}/verified")
    rec["candidate_pairs"] = cand.count()
    rec["verified_pairs"] = verified.count()

    calls: list = []
    with _count_local_checkpoints(type(verified), calls), \
            tracer.span(f"{w}.operators.dedup.components") as s:
        comp = connected_components(verified)
        comp.count()
    rec["components_s"] = s["end"] - s["start"]
    # two materialisations (edges, initial labels), then one per round
    rec["components_rounds"] = len(calls) - 2
    comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("url")).write.parquet(f"{iso}/near_drops")
    deduped = texts.join(read(f"{iso}/near_drops"), "url", "left_anti")
    # the curate job hands passage dedup this unmaterialised anti-join;
    # building on it shows whether plan construction runs Spark jobs
    with tracer.span(f"{w}.operators.dedup.passage.anti_join.build"):
        passage_dedup_docs(deduped, id_col="url", n=PASSAGE[0],
                           min_docs=PASSAGE[1])
    deduped.write.parquet(f"{iso}/deduped")
    deduped = read(f"{iso}/deduped")
    with tracer.span(f"{w}.operators.dedup.passage.build"):
        cleaned = passage_dedup_docs(deduped, id_col="url", n=PASSAGE[0],
                                     min_docs=PASSAGE[1])
    rec["passage_s"] = timed(f"{w}.operators.dedup.passage",
                             lambda: _noop(cleaned))
    with tracer.span(f"{w}.operators.enrich.build"):
        enriched = enrich_pages(deduped)
    rec["enrich_s"] = timed(f"{w}.operators.enrich",
                            lambda: _noop(enriched))
    rec["enrich_docs"] = deduped.count()


# --- metrics -------------------------------------------------------------------

def _median_leg(batches: list[dict], leg: str) -> float:
    return statistics.median(b["legs"].get(leg, 0.0) for b in batches)


def layer_metrics(rec: dict) -> dict:
    """Per-layer metrics from a traced-run record (pure function)."""
    log, spans, att = rec["log"], rec["spans"], rec["attribution"]
    cores = rec.get("cores") or nproc()
    slots = rec["task_slots"]
    home = rec["home"]
    hs = spans[home["span"]]
    hsum = stage_summary(log, att[home["span"]])
    wall = home["wall"]
    docs = rec["docs"]

    build = [i for i, s in enumerate(spans) if s["name"].endswith(".build")]
    build_jobs = [j for i in build for j in att[i]]
    plan_build_s = sum(jobs_wall(log, att[i], spans[i]["start"],
                                 spans[i]["end"]) for i in build)

    k = rec["kernel"]
    kernel_core = k["docs"] / k["wall"]
    base = cores * kernel_core
    udf = docs / rec["udf_s"]

    cur = rec["curate"]["legs"]
    crawl = rec["crawl"]
    batches = crawl["batches"]
    per_batch = [stage_summary(log, att[i]) for i in crawl["spans"]]
    # the exact-dedup leg probes the fingerprint index: compare the last
    # batch before compaction, and the one after it, with the first
    probe = [b["legs"]["extract_exact_dedup"] for b in batches]
    comp = rec["compact"]

    return {
        "functions.extract.docs_per_s_core": kernel_core,
        "functions.extract.blocks_per_doc": k["blocks"] / k["docs"],
        "functions.pdf.docs_per_s_core":
            rec["pdf_kernel"]["docs"] / rec["pdf_kernel"]["wall"],
        "sources.scan_s": rec["scan_s"],
        "operators.extract_udf.docs_per_s": udf,
        "operators.extract_udf.spark_tax": 1.0 - udf / base,
        "operators.extract_udf.spark_tax_base_docs_per_s": base,
        "plans.session.task_slots": slots,
        "plans.session.arrow_batch_rows": rec["arrow_batch_rows"],
        "spark.slot_busy_frac": hsum["run_ms"] / 1000 / (wall * slots),
        "spark.cpu_busy_frac": home["cpu_s"] / (wall * cores),
        "spark.shuffle_write_bytes": hsum["shuffle_write"],
        "spark.shuffle_read_bytes": hsum["shuffle_read"],
        "spark.spill_bytes": hsum["spill"],
        "spark.gc_s": hsum["gc_ms"] / 1000,
        "spark.task_skew": hsum["skew"],
        "spark.stages": hsum["stages"],
        "spark.tasks": hsum["tasks"],
        "spark.plan_build_jobs": len(build_jobs),
        "spark.plan_build_s": plan_build_s,
        "jobs.extract_job.write_s": rec["extract_wall"] - rec["udf_s"],
        "operators.dedup.signatures_s": rec["signatures_s"],
        "operators.dedup.candidate_pairs": rec["candidate_pairs"],
        "operators.dedup.verified_pairs": rec["verified_pairs"],
        # no candidates means no wasted verification work
        "operators.dedup.pair_precision":
            rec["verified_pairs"] / rec["candidate_pairs"]
            if rec["candidate_pairs"] else 1.0,
        # a corpus without injected near copies has nothing to miss
        "operators.dedup.near_recall":
            rec["near_caught"] / rec["near_injected"]
            if rec["near_injected"] else 1.0,
        "operators.dedup.components_s": rec["components_s"],
        "operators.dedup.components_rounds": rec["components_rounds"],
        "operators.dedup.passage_s": rec["passage_s"],
        "operators.enrich.docs_per_s": rec["enrich_docs"] / rec["enrich_s"],
        "jobs.curate_job.leg_extract_exact_dedup_s":
            cur["extract_exact_dedup"],
        "jobs.curate_job.leg_near_dup_components_s":
            cur["near_dup_components"],
        "jobs.curate_job.leg_gates_enrich_write_s": cur["gates_enrich_write"],
        "jobs.crawl_job.batch_commit_s_p50":
            statistics.median(b["wall"] for b in batches),
        "jobs.crawl_job.stages_per_batch":
            statistics.median(p["stages"] for p in per_batch),
        "jobs.crawl_job.tasks_per_batch":
            statistics.median(p["tasks"] for p in per_batch),
        "jobs.crawl_job.leg_extract_exact_dedup_s":
            _median_leg(batches, "extract_exact_dedup"),
        "jobs.crawl_job.leg_near_dedup_s": _median_leg(batches, "near_dedup"),
        "jobs.crawl_job.leg_corpus_write_s":
            _median_leg(batches, "corpus_write"),
        "jobs.crawl_job.leg_near_index_append_s":
            _median_leg(batches, "near_index_append"),
        "jobs.crawl_job.leg_fp_index_append_s":
            _median_leg(batches, "fp_index_append"),
        "jobs.crawl_job.probe_growth": probe[-2] / probe[0],
        "jobs.crawl_job.probe_growth_after_compact": probe[-1] / probe[0],
        "jobs.crawl_job.index_files": crawl["index_files"],
        "jobs.crawl_job.index_bytes": crawl["index_bytes"],
        "jobs.compact_job.s": comp["s"],
        "jobs.compact_job.bytes_rewritten": comp["bytes_out"],
        "jobs.compact_job.files_before": comp["files_in"],
        "jobs.compact_job.files_after": comp["files_out"],
        "process.peak_rss_mb": rec["peak_rss_bytes"] / 2**20,
        # the same call on the same input both sides, so 1 − traced docs/s
        # ÷ untraced docs/s is 1 − untraced wall ÷ traced wall
        "trace.overhead_frac":
            1.0 - rec["reference_cold_wall"] / rec["cold_wall"],
        # the ledger: a job that times its own legs (curate) is covered by
        # them, any other by the Spark jobs it ran
        "trace.unattributed_frac": 1.0 - (
            home["legs_s"]
            or jobs_wall(log, att[home["span"]], hs["start"], hs["end"])
        ) / wall,
    }
