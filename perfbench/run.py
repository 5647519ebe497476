"""The repository benchmark: the user-facing jobs on seeded corpora.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json; ``--trace
1`` is the separate traced run that gives the per-layer metrics.  Either
way the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` and the exit code is
non-zero when an output check fails.  Everything the run writes lives under
``.perfbench/`` in the repository root; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402  (stdlib-only at import time)
    HOME,
    ROOT,
    WORK,
    call_extract,
    check_home,
    dir_bytes,
    start_session,
    stop_jvm,
    task_counts,
    warm_up,
)
from perfbench.trace import (  # noqa: E402
    Tracer,
    TreeSampler,
    attribute,
    event_log_files,
    parse_event_log,
)


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from the checkout root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def closed_loop(call, seconds: float, min_calls: int) -> list[float]:
    """One caller, each call waiting for the previous one: at least
    `min_calls` calls, then another only while, at the pace of the last
    one, it would end by the deadline."""
    walls: list[float] = []
    t_start = time.perf_counter()
    while True:
        t = time.perf_counter()
        call(len(walls))
        walls.append(time.perf_counter() - t)
        if len(walls) >= min_calls and \
                time.perf_counter() - t_start + walls[-1] > seconds:
            return walls


# --- untraced run ----------------------------------------------------------------

def run_untraced(workload: str, corpus: str, truth: dict,
                 seconds: float, work: str) -> dict:
    home = HOME[workload]
    pages = os.path.join(corpus, "pages")
    spark, setup_s = start_session()
    record: dict = {"setup_s": setup_s, "docs": truth["rows"], "errors": [],
                    "calls_failed": 0}
    try:
        record["warm_walls"] = [warm_up(home, spark, corpus, work)]
        summaries = []

        def call(k: int) -> None:
            # each call writes a directory of its own; all are deleted with
            # the work directory, after the timed calls
            summaries.append(home(spark, pages,
                                  os.path.join(work, f"out-{k}")))

        # at least two timed calls: on a contended box single curate calls
        # read up to 1.7x their neighbours
        record["walls"] = closed_loop(call, seconds, 2)
        record["stored_bytes"] = dir_bytes(os.path.join(work, "out-0"))
        record["errors"] = check_home(workload, corpus,
                                      os.path.join(work, "out-0"),
                                      summaries[0], truth)
        record["legs"] = [s.get("legs") for s in summaries]
    except Exception as e:  # a failed job call is counted, not hidden
        traceback.print_exc()
        record["calls_failed"] += 1
        record["errors"].append(f"job call failed: {e!r}")
    record["tasks"], record["failed_tasks"], record["failed_jobs"] = \
        task_counts(spark)
    spark.stop()
    return record


def e2e_metrics(record: dict, docs: int) -> dict:
    walls = record["walls"]
    return {
        "setup_s": record["setup_s"],
        "docs_per_s": statistics.median(docs / w for w in walls),
        "stored_bytes_per_doc": record["stored_bytes"] / docs,
    }


# --- traced run ----------------------------------------------------------------

def reference_main(corpus: str, work: str) -> int:
    """The overhead reference (`--reference`): an untraced session on the
    same corpus that times only its cold first call, `run_extract` on the
    first drop, once a line on standard input says the traced session is
    set up (EOF: stop without it).  Its output is not checked here; the
    traced run checks the same job on the same corpus."""
    spark, _ = start_session()
    go = sys.stdin.readline()
    wall = warm_up(call_extract, spark, corpus, work) if go else None
    spark.stop()
    stop_jvm()
    shutil.rmtree(work, ignore_errors=True)
    if wall is None:
        return 1
    print(json.dumps({"cold_wall_s": wall}))
    return 0


def run_traced(workload: str, corpus: str, truth: dict, work: str,
               run_id: str, runs: str, seed: int) -> dict:
    """The traced session (see layers.py).  Its first call is a cold
    `run_extract` on the first drop; the tracing overhead compares it with
    the same call of the reference run, made while this session waits."""
    from perfbench import layers

    rec = {"docs": truth["rows"], "errors": [], "calls_failed": 0}

    # the reference runs in a process of its own, made now so that the
    # overhead compares the same code on the same box; its set-up overlaps
    # this one, and its timed call runs while this session waits idle
    ref = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--reference"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    try:
        spark, rec["traced_setup_s"] = start_session({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    except BaseException:
        ref.communicate("")
        raise
    out, _ = ref.communicate("go\n")
    if ref.returncode:
        rec["calls_failed"] += 1
        rec["errors"].append(f"reference run exited {ref.returncode}")
    else:
        rec["reference_cold_wall"] = json.loads(
            out.splitlines()[-1])["cold_wall_s"]
    tracer = Tracer(run_id, spark)
    try:
        with TreeSampler() as rss:
            layers.run_all(spark, tracer, workload, corpus, truth, work, rec)
        rec["peak_rss_bytes"] = rss.peak
    except Exception as e:
        traceback.print_exc()
        rec["calls_failed"] += 1
        rec["errors"].append(f"traced run failed: {e!r}")
    rec["tasks"], rec["failed_tasks"], rec["failed_jobs"] = task_counts(spark)
    spark.stop()
    tracer.dump(os.path.join(runs, run_id + ".spans.json"))
    rec["spans"] = tracer.spans
    if not rec["calls_failed"]:
        rec["log"] = parse_event_log(event_log_files(log_dir))
        rec["attribution"] = attribute(rec["log"], tracer.spans)
    return rec


# --- output ------------------------------------------------------------------

def emit(metrics: dict, spec_metrics: list[dict], correct: bool,
         attempted: int, failed: int) -> dict:
    """Print every metric of the spec by name with its unit, then the
    result object as the last line.  A metric missing from `metrics` is a
    benchmark bug and raises."""
    out = {}
    for m in spec_metrics:
        v = float(metrics[m["name"]])
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v:.6g} {m['unit']}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": out}
    print(json.dumps(result))
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(HOME))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the traced run's overhead reference (see reference_main)
    ap.add_argument("--reference", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    _prepare_env()
    try:
        import lightly_ocr_spark  # noqa: F401
        from bench import box_state, steal_ticks  # frozen, read-only
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import corpus as gen
    from perfbench import layers

    spec = load_spec()
    corpus = gen.ensure_corpus(os.path.join(WORK, "corpus"), args.workload,
                               args.seed)
    truth = gen.load_truth(corpus)
    mode = "ref" if args.reference else f"t{args.trace}"
    run_id = f"{args.workload}-s{args.seed}-{mode}-{int(time.time())}"
    work = os.path.join(WORK, "run", run_id)
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    if args.reference:
        return reference_main(corpus, work)

    box = {"pre": box_state()}
    steal0, t0 = steal_ticks(), time.time()
    if args.trace:
        rec = run_traced(args.workload, corpus, truth, work, run_id, runs,
                         args.seed)
    else:
        rec = run_untraced(args.workload, corpus, truth, args.seconds, work)
    stop_jvm()
    wall = time.time() - t0
    box.update(post=box_state(), wall_s=wall,
               stolen_cores=(steal_ticks() - steal0) / 100.0 / wall)

    attempted = rec["tasks"] + len(rec.get("walls", [])) + rec["calls_failed"]
    failed = rec["failed_tasks"] + rec["failed_jobs"] + rec["calls_failed"]
    correct = not rec["errors"]
    for e in rec["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"box {json.dumps(box)}")
    if not args.trace:
        print(f"calls {len(rec.get('walls', []))} timed (docs_per_s is their "
              f"median), {len(rec.get('warm_walls', []))} warm-up")
    print(f"failed_frac {failed / max(attempted, 1):.6g} frac "
          f"({failed} of {attempted})")
    if correct and args.trace:
        metrics = layers.layer_metrics(rec)
        kind = "per_layer"
    elif correct:
        metrics = e2e_metrics(rec, truth["rows"])
        kind = "end_to_end"
    else:
        metrics, kind = {}, None
    artifact = {k: v for k, v in rec.items() if k not in ("log", "spans")}
    artifact.update(workload=args.workload, seed=args.seed, box=box,
                    metrics=metrics)
    with open(os.path.join(runs, run_id + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    if not correct:
        print(json.dumps({"correct": False, "attempted": max(attempted, 1),
                          "failed": failed, "metrics": {}}))
        return 1
    emit(metrics, spec[kind], correct, max(attempted, 1), failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
