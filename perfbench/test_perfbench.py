"""Fast tests of the benchmark itself, at tiny sizes and without Spark.

Run: python -m pytest perfbench/ -q
"""

from __future__ import annotations

import io
import json
import contextlib

from perfbench import checks, corpus, layers, run
from lightly_ocr_spark.oracle import oracle_extract


def _pages(rows):
    return [{"url": r["url"], "html": r["html"]} for r in rows]


def _oracle_out(rows, truth):
    return [{"url": r["url"],
             "text": truth["pdf_text"].get(r["url"])
             or oracle_extract(r["html"])["text"]} for r in rows]


def test_generator_is_deterministic_per_seed():
    for build in (corpus.build_extract, corpus.build_curate):
        a, ta = build(120, 7)
        b, tb = build(120, 7)
        c, _ = build(120, 8)
        assert [(r["url"], r["html"], r["drop"]) for r in a] == \
            [(r["url"], r["html"], r["drop"]) for r in b]
        assert ta == tb
        assert [r["html"] for r in a] != [r["html"] for r in c]


def test_curate_injections_are_disjoint_and_later():
    rows, truth = corpus.build_curate(300, 3)
    assert truth["revisits"] and truth["exact_copies"] and truth["near_copies"]
    drop = {}
    for r in rows:
        drop.setdefault(r["url"], []).append(r["drop"])
    for c in truth["exact_copies"] + truth["near_copies"]:
        assert drop[c["url"]][0] > drop[c["source"]][0]
    for r in truth["revisits"]:
        first, later = drop[r["url"]]
        assert later > first
    sources = [c["source"] for c in truth["exact_copies"] + truth["near_copies"]]
    sources += [r["url"] for r in truth["revisits"]]
    assert len(sources) == len(set(sources))


def test_extract_check_fails_on_planted_rows():
    rows, truth = corpus.build_extract(150, 5)
    out = _oracle_out(rows, truth)
    assert checks.check_extract(_pages(rows), out, truth) == []

    sample = checks.oracle_sample([r["url"] for r in rows
                                   if r["url"] not in truth["pdf_text"]])
    bad = [dict(o, text=o["text"] + "x") if o["url"] in sample else o
           for o in out]
    assert checks.check_extract(_pages(rows), bad, truth)
    pdf_url = next(iter(truth["pdf_text"]))
    bad = [dict(o, text="wrong") if o["url"] == pdf_url else o for o in out]
    assert checks.check_extract(_pages(rows), bad, truth)
    assert checks.check_extract(_pages(rows), out[1:], truth)


def _curate_fixture():
    rows, truth = corpus.build_curate(300, 3)
    truth["rows"] = len(rows)
    dropped = len(truth["revisits"]) + len(truth["exact_copies"])
    manifest = {"input_pages": len(rows), "extracted_nonempty": len(rows),
                "after_exact_dedup": len(rows) - dropped}
    near = {c["url"] for c in truth["near_copies"]}
    out = [{"url": r["url"], "text": "clean text"} for r in rows
           if r["url"] not in near]
    return manifest, out, truth


def test_curate_check_fails_on_planted_rows():
    manifest, out, truth = _curate_fixture()
    assert checks.check_curate(manifest, out, truth) == []
    off = dict(manifest, after_exact_dedup=manifest["after_exact_dedup"] + 1)
    assert checks.check_curate(off, out, truth)
    boiler = out[:-1] + [dict(out[-1], text=corpus.BOILERPLATE[0])]
    assert checks.check_curate(manifest, boiler, truth)
    kept_near = out + [{"url": c["url"], "text": "t"}
                       for c in truth["near_copies"]]
    assert checks.check_curate(manifest, kept_near, truth)


def test_crawl_checks_fail_on_planted_rows():
    rows, truth = corpus.build_curate(300, 3)
    truth["drops"] = [[r["url"] for r in rows if r["drop"] == k]
                      for k in range(corpus.DROPS)]
    want = checks.crawl_expectations(truth)
    assert want[0] == len(truth["drops"][0])  # nothing to drop yet
    batches = [{"n_unique": n} for n in want]
    near = {c["url"] for c in truth["near_copies"]}
    kept = {r["url"] for r in rows} - near
    assert checks.check_crawl(batches, kept, truth) == []
    planted = batches[:-1] + [{"n_unique": want[-1] + 1}]
    assert checks.check_crawl(planted, kept, truth)
    assert checks.check_crawl(batches, kept | near, truth)
    assert checks.check_replay({"skipped": True}, 10, 10) == []
    assert checks.check_replay({"skipped": False}, 10, 10)
    assert checks.check_replay({"skipped": True}, 10, 11)


def _fake_traced_record() -> dict:
    def span(name, start, end):
        return {"name": name, "start": start, "end": end, "parent": None,
                "run": "t"}

    spans = [span("extract.jobs.extract_job", 0.0, 10.0),
             span("extract.jobs.crawl_job.batch-0", 11.0, 12.0),
             span("extract.jobs.crawl_job.batch-1", 12.0, 13.0),
             span("extract.jobs.crawl_job.batch-2", 13.0, 14.0),
             span("extract.operators.extract_udf.build", 14.0, 14.5)]
    stage = {"tasks": 4, "failed": 0, "run_ms": 8000, "cpu_ns": 1, "gc_ms": 50,
             "spill": 0, "shuffle_read": 10, "shuffle_write": 10,
             "task_ms": [1000, 2000, 2500, 2500], "job": 0, "submit": 1.0,
             "done": 9.0}
    log = {"jobs": {0: {"submit": 1.0, "end": 9.0, "stages": [0]},
                    1: {"submit": 11.5, "end": 11.9, "stages": [1]},
                    2: {"submit": 13.1, "end": 13.2, "stages": [2]},
                    3: {"submit": 14.1, "end": 14.2, "stages": [3]}},
           "stages": {0: stage, 1: dict(stage, job=1), 2: dict(stage, job=2),
                      3: dict(stage, job=3)}}
    legs = {"extract_exact_dedup": 1.0, "near_dedup": 1.0,
            "corpus_write": 0.1, "near_index_append": 0.5,
            "fp_index_append": 0.5}
    return {
        "log": log, "spans": spans,
        "attribution": {0: [0], 1: [1], 2: [2], 3: [], 4: [3]},
        "cores": 4, "task_slots": 2, "arrow_batch_rows": 512, "docs": 100,
        "home": {"span": 0, "wall": 10.0, "cpu_s": 20.0, "legs_s": 0},
        "kernel": {"docs": 50, "wall": 0.1, "blocks": 500},
        "pdf_kernel": {"docs": 5, "wall": 0.01},
        "scan_s": 0.5, "udf_s": 2.0, "extract_wall": 10.0,
        "signatures_s": 1.0, "candidate_pairs": 4, "verified_pairs": 3,
        "near_caught": 2, "near_injected": 2, "components_s": 1.0,
        "components_rounds": 2, "passage_s": 1.0, "enrich_s": 1.0,
        "enrich_docs": 90,
        "curate": {"legs": {"extract_exact_dedup": 1.0,
                            "near_dup_components": 2.0,
                            "gates_enrich_write": 3.0}},
        "crawl": {"batches": [{"legs": legs, "wall": 1.0},
                              {"legs": legs, "wall": 1.0},
                              {"legs": legs, "wall": 1.0}],
                  "spans": [1, 2, 3], "index_files": 10, "index_bytes": 1000},
        "compact": {"s": 1.0, "bytes_out": 500, "files_in": 10,
                    "files_out": 5},
        "reference_cold_wall": 1.0, "cold_wall": 1.05,
        "peak_rss_bytes": 3 << 30,
    }


def _emitted(metrics: dict, spec_metrics: list[dict]) -> list[str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.emit(metrics, spec_metrics, True, 1, 0)
    return buf.getvalue().splitlines()


def test_every_metric_is_printed_with_its_unit():
    spec = run.load_spec()
    record = {"setup_s": 12.5, "walls": [3.0, 3.2, 3.1],
              "stored_bytes": 10_000}
    for metrics, kind in ((run.e2e_metrics(record, 5000), "end_to_end"),
                          (layers.layer_metrics(_fake_traced_record()),
                           "per_layer")):
        lines = _emitted(metrics, spec[kind])
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        names = [m["name"] for m in spec[kind]]
        assert list(result["metrics"]) == names
        for m, line in zip(spec[kind], lines):
            name, _, unit = line.split(" ")
            assert (name, unit) == (m["name"], m["unit"])
            assert result["metrics"][name]["unit"] == m["unit"]


def test_readme_maps_every_per_layer_metric():
    """BENCHMARK.json holds only name, unit and better; the map from each
    per-layer metric to the end-to-end metric and workload it should move
    is the README's table, which must name every one in full."""
    import os
    import re

    with open(os.path.join(os.path.dirname(__file__), "README.md")) as f:
        doc = f.read()
    table = doc.split("## Per-layer metrics", 1)[1].split("\n## ", 1)[0]
    mapped = set()
    for line in table.splitlines():
        cells = line.split("|")
        if len(cells) > 3 and cells[2].strip() and not cells[2].startswith("-"):
            mapped.update(re.findall(r"`([\w.]+)`", cells[1]))
    names = {m["name"] for m in run.load_spec()["per_layer"]}
    assert names - mapped == set()
