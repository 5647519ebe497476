"""Output checks against the independent reference and the corpus sidecar.

Every check takes plain Python data and returns a list of error strings
(empty = pass), so a planted wrong row is easy to test.  They run outside
the timed region.
"""

from __future__ import annotations

import glob
import hashlib
import os

from lightly_ocr_spark.oracle import oracle_extract

ORACLE_SAMPLE = 200
NEAR_RECALL_FLOOR = 0.9


def _dataset(paths: list[str]):
    """The parquet files under `paths` (files or hive-partitioned dirs) as
    one pyarrow dataset, or None when there are none."""
    import pyarrow.dataset as ds

    files = []
    for p in paths:
        files += (sorted(glob.glob(os.path.join(p, "**", "*.parquet"),
                                   recursive=True))
                  if os.path.isdir(p) else [p])
    return ds.dataset(files, format="parquet") if files else None


def read_rows(paths: list[str], columns: list[str]) -> list[dict]:
    d = _dataset(paths)
    return d.to_table(columns=columns).to_pylist() if d else []


def count_rows(paths: list[str]) -> int:
    d = _dataset(paths)
    return d.count_rows() if d else 0


def oracle_sample(urls: list[str], k: int = ORACLE_SAMPLE) -> set[str]:
    """A deterministic sample of k urls (md5 order)."""
    return set(sorted(urls, key=lambda u: hashlib.md5(u.encode()).digest())[:k])


def _ws(s: str) -> str:
    return " ".join(s.split())


def check_extract(pages: list[dict], out: list[dict], truth: dict) -> list[str]:
    """`pages`: input rows (url, html); `out`: job output rows (url, text).
    One output row per input row (a revisited url has several); byte
    identity with the oracle on a sample of HTML urls; whitespace-collapsed
    source text for every PDF."""
    errs = []
    want: dict[str, list[bytes]] = {}
    for p in pages:
        want.setdefault(p["url"], []).append(p["html"])
    got: dict[str, list[str]] = {}
    for r in out:
        got.setdefault(r["url"], []).append(r["text"] or "")
    wrong = [u for u in want.keys() | got.keys()
             if len(want.get(u, ())) != len(got.get(u, ()))]
    if wrong:
        errs.append(f"{len(wrong)} urls with a wrong output row count, "
                    f"e.g. {sorted(wrong)[0]}")
    pdf = truth["pdf_text"]
    for u in oracle_sample([u for u in want if u not in pdf]):
        ref = sorted(oracle_extract(h)["text"] for h in want[u])
        if sorted(got.get(u, [])) != ref:
            errs.append(f"text differs from the oracle for {u}")
    for u, src in pdf.items():
        if [_ws(t) for t in got.get(u, [])] != [_ws(src)]:
            errs.append(f"pdf text differs from its source for {u}")
    return errs


def near_recall(truth: dict, kept: set[str]) -> tuple[int, int]:
    """(caught, injected): a near copy is caught when it and its source
    did not both survive."""
    pairs = truth["near_copies"]
    caught = sum(not (p["url"] in kept and p["source"] in kept) for p in pairs)
    return caught, len(pairs)


def check_curate(manifest: dict, out: list[dict], truth: dict) -> list[str]:
    """Exact drop counts from the manifest, near recall above the floor,
    and no shared boilerplate sentence left in the curated text."""
    from perfbench.corpus import BOILERPLATE

    errs = []
    rows = truth["rows"]
    if manifest["input_pages"] != rows:
        errs.append(f"input_pages {manifest['input_pages']} != {rows}")
    if manifest["extracted_nonempty"] != rows:
        errs.append(f"extracted_nonempty {manifest['extracted_nonempty']} "
                    f"!= {rows}")
    want = len(truth["revisits"]) + len(truth["exact_copies"])
    got = manifest["extracted_nonempty"] - manifest["after_exact_dedup"]
    if got != want:
        errs.append(f"exact stage dropped {got}, sidecar injected {want}")
    caught, injected = near_recall(truth, {r["url"] for r in out})
    if injected and caught / injected < NEAR_RECALL_FLOOR:
        errs.append(f"near recall {caught}/{injected} below "
                    f"{NEAR_RECALL_FLOOR}")
    left = sum(any(b in (r["text"] or "") for b in BOILERPLATE) for r in out)
    if left:
        errs.append(f"{left} curated docs still hold a boilerplate sentence")
    return errs


def crawl_expectations(truth: dict) -> list[int]:
    """Per drop, the exact-stage survivor count the sidecar implies:
    identical revisits and exact copies of earlier drops stop at the
    fingerprint index."""
    ident = {r["url"] for r in truth["revisits"] if not r["changed"]}
    exact = {c["url"] for c in truth["exact_copies"]}
    out, seen = [], set()
    for urls in truth["drops"]:
        # a revisit shares its url with its source, which sits in an
        # earlier drop: only the later occurrence is the revisit
        n_ident = sum(u in ident and u in seen for u in urls)
        seen.update(urls)
        out.append(len(urls) - n_ident - sum(u in exact for u in urls))
    return out


def check_crawl(batches: list[dict], kept: set[str], truth: dict
                ) -> list[str]:
    """`batches`: the batch manifests in drop order; `kept`: the urls the
    crawl corpus holds.  Exact counts per batch, near recall over all."""
    errs = []
    if len(batches) != len(truth["drops"]):
        errs.append(f"{len(batches)} batches for {len(truth['drops'])} drops")
    for k, (m, want) in enumerate(zip(batches, crawl_expectations(truth))):
        if m.get("n_unique") != want:
            errs.append(f"batch {k}: n_unique {m.get('n_unique')} != {want}")
    caught, injected = near_recall(truth, kept)
    if injected and caught / injected < NEAR_RECALL_FLOOR:
        errs.append(f"crawl near recall {caught}/{injected} below "
                    f"{NEAR_RECALL_FLOOR}")
    return errs


def check_replay(replay: dict, rows_before: int, rows_after: int) -> list[str]:
    errs = []
    if not replay.get("skipped"):
        errs.append("replay of the last committed batch was not skipped")
    if rows_after != rows_before:
        errs.append(f"replay changed the index: {rows_before} -> {rows_after}")
    return errs
