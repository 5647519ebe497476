"""Seeded corpus generator for the benchmark workloads.

Builds on the library's own page and PDF synthesizers
(`sources.synthetic.build_page_html`, `functions.pdf.make_pdf`) and writes,
per (workload, seed):

    pages/part-XXXXX.parquet   the job input (url, warc_ts, html)
    drops/drop-K.parquet       the same rows cut into crawl drops, in
                               timeline order (a copy always lands in a
                               later drop than its source)
    truth.json                 the ground-truth sidecar: what was injected
                               where.  The program under test never reads it.

Output is cached under ``<cache>/<workload>-s<seed>-n<size>-v<VERSION>`` and
written before any timer starts.

Workloads:

* ``extract`` -- ordinary generator pages (~1.9 KB), a long tail of
  boilerplate-heavy pages (tens to hundreds of KB) and ~2% PDFs.
* ``curate`` -- Zipf-hosted pages with injected url revisits, exact copies
  under new urls, near copies (a few words mutated) and shared boilerplate
  sentences.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import shutil

from lightly_ocr_spark.functions.pdf import make_pdf
from lightly_ocr_spark.oracle import oracle_extract
from lightly_ocr_spark.sources.synthetic import (
    LANGS,
    N_HOSTS,
    WORDS,
    ZIPF_A,
    build_page_html,
)

VERSION = 6
# per-job engine cost is ~4.7 s of an extract call and ~9 s of a curate
# call on a 4-core box (see README.md, Sizing); these sizes keep a run
# inside the run budget
SIZES = {"extract": 10000, "curate": 800}
# input files per corpus; run_extract cuts its 8 slices from these, and
# four files per slice pack its two slots more evenly than one
FILES = {"extract": 16, "curate": 8}
# three drops: the fingerprint index is compacted after two appends
DROPS = 3
# the extract corpus is large; its crawl drops and the curate job in its
# traced run use only this many leading rows
SUBSET_ROWS = 600

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
PDF_SHARE = 0.02
TAIL_SHARE = 0.025
# injected shares of the curate base corpus, per kind
REVISIT_SHARE = 0.05
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
BOILER_SHARE = 0.25
NEAR_MIN_WORDS = 150
BOILER_MIN_WORDS = 80
# near copies and their sources live on hosts the host cap never reaches
COLD_HOST_RANK = 8

BOILERPLATE = [
    "All content on this site is provided as is without warranty of any "
    "kind and may change without notice.",
    "Subscribe to our weekly newsletter to receive the latest stories "
    "delivered straight to your inbox every morning.",
    "This article was reviewed by our editorial team for accuracy and "
    "fairness before it was published online.",
    "Cookies help us deliver our services and by using this site you agree "
    "to our use of cookies and tracking.",
]

_WORD_RE = re.compile(rb"(?<= )([a-z]{4,})(?= )")


def _hosts() -> tuple[list[str], list[float]]:
    hosts = [f"host{k:03d}.example.org" for k in range(N_HOSTS)]
    return hosts, [1.0 / (k + 1) ** ZIPF_A for k in range(N_HOSTS)]


def _words(text: str) -> list[str]:
    return text.split()


def _tail_page(html: bytes, rng: random.Random, target: int) -> bytes:
    """Pad a page with link-dense menus and scripts up to ~target bytes;
    the article body stays the page's main content."""
    chunks = []
    size = len(html)
    k = 0
    while size < target:
        items = "".join(
            f'<li><a href="/m/{k}/{j}">{rng.choice(WORDS["en"])} {j}</a></li>'
            for j in range(40)
        )
        block = (f'<div class="menu"><ul>{items}</ul></div>\n'
                 f"<script>var m{k} = [{','.join(str(j) for j in range(60))}];"
                 "</script>\n")
        chunks.append(block)
        size += len(block)
        k += 1
    pad = "".join(chunks).encode()
    cut = html.rfind(b"</body>")
    if cut < 0:
        return html + pad
    return html[:cut] + pad + html[cut:]


def _pdf_text(rng: random.Random) -> str:
    n = rng.randint(40, 160)
    return " ".join(rng.choice(WORDS["en"]) for _ in range(n)) + "."


def _mutate(html: bytes, rng: random.Random, n: int) -> bytes:
    """Replace n lowercase words inside the article with fresh tokens."""
    lo = html.find(b"<article>")
    hi = html.find(b"</article>")
    hits = [m for m in _WORD_RE.finditer(html, lo, hi)]
    picks = sorted(rng.sample(hits, min(n, len(hits))), key=lambda m: m.start())
    out = bytearray(html)
    for m in reversed(picks):
        out[m.start():m.end()] = f"zq{rng.randrange(10**6)}".encode()
    return bytes(out)


def _row(url: str, ts_index: int, html: bytes, drop: int) -> dict:
    return {"url": url, "ts": ts_index, "html": html, "drop": drop}


def _base_rows(n: int, rng: random.Random, checked: int
               ) -> tuple[list[dict], list[str]]:
    """n ordinary pages; the first `checked` are redrawn until the oracle
    extracts text from them (crawl and curate drop empty docs, which would
    blur the expected counts).  Returns the rows and those texts."""
    hosts, weights = _hosts()
    rows, texts = [], []
    for i in range(n):
        lang = LANGS[i % len(LANGS)]
        h = rng.choices(range(N_HOSTS), weights=weights, k=1)[0]
        while True:
            html = build_page_html(i + 8, rng, lang)  # +8: no edge rows
            if i >= checked:
                break
            text = oracle_extract(html)["text"]
            if text:
                texts.append(text)
                break
        r = _row(f"https://{hosts[h]}/p{i}", i, html, i * DROPS // n)
        r["host_rank"] = h
        rows.append(r)
    return rows, texts


def build_extract(n: int, seed: int) -> tuple[list[dict], dict]:
    rng = random.Random(seed)
    rows, _ = _base_rows(n, rng, min(n, SUBSET_ROWS))
    n_pdf, n_tail = round(PDF_SHARE * n), round(TAIL_SHARE * n)
    order = rng.sample(range(n), n_pdf + n_tail)
    pdfs, tail = {}, []
    for i in sorted(order[:n_pdf]):
        text = _pdf_text(rng)
        rows[i]["html"] = make_pdf(text)
        rows[i]["url"] += ".pdf"
        pdfs[rows[i]["url"]] = text
    # tail sizes at fixed quantiles of a Pareto(1.2) from 16 KB, capped at
    # 400 KB: the seed places the pages, every seed does the same work
    for j, i in enumerate(order[n_pdf:]):
        q = (j + 0.5) / n_tail
        target = int(min(400_000, 16_000 / (1.0 - q) ** (1 / 1.2)))
        rows[i]["html"] = _tail_page(rows[i]["html"], rng, target)
        tail.append(rows[i]["url"])
    # crawl drops of the extract corpus: the leading SUBSET_ROWS rows only
    sub = min(n, SUBSET_ROWS)
    for r in rows:
        r["drop"] = r["ts"] * DROPS // sub if r["ts"] < sub else -1
    truth = {"pdf_text": pdfs, "tail_urls": tail, "revisits": [],
             "exact_copies": [], "near_copies": [], "boilerplate": []}
    return rows, truth


def build_curate(n: int, seed: int) -> tuple[list[dict], dict]:
    """Base pages plus injections.  Source sets are disjoint per kind, and
    every injected row lands in a later crawl drop than its source, so the
    expected drop counts of both the batch job and the crawl loop are
    exact."""
    rng = random.Random(seed)
    hosts, _ = _hosts()
    rows, texts = _base_rows(n, rng, n)
    nwords = [len(_words(t)) for t in texts]

    boiler = []
    for i, r in enumerate(rows):
        if nwords[i] >= BOILER_MIN_WORDS and rng.random() < BOILER_SHARE / 0.6:
            if len(boiler) >= int(BOILER_SHARE * n):
                break
            b = rng.randrange(len(BOILERPLATE))
            p = f"<p>{BOILERPLATE[b]}</p>\n</article>".encode()
            r["html"] = r["html"].replace(b"</article>", p, 1)
            boiler.append({"url": r["url"], "sentence": b})
    boiler_urls = {b["url"] for b in boiler}

    early = [i for i, r in enumerate(rows) if r["drop"] < DROPS - 1]
    rng.shuffle(early)
    near_pool = [i for i in early if nwords[i] >= NEAR_MIN_WORDS
                 and rows[i]["host_rank"] >= COLD_HOST_RANK
                 and rows[i]["url"] not in boiler_urls]
    n_near = int(NEAR_SHARE * n)
    near_src = near_pool[:n_near]
    rest = [i for i in early if i not in set(near_src)]
    n_rev, n_exact = int(REVISIT_SHARE * n), int(EXACT_SHARE * n)
    rev_src, exact_src = rest[:n_rev], rest[n_rev:n_rev + n_exact]

    extra: list[dict] = []
    truth: dict = {"pdf_text": {}, "tail_urls": [], "revisits": [],
                   "exact_copies": [], "near_copies": [],
                   "boilerplate": boiler}

    def later_drop(i: int) -> int:
        return rng.randint(rows[i]["drop"] + 1, DROPS - 1)

    for k, i in enumerate(rev_src):
        src = rows[i]
        changed = k % 2 == 1
        html = src["html"]
        while changed and html == src["html"]:
            page = build_page_html(n + 8 + k, rng, LANGS[k % len(LANGS)])
            html = page if oracle_extract(page)["text"] else html
        extra.append(_row(src["url"], n + len(extra), html, later_drop(i)))
        truth["revisits"].append({"url": src["url"], "changed": changed})
    for k, i in enumerate(exact_src):
        src = rows[i]
        url = f"https://mirror{k % 7}.example.net/copy{k}"
        extra.append(_row(url, n + len(extra), src["html"], later_drop(i)))
        truth["exact_copies"].append({"url": url, "source": src["url"]})
    for k, i in enumerate(near_src):
        src = rows[i]
        html = _mutate(src["html"], rng, 3)
        if oracle_extract(html)["text"] == texts[i]:
            continue  # every mutation fell outside the extracted text
        url = f"https://{hosts[src['host_rank']]}/near{k}"
        extra.append(_row(url, n + len(extra), html, later_drop(i)))
        truth["near_copies"].append({"url": url, "source": src["url"]})
    return rows + extra, truth


def _table(rows: list[dict]):
    import pyarrow as pa

    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array(
            [EPOCH + dt.timedelta(seconds=17 * r["ts"]) for r in rows],
            pa.timestamp("us", tz="UTC"),
        ),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
    })


def write_corpus(d: str, rows: list[dict], truth: dict, n_files: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(d, "pages"))
    os.makedirs(os.path.join(d, "drops"))
    # byte-balanced files, as a crawler's rolled output files are: the
    # extract job slices by file, so this keeps its slices even
    files: list[list[dict]] = [[] for _ in range(n_files)]
    load = [0] * n_files
    for r in rows:
        k = load.index(min(load))
        files[k].append(r)
        load[k] += len(r["html"])
    for k, part in enumerate(files):
        pq.write_table(_table(part),
                       os.path.join(d, "pages", f"part-{k:05d}.parquet"))
    truth["drops"] = []
    for k in range(DROPS):
        drop = [r for r in rows if r["drop"] == k]
        pq.write_table(_table(drop),
                       os.path.join(d, "drops", f"drop-{k}.parquet"))
        truth["drops"].append([r["url"] for r in drop])
    truth["rows"] = len(rows)
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truth, f)


BUILDERS = {"extract": build_extract, "curate": build_curate}


def ensure_corpus(cache: str, workload: str, seed: int) -> str:
    """Return the corpus directory, generating it on a cache miss."""
    n = SIZES[workload]
    d = os.path.join(cache, f"{workload}-s{seed}-n{n}-v{VERSION}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    rows, truth = BUILDERS[workload](n, seed)
    write_corpus(d, rows, truth, FILES[workload])
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def load_truth(d: str) -> dict:
    with open(os.path.join(d, "truth.json")) as f:
        return json.load(f)
