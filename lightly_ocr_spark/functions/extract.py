"""Engine extraction kernel: fused detect (D1-D11) + recognize (R1-R11) pass.

This is the graft of the reference's two-stage pipeline
(`/root/reference/ocr/net.py:100-113` CRAFT.process and `net.py:174-193`
CRNN.process, chained in `pipeline.py:65-87`), recast for webtext:

* stage 1 "detect"  = streaming lxml-free HTML tokenization + per-block
  text-density / link-density scoring + dual-threshold run grouping
  (CRAFT region/affinity maps -> connected components -> boxes);
* stage 2 "recognize" = deterministic charset normalization, whitespace
  canonicalization, consecutive-duplicate collapse (CTC-collapse analog,
  `recog_utils.py:32-47`) and span stitching with a confidence score =
  product of member-block densities (`net.py:190`).

The kernel is *batch-at-a-time*: `extract_batch` consumes a pandas Series of
page byte strings (one Arrow record batch; PDF rows routed by magic) and
returns a pandas DataFrame — the contract of a vectorized pandas UDF.
Per-document work happens in compiled-regex scans (C speed); there is no
per-row Python in the Spark plan.

Spec constants live in `lightly_ocr_spark.contract`; an independent
step-by-step implementation of the same spec lives in
`lightly_ocr_spark.oracle` and the two must agree byte-for-byte
(tests/test_oracle_vs_engine.py).
"""

from __future__ import annotations

import html as _html
import re
import unicodedata
from bisect import bisect_right
from dataclasses import dataclass
from typing import NamedTuple

import pandas as pd

from lightly_ocr_spark.contract import (
    BLOCK_SEP,
    BLOCK_TAGS,
    CJK_RE,
    CONTROL_RE,
    EOS,
    EXPAND_MAX_LINK,
    EXPAND_MAX_WORDS,
    EXPAND_MIN_WORDS,
    MASTER_PATTERN,
    MIN_SEG_CHARS,
    NONWS_RE,
    SEGMENT_SEP,
    TAU_CONF,
    TAU_LINK,
    TAU_LOW,
    TAU_TEXT,
    TRANSLATE_MAP,
    WORD_CAP,
    canonicalize_newlines,
    decode_page_bytes,
    segment_score,
)
from lightly_ocr_spark.functions.pdf import PDF_MAGIC, extract_pdf_text

__all__ = ["Block", "Span", "ExtractResult", "tokenize_blocks", "extract_text", "extract_batch"]


class Block(NamedTuple):
    """One visible text block (analog of one connected component's stats,
    `det_utils.py:45`): normalized text, densities, canonical-coord bounds.

    NamedTuple, not a frozen dataclass: tokenize_blocks constructs one per
    visible block (~19/page), and a frozen dataclass pays a Python-level
    __init__ + object.__setattr__ per field where NamedTuple constructs at
    C speed — measured ~4% of the whole extraction kernel."""

    text: str          # normalized single-line text (R3/R9 applied)
    words: int
    r: float           # region score: min(1, words / WORD_CAP)       (D3)
    link_density: float  # affinity analog: link chars / total chars  (D3)
    start: int         # canonical offset of first non-ws raw char
    end: int           # canonical offset past last non-ws raw char


@dataclass(frozen=True)
class Span:
    start: int  # original decoded-string coords (after D9 remap)
    end: int
    score: float


@dataclass(frozen=True)
class ExtractResult:
    text: str
    spans: tuple[Span, ...]
    n_blocks: int


def _normalize_block_text(raw: str) -> str:
    """R3+R8+R9 normalization pipeline, exact order per contract.

    Fast paths are semantics-preserving: TRANSLATE_MAP touches only
    non-ASCII codepoints and ASCII is NFC-closed, so both steps are no-ops
    for `str.isascii()` input; `" ".join(s.split())` is exactly
    `WS_RUN_RE.sub(" ", s).strip()` because `\\s` and `str.isspace` agree on
    every codepoint (verified in tests/test_contract.py)."""
    eos = raw.find(EOS)
    if eos >= 0:
        raw = raw[:eos]
    is_ascii = raw.isascii()
    if not is_ascii and (
        "\xa0" in raw or "​" in raw or "﻿" in raw
    ):
        raw = raw.translate(TRANSLATE_MAP)
    raw = CONTROL_RE.sub("", raw)
    raw = " ".join(raw.split())
    if is_ascii or raw.isascii():
        return raw
    return unicodedata.normalize("NFC", raw)


# Engine-side variant of the master grammar for `re.split`: the whole token
# is capture group 1, so split yields a flat
# [text, token, rawname, slash, tagname, text, ...] stride-5 list with ZERO
# Match objects — everything is extracted in the C regex engine.  The
# grammar is character-identical to contract.MASTER_PATTERN (only the
# rawtext backreference is renumbered for the added outer group).
SPLIT_RE = re.compile(
    "(" + MASTER_PATTERN.replace(r"</\1", r"</\2") + ")",
    re.DOTALL | re.IGNORECASE,
)


def tokenize_blocks(canon: str) -> list[Block]:
    """D3: one pass over the canonical string -> visible text blocks.

    A text run is everything between master-pattern matches; comments,
    raw-text elements (script/style/...), CDATA, processing instructions and
    tags are invisible.  Block-level tags (open or close) terminate the
    current block; `<a>`/`</a>` toggle link state.  Each run is
    entity-unescaped independently (per-run unescape is the spec: a tag
    interrupts a character reference).
    """
    # Hot loop: flat locals + pre-bound methods.
    parts = SPLIT_RE.split(canon)
    # stride 5: [text, token, rawname, slash, tagname] * k + [tail text].
    # A virtual closing block tag after the tail makes the loop emit the
    # last block itself.  It goes on the list, not on the string: an
    # unterminated comment, raw-text element, CDATA or PI matches to
    # end-of-string and would swallow an appended "</p>".
    parts += ("", None, "/", "p", "")
    blocks: list[Block] = []
    pieces: list[str] = []        # unescaped text runs of current block
    link_chars = 0
    total_chars = 0
    b_start = -1
    b_end = -1
    link_depth = 0
    pos = 0
    np = len(parts)
    nonws_search = NONWS_RE.search
    unescape = _html.unescape
    append_piece = pieces.append
    block_tags = BLOCK_TAGS

    i = 0
    while i + 1 < np:
        run = parts[i]
        if run:
            first = nonws_search(run)
            if first is None:
                # whitespace-only run: separators only — no counts, bounds,
                # or entities (an entity needs '&', a visible char)
                append_piece(run)
            else:
                unescaped = unescape(run)
                append_piece(unescaped)
                # non-ws char count: split()+len is ~2.4x the regex-sub
                # count (same value: \s and str whitespace agree, tested)
                nonws = sum(map(len, unescaped.split()))
                total_chars += nonws
                if link_depth > 0:
                    link_chars += nonws
                if b_start < 0:
                    b_start = pos + first.start()
                b_end = pos + len(run.rstrip())  # == last-nonws+1; \S and str whitespace agree (tested), no reversed copy
            pos += len(run)
        pos += len(parts[i + 1])
        name = parts[i + 4]  # None for comment/rawtext/CDATA/PI/doctype
        i += 5
        if name is None:
            continue
        name = name.lower()
        if name in block_tags:
            if pieces:
                if b_start >= 0:
                    text = _normalize_block_text("".join(pieces))
                    if text:
                        words = len(text.split())
                        if not text.isascii():
                            words += len(CJK_RE.findall(text))
                        blocks.append(Block(
                            text, words, min(1.0, words / WORD_CAP),
                            (link_chars / total_chars) if total_chars > 0
                            else 0.0,
                            b_start, b_end,
                        ))
                pieces = []
                append_piece = pieces.append
                link_chars = 0
                total_chars = 0
                b_start = -1
                b_end = -1
        elif name == "a":
            if parts[i - 2]:  # slash group of this token
                link_depth = max(0, link_depth - 1)
            else:
                link_depth += 1
    return blocks


def _segments(blocks: list[Block]) -> list[tuple[list[int], float]]:
    """D4-D7 + F4-F6: dual threshold, run grouping, expansion, filters.

    Returns (member_indices, score) per surviving segment, in document order
    (D10's clean total order).
    """
    n = len(blocks)
    on = [b.r >= TAU_LOW and b.link_density <= TAU_LINK for b in blocks]
    consumed = [False] * n
    # maximal runs of on-blocks (D5, the 1-D connected components)
    runs: list[tuple[int, int]] = []
    i = 0
    while i < n:
        if on[i]:
            j = i
            while j + 1 < n and on[j + 1]:
                j += 1
            runs.append((i, j))
            for k in range(i, j + 1):
                consumed[k] = True
            i = j + 1
        else:
            i += 1

    out: list[tuple[list[int], float]] = []
    for lo, hi in runs:
        members = list(range(lo, hi + 1))
        # D6 expansion: absorb at most one short, link-light neighbor per side
        left = lo - 1
        if left >= 0 and not consumed[left]:
            b = blocks[left]
            if EXPAND_MIN_WORDS <= b.words <= EXPAND_MAX_WORDS and b.link_density <= EXPAND_MAX_LINK:
                members.insert(0, left)
                consumed[left] = True
        right = hi + 1
        if right < n and not consumed[right]:
            b = blocks[right]
            if EXPAND_MIN_WORDS <= b.words <= EXPAND_MAX_WORDS and b.link_density <= EXPAND_MAX_LINK:
                members.append(right)
                consumed[right] = True
        # F5: size filter (area >= 10 analog), pre-collapse char count
        if sum(len(blocks[k].text) for k in members) < MIN_SEG_CHARS:
            continue
        # F6: peak-score filter over CORE blocks
        if max(blocks[k].r for k in range(lo, hi + 1)) < TAU_TEXT:
            continue
        # R10: confidence = word-weighted product of core densities
        score = segment_score([(blocks[k].r, blocks[k].words) for k in range(lo, hi + 1)])
        # F4: serve-time confidence threshold (strict >)
        if not score > TAU_CONF:
            continue
        out.append((members, score))
    return out


def _collapse_dup_lines(lines: list[str]) -> list[str]:
    """R6: CTC-collapse analog — drop consecutive duplicate lines."""
    out: list[str] = []
    prev: str | None = None
    for ln in lines:
        if ln != prev:
            out.append(ln)
        prev = ln
    return out


def extract_text(raw_html: bytes | None) -> ExtractResult:
    """Full fused pipeline for one document (engine path)."""
    decoded = decode_page_bytes(raw_html)
    canon, removals = canonicalize_newlines(decoded)
    blocks = tokenize_blocks(canon)
    segs = _segments(blocks)

    texts: list[str] = []
    spans: list[Span] = []
    for members, score in segs:
        lines = _collapse_dup_lines([blocks[k].text for k in members])
        texts.append(BLOCK_SEP.join(lines))
        c_start = blocks[members[0]].start
        c_end = blocks[members[-1]].end
        # D9: remap canonical offsets back to original decoded-string
        # coords.  start is inclusive (count removals at or before it);
        # end is EXCLUSIVE — a removal sitting exactly at canonical `end`
        # (block terminated by a collapsed \r\n) must NOT be counted, or
        # the original-coordinate span gains a stray trailing \r
        o_start = c_start + bisect_right(removals, c_start)
        o_end = c_end + bisect_right(removals, c_end - 1)
        spans.append(Span(o_start, o_end, score))
    return ExtractResult(SEGMENT_SEP.join(texts), tuple(spans), len(blocks))


def _pdf_spans(text: str) -> tuple[list[int], list[int]]:
    """PDF span (start, end) lists: one span per output line, offsets into
    the OUTPUT text — a PDF's source offsets are meaningless after
    FlateDecode inflation, unlike HTML's D9 source remap."""
    starts: list[int] = []
    ends: list[int] = []
    off = 0
    if text:
        for line in text.split("\n"):
            starts.append(off)
            ends.append(off + len(line))
            off += len(line) + 1
    return starts, ends


def extract_batch(html: pd.Series) -> pd.DataFrame:
    """Arrow-batch entry point: Series[bytes] -> DataFrame of outputs.

    Each row is routed on its leading bytes: `PDF_MAGIC` payloads go
    through `extract_pdf_text` (spans per `_pdf_spans`, score 1.0 — the
    decode is deterministic, there is no density confidence to propagate),
    everything else through the fused HTML pass.

    Spans come back as three parallel arrays so Spark can zip them JVM-side
    into `array<struct<start,end,score>>` without nested-Arrow round-trips.
    """
    texts: list[str] = []
    starts: list[list[int]] = []
    ends: list[list[int]] = []
    scores: list[list[float]] = []
    n_blocks: list[int] = []
    for raw in html:
        if raw is not None and bytes(raw[:5]) == PDF_MAGIC:
            text = extract_pdf_text(raw)
            st, en = _pdf_spans(text)
            sc = [1.0] * len(st)
            nb = len(st)
        else:
            res = extract_text(raw)
            text = res.text
            st = [s.start for s in res.spans]
            en = [s.end for s in res.spans]
            sc = [s.score for s in res.spans]
            nb = res.n_blocks
        texts.append(text)
        starts.append(st)
        ends.append(en)
        scores.append(sc)
        n_blocks.append(nb)
    return pd.DataFrame(
        {
            "text": pd.Series(texts, dtype="object"),
            "span_starts": pd.Series(starts, dtype="object"),
            "span_ends": pd.Series(ends, dtype="object"),
            "span_scores": pd.Series(scores, dtype="object"),
            "n_blocks": pd.Series(n_blocks, dtype="int32"),
        }
    )
