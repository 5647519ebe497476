"""Byte-identity gate: vectorized engine == pure-Python oracle (north_star).

This is the graft of the reference's evaluation loop
(`/root/reference/ocr/train/crnn.py:222-235`, exact-match accuracy): on the
deterministic synthetic corpus AND on adversarial fuzzed input, the engine's
extracted text must equal the oracle's byte-for-byte, spans and scores
bit-equal.
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lightly_ocr_spark.functions.extract import extract_batch, extract_text
from lightly_ocr_spark.oracle import oracle_extract
from lightly_ocr_spark.sources.synthetic import gen_pages


def assert_identical(raw: bytes) -> None:
    eng = extract_text(raw)
    ora = oracle_extract(raw)
    assert eng.text == ora["text"]
    assert [(s.start, s.end, s.score) for s in eng.spans] == ora["spans"]
    assert eng.n_blocks == ora["n_blocks"]


CORPUS = list(gen_pages(1200))


class TestCorpusIdentity:
    def test_engine_matches_oracle_on_corpus(self):
        for row in CORPUS:
            assert_identical(row["html"])

    @pytest.mark.spark
    def test_golden_sha256(self, spark):
        # pages.text is the oracle golden; engine text and the sha256 that
        # extract_pages adds must match it per url
        import pandas as pd

        from lightly_ocr_spark.operators.extract_udf import extract_pages

        out = extract_batch(pd.Series([r["html"] for r in CORPUS]))
        for row, text in zip(CORPUS, out["text"], strict=True):
            assert text == row["text"], row["url"]
        pages = spark.createDataFrame(
            [(r["url"], r["html"]) for r in CORPUS], "url string, html binary"
        ).withColumn("warc_ts", F.lit(None).cast("timestamp"))
        got = {
            r["url"]: r["extract_sha256"]
            for r in extract_pages(pages).select("url", "extract_sha256")
            .collect()
        }
        assert len(got) == len(CORPUS)
        for row in CORPUS:
            want = hashlib.sha256(row["text"].encode()).hexdigest()
            assert got[row["url"]] == want, row["url"]

    def test_corpus_is_deterministic(self):
        again = list(gen_pages(50))
        for a, b in zip(again, CORPUS[:50]):
            assert a["url"] == b["url"]
            assert a["html"] == b["html"]
            assert a["text"] == b["text"]

    def test_spans_slice_decoded_source(self):
        from lightly_ocr_spark.contract import decode_page_bytes

        checked = 0
        for row in CORPUS[:300]:
            res = extract_text(row["html"])
            decoded = decode_page_bytes(row["html"])
            for s in res.spans:
                assert 0 <= s.start <= s.end <= len(decoded)
                assert 0.0 <= s.score <= 1.0
                checked += 1
        assert checked > 100

    def test_crlf_terminated_block_span_excludes_cr(self):
        """Exclusive span ends at a collapsed \\r\\n: the remap must count
        removals strictly BEFORE the end, or the original-coordinate slice
        gains a stray trailing \\r (round-2 review finding, mirrored in
        both implementations so byte-identity alone couldn't catch it)."""
        from lightly_ocr_spark.contract import decode_page_bytes
        from lightly_ocr_spark.oracle import oracle_extract

        html = (b"<p>one two three four five six seven eight nine ten\r\n"
                b"</p><p>alpha beta gamma delta epsilon zeta eta theta "
                b"iota kappa\r\n</p>")
        res = extract_text(html)
        decoded = decode_page_bytes(html)
        assert res.spans, "extraction expected to produce spans"
        for s in res.spans:
            assert not decoded[s.start:s.end].endswith("\r")
        ora = oracle_extract(html)
        assert [(s.start, s.end) for s in res.spans] == [
            (a, b) for a, b, _ in ora["spans"]
        ]


# --- adversarial fuzz (hypothesis) --------------------------------------

tag_bits = st.sampled_from(
    ["<p>", "</p>", "<div>", "<br>", "<a href='x'>", "</a>", "<b>", "</b>",
     "<script>", "</script>", "<style>", "</style>", "<!--", "-->", "<title>",
     "</title>", "<!DOCTYPE html>", "<![CDATA[", "]]>", "<?php ", "?>",
     "&amp;", "&nbsp;", "&#65;", "&#x41;", "&bogus;", "&am", "p;", "< ", ">",
     '<a title="a>b">', "<p 'q>r'>", '<p "unbalanced>', '"', "'",
     '<img src="x" onclick="if(a>b){}">',
     "\r\n", "\r", "\n\n", "\x03", "\x00", "\x01", "\x02", "\xa0", "​",
     "数据表格", "éüß", " word "]
)
fuzz_doc = st.lists(
    st.one_of(tag_bits, st.text(max_size=20)), max_size=40
).map("".join)


TAIL_P = " ".join(f"lead{i} words" for i in range(30))
TAIL_Q = " ".join(f"tail{i} words" for i in range(30))
TAIL_CASES = {
    "text_after_last_tag": f"<p>{TAIL_P}</p>{TAIL_Q}",
    "text_only": TAIL_P,
    "unterminated_comment": f"<p>{TAIL_P}</p><!-- open {TAIL_P}",
    "unterminated_script": f"<p>{TAIL_P}</p><script>x = '{TAIL_P}",
    "unterminated_cdata": f"<p>{TAIL_P}</p><![CDATA[{TAIL_P}",
    "trailing_close_a": f"<p>{TAIL_P} <a href=x>{TAIL_P}</a>",
    "trailing_text_in_link": f"<p>{TAIL_P}</p><a href=x>{TAIL_P}",
    "whitespace_tail": f"<p>{TAIL_P}</p> \n\t ",
    "empty": "",
}


class TestTailIdentity:
    """The last block of a document, emitted after the final tag, is
    identical to the oracle's in every way a document can end."""

    @pytest.mark.parametrize("case", sorted(TAIL_CASES))
    def test_tail_matches_oracle(self, case):
        assert_identical(TAIL_CASES[case].encode())

    def test_tail_text_is_a_block(self):
        eng = extract_text(TAIL_CASES["text_after_last_tag"].encode())
        assert eng.n_blocks == 2 and eng.text.endswith(TAIL_Q)


class TestFuzzIdentity:
    @settings(max_examples=300, deadline=None)
    @given(fuzz_doc)
    def test_fuzzed_html_identity(self, doc: str):
        assert_identical(doc.encode("utf-8", "surrogatepass"))

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=400))
    def test_fuzzed_bytes_identity(self, raw: bytes):
        assert_identical(raw)

    @settings(max_examples=100, deadline=None)
    @given(fuzz_doc)
    def test_extraction_idempotent_under_reserialization(self, doc: str):
        """Extracting already-extracted plain text keeps it (fixed point)."""
        first = extract_text(doc.encode("utf-8", "surrogatepass")).text
        if not first:
            return
        import html as _h

        wrapped = "".join(
            f"<p>{_h.escape(ln)}</p>" for ln in first.split("\n") if ln
        )
        second = extract_text(wrapped.encode()).text
        # every kept line of the second pass must be a line of the first
        for ln in second.split("\n"):
            if ln:
                assert ln in first
