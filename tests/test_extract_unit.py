"""Operator-level golden tests for the engine kernel (SURVEY.md §5.1).

Each test recasts one reference test vector or operator rule (FIXTURES.md §C):
the CTC blank-collapse goldens from `ocr/test/utils_test.py:24-61`, the
component filters from `ocr/tools/det_utils.py:41-55`, the EOS truncation
from `ocr/net.py:181-189`, and the reading-order contract of `net.py:108`.
"""

import unicodedata

from lightly_ocr_spark.functions.extract import (
    _normalize_block_text,
    extract_text,
    tokenize_blocks,
)


def ex(html: str):
    return extract_text(html.encode())


P10 = "one two three four five six seven eight nine ten"  # 10 words -> r=1.0


class TestTokenizer:
    def test_block_boundaries_and_tag_strip(self):
        blocks = tokenize_blocks("<p>alpha beta</p><div>gamma</div>")
        assert [b.text for b in blocks] == ["alpha beta", "gamma"]

    def test_inline_tags_do_not_split_words(self):
        blocks = tokenize_blocks("<p>foo<span>bar</span> baz</p>")
        assert blocks[0].text == "foobar baz"
        assert blocks[0].words == 2

    def test_script_style_title_comments_invisible(self):
        html = ("<title>T</title><style>a{x:1}</style>"
                "<script>if(1<2){}</script><!-- c --><p>kept</p>")
        blocks = tokenize_blocks(html)
        assert [b.text for b in blocks] == ["kept"]

    def test_svg_math_foreign_content_invisible(self):
        html = ('<p>kept words</p><svg viewBox="0 0 9 9"><text>42%</text>'
                "<g><text>axis label</text></g></svg>"
                "<math><mi>x</mi><mo>=</mo><mn>1</mn></math><p>also kept</p>")
        blocks = tokenize_blocks(html)
        assert [b.text for b in blocks] == ["kept words", "also kept"]

    def test_anchor_spans_block_boundary(self):
        """<a> is transparent content: a block tag inside it does NOT close
        the anchor — link state carries into the next block (regression:
        deep-fuzz round 1 caught the oracle resetting depth per block)."""
        blocks = tokenize_blocks("<a><p>all of this is link text</p></a>"
                                 "<p>free text</p>")
        assert blocks[0].link_density == 1.0
        assert blocks[1].link_density == 0.0

    def test_link_density(self):
        blocks = tokenize_blocks('<p><a href="/">link txt</a> free</p>')
        (b,) = blocks
        assert b.link_density == 7 / 11  # "linktxt"=7 nonws of 11

    def test_entity_unescape_per_run(self):
        blocks = tokenize_blocks("<p>&amp; &#8212; &am<!--x-->p;</p>")
        assert blocks[0].text == "& — &amp;"

    def test_cjk_words(self):
        blocks = tokenize_blocks("<p>数据表格查询引擎</p>")
        assert blocks[0].words == 1 + 8  # one ws token + 8 CJK chars

    def test_offsets_point_at_visible_chars(self):
        html = "<div>  hello world  </div>"
        (b,) = tokenize_blocks(html)
        assert html[b.start : b.end] == "hello world"


class TestNormalize:
    def test_ctc_collapse_analog_whitespace(self):
        # utils_test.py:41-43 blank-collapse analog
        assert _normalize_block_text("x   \t y\n\n z") == "x y z"

    def test_idempotent(self):
        s = _normalize_block_text("Ünïcode\xa0 text​ here")
        assert _normalize_block_text(s) == s

    def test_nbsp_zwsp_controls(self):
        assert _normalize_block_text("a\xa0b​c\x01d\x7fe") == "a bcde"

    def test_eos_truncation(self):
        assert _normalize_block_text("keep this\x03drop that") == "keep this"

    def test_nfc(self):
        decomposed = "éclair"  # é as e + combining acute
        out = _normalize_block_text(decomposed)
        assert out == unicodedata.normalize("NFC", decomposed) == "éclair"


class TestSegmentation:
    def test_min_seg_chars_filter(self):
        # F5: area<10 analog — dense (CJK) but under 10 chars is dropped
        assert ex("<p>数据表格查询引</p>").text == ""          # 7 chars, r=0.8
        assert ex("<p>数据表格查询引擎分区排</p>").text != ""   # 11 chars, r=1.0

    def test_peak_score_filter(self):
        # F6: a run whose best block is only marginal (r<0.7) is dropped
        assert ex("<p>just five words right here</p>").text == ""  # r=0.5

    def test_all_links_page_empty(self):
        lis = "".join(f'<li><a href="/{k}">item {k} here</a></li>' for k in range(20))
        assert ex(f"<ul>{lis}</ul>").text == ""

    def test_duplicate_paragraph_collapse(self):
        p = f"<p>{P10}</p>"
        r = ex(p + p + p)
        assert r.text == P10  # R6: consecutive duplicates collapse to one

    def test_nonconsecutive_duplicates_kept(self):
        other = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        r = ex(f"<p>{P10}</p><p>{other}</p><p>{P10}</p>")
        assert r.text == f"{P10}\n{other}\n{P10}"

    def test_expansion_absorbs_short_header(self):
        r = ex(f"<h1>tiny head</h1><p>{P10}</p>")
        assert r.text == f"tiny head\n{P10}"
        # absorbed block does not change the core score
        assert r.spans[0].score == 1.0

    def test_expansion_skips_linky_neighbor(self):
        r = ex(f'<p><a href="/">all link text</a></p><p>{P10}</p>')
        assert r.text == P10

    def test_two_segments_joined_blank_line(self):
        linky = "".join(f'<li><a href="/{k}">nav item {k}</a></li>' for k in range(8))
        r = ex(f"<p>{P10}</p><ul>{linky}</ul><p>{P10} extra words</p>")
        assert r.text == f"{P10}\n\n{P10} extra words"
        assert len(r.spans) == 2

    def test_spans_sorted_document_order(self):
        linky = "".join(f'<li><a href="/{k}">nav {k}</a></li>' for k in range(8))
        r = ex(f"<p>{P10}</p>{linky}<p>{P10} tail</p>")
        starts = [s.start for s in r.spans]
        assert starts == sorted(starts)

    def test_span_offsets_slice_source(self):
        html = f"<body><p>{P10}</p></body>"
        r = ex(html)
        (s,) = r.spans
        assert html[s.start : s.end] == P10

    def test_span_remap_through_crlf(self):
        html = f"<body>\r\n<p>{P10}</p>\r\n</body>"
        r = ex(html)
        (s,) = r.spans
        assert html[s.start : s.end] == P10


class TestRobustness:
    def test_empty_and_none(self):
        assert ex("").text == ""
        assert extract_text(None).text == ""

    def test_binary_junk(self):
        res = extract_text(bytes(range(256)))
        assert isinstance(res.text, str)

    def test_unclosed_comment_swallows_tail(self):
        r = ex(f"<p>{P10}</p><!-- unclosed {P10}")
        assert r.text == P10

    def test_unclosed_script_swallows_tail(self):
        r = ex(f"<p>{P10}</p><script>var x={P10}")
        assert r.text == P10

    def test_stray_lt_is_text(self):
        r = ex(f"<p>{P10} a < b comparison</p>")
        assert "a < b comparison" in r.text

    def test_quoted_gt_inside_attribute(self):
        r = ex(f'<p title="a>b" onclick="if(a>b){{}}">{P10}</p>')
        assert r.text == P10

    def test_multi_megabyte_doc_linear_time(self):
        import time

        big = ("<div class='x'>" + P10 + "</div>") * 40000  # ~2.6 MB
        t0 = time.time()
        r = ex(big)
        assert time.time() - t0 < 10.0  # linear scan, no backtracking blowup
        assert r.text == P10  # 40k duplicate blocks collapse (R6)


class TestExpansionMinWords:
    def test_share_button_not_absorbed(self):
        r = ex(f"<p>{P10}</p><div>Share</div>")
        assert r.text == P10  # 1-word chrome never joins a segment

    def test_two_word_header_still_absorbed(self):
        r = ex(f"<h1>tiny head</h1><p>{P10}</p>")
        assert r.text == f"tiny head\n{P10}"
