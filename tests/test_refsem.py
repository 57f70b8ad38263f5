"""Unit tests for the pure-Python reference semantics (refsem).

Mirrors the reference's own unit-test matrix:
* page-range parser truth table — tests/unit/test_pdf_service.py:51-108
* batch arithmetic (10/3→4, 10/5→2) — tests/unit/test_pdf_service_enhanced.py:174-191
* formatter goldens (2-page fixture) — tests/utils/test_ocr_response_formatter.py:22-223
"""

import ast
import base64
import contextlib
import inspect
import re
import sys
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from n8n_tools_api_spark.refsem import (
    PageRangeError,
    analyze_image_position,
    apply_text_formatting_enhancements,
    assess_image_quality,
    batch_windows,
    calculate_confidence_score,
    classify_image_span,
    clean_extracted_text,
    detect_image_format,
    detect_image_format_full,
    detect_primary_language,
    extract_document,
    extract_markdown_image_refs,
    image_size_info,
    media_ref_for,
    merge_append_order,
    merge_interleave_order,
    normalize_image_coordinates,
    parse_page_range,
    parse_range_list,
    render_document_text,
    split_output_name,
    strip_boilerplate,
    validate_base64_image,
)
from n8n_tools_api_spark.refsem import boilerplate
from n8n_tools_api_spark.sources.synthetic import (
    CANONICAL_GIF_B64,
    CANONICAL_JPEG_B64,
    CANONICAL_PNG_B64,
    generate_bench_doc,
)

from boilerplate_oracle import strip_boilerplate as _oracle_strip

# The reference's six F1 substitutions in their original template form
# (ocr_response_formatter.py:148-173), kept here as the oracle for the
# template-free passes in refsem.textclean.
_REFERENCE_CLEAN_PASSES = tuple(
    (re.compile(pattern), template) for pattern, template in (
        (r"\n\s*\n\s*\n", "\n\n"),
        (r"[ \t]+", " "),
        (r"([a-z])([A-Z])", r"\1 \2"),
        (r"(\d+)([A-Za-z])", r"\1 \2"),
        (r"\s+([.!?,:;])", r"\1"),
        (r"([.!?])\s*([A-Z])", r"\1 \2"),
    ))


def _reference_clean(text):
    if not text:
        return ""
    for pattern, template in _REFERENCE_CLEAN_PASSES:
        text = pattern.sub(template, text)
    return text.strip()


# ASCII and Unicode whitespace, ASCII and Arabic-Indic digits, accented
# letters, every punctuation mark the passes look at, and runs of each.
_CLEAN_ALPHABET = (
    list("aZbY09٣éÉ .!?,:;-#\t\n\r\x0b\x0c\x1c\x85　")
    + ["  ", "\t \t", "\n\n\n", " \n \n ", ". A", "aB", "7q", " ,"]
)

# HTML for the boilerplate oracle: well-formed element trees mixed with
# loose tokens. Block, inline, every drop and some void tags in open,
# close and "/>" forms, upper-case names, quoted ">" in attributes,
# entities, Unicode whitespace, comments, CDATA, doctype, processing
# instructions and broken markup.
_HTML_TAGS = sorted(boilerplate.DROP_TAGS) + [
    "div", "p", "li", "ul", "h1", "body", "html", "table", "a", "span",
    "b", "em", "br", "hr", "img", "input", "DIV", "P", "A", "Nav", "BR",
    "x-custom"]
_HTML_ATTRS = st.sampled_from([
    "", " class='c'", ' href="/a>b"', " title='x > y'", " data-q=\"it's\"",
    " a=b", ' "', " '", " /"])
_HTML_TEXT = st.sampled_from([
    "A longer run of plain words that keeps its block",
    "Second sentence of prose, long enough to outweigh a tag or two.",
    "word", " ", " \n\t ", "\xa0", "\u3000", "\x1c", "x" * 40,
    "&amp;", "&nbsp;", "&#10;", "&lt;p&gt;", "&bogus;",
    "<!-- note -->", "<!-- <p>commented out</p> -->", "<!--", "-->",
    "<![CDATA[ raw > data ]]>", "<!DOCTYPE html>", "<?xml version?>",
    "<!-->", "</>", "< p>", "<1>", "<", ">", "/>"])
_HTML_TAG = st.sampled_from(_HTML_TAGS)
_HTML_TREE = st.recursive(
    _HTML_TEXT,
    lambda kids: st.builds("<{0}{1}>{2}</{0}>".format, _HTML_TAG, _HTML_ATTRS,
                           st.lists(kids, max_size=4).map("".join)),
    max_leaves=24)
_HTML = st.lists(st.one_of(
    _HTML_TREE,
    st.builds("<{}{}>".format, _HTML_TAG, _HTML_ATTRS),
    st.builds("</{}>".format, _HTML_TAG),
    st.builds("<{}{}/>".format, _HTML_TAG, _HTML_ATTRS),
), max_size=12).map("".join)


@contextlib.contextmanager
def _recursion_limit(limit):
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(limit)
    try:
        yield
    finally:
        sys.setrecursionlimit(old)


# The reference formatter test fixture, pages only
# (tests/utils/test_ocr_response_formatter.py:30-84)
FIXTURE_PAGES = [
    {
        "page_number": 1,
        "text": "This is the first page content.\n\n# Header 1\n\nSome paragraph text with **bold** formatting.",
        "markdown": "This is the first page content.\n\n# Header 1\n\nSome paragraph text with **bold** formatting.",
    },
    {
        "page_number": 2,
        "text": "Second page content here.\n\n## Subsection\n\nMore content with different formatting.",
        "markdown": "Second page content here.\n\n## Subsection\n\nMore content with different formatting.",
    },
]


class TestCleanExtractedText:
    def test_empty(self):
        assert clean_extracted_text("") == ""
        assert clean_extracted_text(None) == ""

    def test_triple_blank_lines_collapse(self):
        assert clean_extracted_text("a\n\n\nb") == "a\n\nb"
        assert clean_extracted_text("a\n  \n \n  b") == "a\n\n b".strip()

    def test_horizontal_whitespace_collapse(self):
        assert clean_extracted_text("a\t\t  b") == "a b"

    def test_camel_split(self):
        assert clean_extracted_text("wordWord") == "word Word"

    def test_digit_letter_split(self):
        assert clean_extracted_text("123abc") == "123 abc"

    def test_space_before_punct_removed(self):
        assert clean_extracted_text("hello .") == "hello."
        assert clean_extracted_text("wait ;") == "wait;"

    def test_space_after_sentence_end(self):
        assert clean_extracted_text("end.Next") == "end. Next"

    def test_order_camel_before_punct(self):
        # camel split runs first, then punctuation normalization sees it
        assert clean_extracted_text("fooBar .Baz") == "foo Bar. Baz"

    @settings(max_examples=3000, deadline=None)
    @given(text=st.lists(st.sampled_from(_CLEAN_ALPHABET), max_size=40)
           .map("".join))
    def test_matches_reference_form(self, text):
        assert clean_extracted_text(text) == _reference_clean(text)

    def test_matches_reference_form_on_bench_spans(self):
        n = 0
        for idx in range(500):
            for s in generate_bench_doc(idx, 7):
                if s["kind"] in ("text", "pdf_page"):
                    text = s["text"]
                elif s["kind"] == "html":
                    text = strip_boilerplate(s["text"])
                else:
                    continue
                assert clean_extracted_text(text) == _reference_clean(text)
                n += 1
        assert n > 1000


class TestRenderDocumentText:
    def test_fixture_pages(self):
        text = render_document_text(FIXTURE_PAGES)
        assert "PAGE 1 of 2" in text
        assert "PAGE 2 of 2" in text
        assert "End of Page" in text
        assert "# Header 1" in text
        assert "## Subsection" in text
        assert text == text.strip()
        # banner shape is exact: 50 '=' rails around the page line
        assert f"\n{'=' * 50}\n📄 PAGE 2 of 2\n{'=' * 50}\n" in "\n" + text
        # separator after page 1 only, not after the last page
        assert text.count("-" * 30 + " End of Page " + "-" * 30) == 1

    def test_single_page_no_banner(self):
        text = render_document_text([{"index": 0, "markdown": "Hello there."}])
        assert "PAGE" not in text
        assert text == "Hello there."

    def test_blank_pages_skipped(self):
        text = render_document_text(
            [{"index": 0, "markdown": "   "}, {"index": 1, "markdown": "Real content."}]
        )
        assert "Real content." in text
        assert "PAGE 2 of 2" in text
        assert "PAGE 1 of 2" not in text

    def test_empty(self):
        assert render_document_text([]) == ""

    def test_page_number_fallback_is_service_variant(self):
        # pages missing BOTH page_number and index: the reference is
        # internally inconsistent (formatter numbers every such page 1,
        # service numbers them positionally i+1) — we pin the SERVICE
        # variant (mistral_service.py:510), the only choice that keeps
        # banners strictly increasing; see render_document_text docstring
        text = render_document_text(
            [{"markdown": "First body."},
             {"markdown": "Second body."},
             {"markdown": "Third body."}]
        )
        assert "PAGE 1 of 3" in text
        assert "PAGE 2 of 3" in text
        assert "PAGE 3 of 3" in text
        # page_number < total_pages gates the separator: 2 of 3 pages
        assert text.count("-" * 30 + " End of Page " + "-" * 30) == 2


class TestTOC:
    def test_toc_injected(self):
        body = "\n\n".join(f"# Section {i}\n\n" + ("word " * 120).strip() for i in range(12))
        assert len(body) > 5000
        out = apply_text_formatting_enhancements(body)
        assert out.startswith("\n📋 **Table of Contents**\n")
        assert "• Section 0" in out
        assert "• Section 9" in out
        assert "• Section 10" not in out.split("-" * 50)[0]
        assert "• ... and 2 more sections" in out
        assert "\n\n" + "-" * 50 + "\n\n" in out

    def test_short_text_untouched(self):
        body = "# A\n\n# B\n\n# C\n\n# D\n\nshort"
        assert apply_text_formatting_enhancements(body) == body

    def test_few_headers_untouched(self):
        body = "# A\n\n" + "x" * 6000
        assert apply_text_formatting_enhancements(body) == body


class TestLanguageAndConfidence:
    def test_english_detected_first_on_ties(self):
        # ASCII text scores 1.0 for english/spanish/french/german alike;
        # the reference's dict order makes 'english' win the max().
        res = detect_primary_language("The quick brown fox jumps over the lazy dog")
        assert res["detected"] == "english"
        assert res["confidence"] == 1.0

    def test_empty_unknown(self):
        assert detect_primary_language("  ") == {"detected": "unknown", "confidence": 0.0}

    def test_chinese(self):
        res = detect_primary_language("这是一个测试文档内容")
        assert res["detected"] == "chinese"

    def test_confidence_mixed_scales(self):
        score = calculate_confidence_score(["confidence: 0.95 and accuracy: 87"])
        assert score == pytest.approx((0.95 + 0.87) / 2)

    def test_confidence_none(self):
        assert calculate_confidence_score(["no markers here"]) is None

    def test_confidence_out_of_range_skipped(self):
        assert calculate_confidence_score(["confidence: 500"]) is None


class TestImages:
    def test_format_detection_formatter_variant(self):
        assert detect_image_format(CANONICAL_JPEG_B64)["detected_format"] == "jpeg"
        png = detect_image_format(CANONICAL_PNG_B64)
        assert png["detected_format"] == "png"
        assert png["has_transparency"] is True
        assert detect_image_format(CANONICAL_GIF_B64)["detected_format"] == "gif"
        assert detect_image_format("Qk...")["detected_format"] == "unknown"  # no bmp here
        assert detect_image_format("")["detected_format"] == "unknown"

    def test_format_detection_full_variant(self):
        assert detect_image_format_full("QkFat...") == "bmp"
        assert detect_image_format_full("R0lGODdhAA") == "gif"
        assert detect_image_format_full("UklGRxxxx") == "webp"
        assert detect_image_format_full("zzz") == "unknown"

    def test_validate_base64(self):
        assert validate_base64_image(CANONICAL_PNG_B64) is True
        assert validate_base64_image("aGVsbG8=") is False  # 5 bytes
        assert validate_base64_image("") is False
        assert validate_base64_image("!!!notbase64!!!") is False

    def test_size_info(self):
        decoded = base64.b64decode(CANONICAL_PNG_B64)
        info = image_size_info(CANONICAL_PNG_B64)
        assert info["data_size_bytes"] == len(decoded)
        assert info["data_size_kb"] == round(len(decoded) / 1024, 2)
        assert info["base64_length"] == len(CANONICAL_PNG_B64)

    def test_coordinates_fixture(self):
        # tests/utils/test_ocr_response_formatter.py:190-195
        coords = normalize_image_coordinates(
            {"top_left_x": 100, "top_left_y": 200,
             "bottom_right_x": 300, "bottom_right_y": 400},
            {"width": 612, "height": 792},
        )
        assert coords["absolute"]["top_left_x"] == 100
        assert coords["relative"]["top_left_x_percent"] > 0
        assert coords["dimensions"]["width"] == 200
        assert coords["dimensions"]["height"] == 200
        assert coords["relative"]["bottom_right_x_percent"] == pytest.approx(300 / 612 * 100)

    def test_coordinates_empty(self):
        assert normalize_image_coordinates({}, {"width": 612, "height": 792}) == {}

    def test_position_analysis(self):
        coords = normalize_image_coordinates(
            {"top_left_x": 100, "top_left_y": 200,
             "bottom_right_x": 300, "bottom_right_y": 400},
            {"width": 612, "height": 792},
        )
        pos = analyze_image_position(coords)
        assert pos["quadrant"] == "top-left"
        assert pos["relative_size"] == "medium"
        assert pos["position_type"] == "centered-horizontal"

    def test_quality(self):
        q = assess_image_quality({
            "annotation": "a chart",
            "base64_data": CANONICAL_PNG_B64,
            "coordinates": {"top_left_x": 1.5, "top_left_y": 0,
                            "bottom_right_x": 2, "bottom_right_y": 2},
        })
        assert q["has_annotation"] is True
        assert q["has_base64_data"] is True
        assert q["coordinate_precision"] == "high"
        q2 = assess_image_quality({"annotation": " ", "base64_data": "",
                                   "coordinates": {"top_left_x": 1}})
        assert q2 == {"has_annotation": False, "has_base64_data": False,
                      "coordinate_precision": "standard"}

    def test_media_ref_deterministic(self):
        import hashlib
        decoded = base64.b64decode(CANONICAL_PNG_B64)
        expected = f"media/{hashlib.sha256(decoded).hexdigest()[:16]}.png"
        assert media_ref_for(CANONICAL_PNG_B64) == expected
        assert media_ref_for("!!!") == ""

    def test_classify(self):
        label = classify_image_span(CANONICAL_PNG_B64, annotation="logo")
        decoded_len = len(base64.b64decode(CANONICAL_PNG_B64))
        assert label == f"ocr:png:{decoded_len}B:conf=0.90:logo"
        assert classify_image_span("", annotation="a photo") == "ocr:unknown:0B:conf=0.70:a photo"


class TestMarkdownRefs:
    def test_findall(self):
        refs = extract_markdown_image_refs("intro ![fig one](img-0.jpeg) mid ![](img-1.png) end")
        assert refs == [("fig one", "img-0.jpeg"), ("", "img-1.png")]


class TestPageRanges:
    def test_single_page(self):
        assert parse_page_range("5", 10) == (4, 4)

    def test_range(self):
        assert parse_page_range("3-7", 10) == (2, 6)

    def test_open_start_defaults_to_1(self):
        assert parse_page_range("-3", 10) == (0, 2)

    def test_open_end_defaults_to_total(self):
        assert parse_page_range("3-", 10) == (2, 9)

    def test_whitespace_tolerated(self):
        assert parse_page_range(" 2 - 4 ", 10) == (1, 3)

    @pytest.mark.parametrize("bad,msg", [
        ("0", "out of range"),
        ("15", "out of range"),
        ("7-3", "start page"),
        ("a-b", "Invalid page numbers"),
        ("abc", "Invalid page range format"),
        ("1-99", "exceeds document length"),
        ("1--3", "greater than 0"),
    ])
    def test_errors(self, bad, msg):
        with pytest.raises(PageRangeError, match=msg):
            parse_page_range(bad, 10)

    def test_range_list(self):
        assert parse_range_list("1-3, 5 ,7-9,,") == ["1-3", "5", "7-9"]

    def test_output_names(self):
        assert split_output_name(4, 4) == "page_5.pdf"
        assert split_output_name(0, 2) == "pages_1-3.pdf"


class TestBatchSplit:
    def test_10_pages_batch_3(self):
        # reference drifted-test arithmetic: 10 pages / 3 → 4 batches
        wins = batch_windows(10, 3, "report.pdf")
        assert len(wins) == 4
        assert wins[0] == {"batch_index": 1, "out_name": "report_batch_1_pages_1-3.pdf",
                           "page_lo": 1, "page_hi": 3}
        assert wins[3] == {"batch_index": 4, "out_name": "report_batch_4_page_10.pdf",
                           "page_lo": 10, "page_hi": 10}

    def test_10_pages_batch_5(self):
        assert len(batch_windows(10, 5)) == 2

    def test_single_page_batches(self):
        wins = batch_windows(2, 1, "x.pdf")
        assert [w["out_name"] for w in wins] == ["x_batch_1_page_1.pdf", "x_batch_2_page_2.pdf"]

    def test_bad_batch_size(self):
        with pytest.raises(PageRangeError):
            batch_windows(10, 0)


class TestMergeOrders:
    def test_append(self):
        assert merge_append_order([2, 1]) == [(0, 0), (0, 1), (1, 0)]

    def test_interleave(self):
        assert merge_interleave_order([3, 1, 2]) == [
            (0, 0), (1, 0), (2, 0),
            (0, 1), (2, 1),
            (0, 2),
        ]

    def test_interleave_empty(self):
        assert merge_interleave_order([]) == []


class TestSanitizeFilename:
    def test_basic(self):
        from n8n_tools_api_spark.refsem import sanitize_filename

        assert sanitize_filename("report.pdf") == "report.pdf"
        assert sanitize_filename("a b*c?.pdf") == "a_b_c_.pdf"
        assert sanitize_filename("dir/sub/file.pdf") == "file.pdf"
        assert sanitize_filename("windows\\path\\doc.pdf") == "doc.pdf"
        assert sanitize_filename("noext") == "noext.pdf"
        assert sanitize_filename("", fallback="d42") == "d42.pdf"
        assert sanitize_filename(".hidden", fallback="d42") == "d42.pdf"
        long = sanitize_filename("x" * 300 + ".pdf")
        assert len(long) <= 255 and long.endswith(".pdf")


class TestProcessingEfficiency:
    def test_tiers(self):
        from n8n_tools_api_spark.refsem.textclean import processing_efficiency

        # ocr_response_formatter.py:800-809 thresholds
        assert processing_efficiency(0) == "excellent"
        assert processing_efficiency(4999) == "excellent"
        assert processing_efficiency(5000) == "good"
        assert processing_efficiency(14999) == "good"
        assert processing_efficiency(15000) == "average"
        assert processing_efficiency(29999) == "average"
        assert processing_efficiency(30000) == "slow"


class TestBoilerplate:
    def test_nav_footer_dropped_main_kept(self):
        html = (
            "<html><body>"
            "<nav><a href='/a'>home</a> <a href='/b'>about</a></nav>"
            "<div><p>This is the main article content with enough prose "
            "to stand on its own feet and survive scoring.</p></div>"
            "<footer><a href='/c'>terms</a> <a href='/d'>privacy</a></footer>"
            "</body></html>"
        )
        out = strip_boilerplate(html)
        assert "main article content" in out
        assert "home" not in out
        assert "privacy" not in out

    def test_link_farm_dropped(self):
        html = (
            "<body><div>"
            + "".join(f"<a href='/{i}'>link {i}</a> " for i in range(10))
            + "</div><p>Real sentence with no links at all, quite long indeed.</p></body>"
        )
        out = strip_boilerplate(html)
        assert "Real sentence" in out
        assert "link 3" not in out

    def test_empty(self):
        assert strip_boilerplate("") == ""

    def test_plain_text_passthrough(self):
        assert "just words" in strip_boilerplate("<body><p>just words and more padding text here</p></body>")

    def test_block_text_lists_own_parts_first(self):
        html = ("<p>Lead words <b>first</b> middle words <i>second</i>"
                " and the tail words of this paragraph</p>")
        assert strip_boilerplate(html) == (
            "Lead words middle words and the tail words of this paragraph"
            " first second")

    def test_self_closing_follows_html5(self):
        # "/>" does not close a non-void tag: <nav/> opens a drop region
        # that its parent's end tag closes (and consumes, so the first <p>
        # stays open around the second), and <br/> is a plain void tag
        html = ("<body><p>Visible paragraph text that is long enough."
                "<nav/>hidden link words</p>"
                "<p>Second paragraph<br/>stays visible here.</p></body>")
        assert strip_boilerplate(html) == (
            "Visible paragraph text that is long enough."
            "\n\nSecond paragraph stays visible here.")

    @settings(max_examples=2000, deadline=None)
    @given(html=_HTML)
    def test_matches_oracle(self, html):
        assert strip_boilerplate(html) == _oracle_strip(html)

    def test_matches_oracle_on_bench_spans(self):
        n = 0
        for idx in range(500):
            for s in generate_bench_doc(idx, 7):
                if s["kind"] == "html":
                    assert strip_boilerplate(s["text"]) == _oracle_strip(s["text"])
                    n += 1
        assert n > 500

    @pytest.mark.parametrize("html", [
        "<div>" * 10_000 + "deep content words" + "</div>" * 10_000,
        "<p>" + "<b>some words of inline text " * 3_000,
        "<div>" * 10_000 + "deep content words" + "</span>" * 10_000,
        "<div><p>some words of block text " * 2_000
        + "</span></p></b><i>x</a>" * 2_000 + "</div>" * 2_000,
    ], ids=["nested_div_10000", "unclosed_b_3000", "stray_span_10000",
            "mixed_closes_2000"])
    def test_deep_markup_returns_text(self, html):
        # the recursive oracle needs a raised limit; the scorer must not
        with _recursion_limit(100_000):
            expected = _oracle_strip(html)
        assert expected
        assert strip_boilerplate(html) == expected

    def test_stray_end_tags_cost_no_stack_scan(self):
        # an end tag naming no open element must not scan the open
        # stack: 10,000 of them under 10,000 open <div> stay linear
        html = "<div>" * 10_000 + "deep content words" + "</span>" * 10_000
        t0 = time.perf_counter()
        strip_boilerplate(html)
        assert time.perf_counter() - t0 < 1.0

    def test_no_function_recurses(self):
        # the call graph among the module's own functions is acyclic
        tree = ast.parse(inspect.getsource(boilerplate))
        funcs = {n.name: n for n in ast.walk(tree)
                 if isinstance(n, ast.FunctionDef)}
        reach = {name: {c.func.id for c in ast.walk(fn)
                        if isinstance(c, ast.Call)
                        and isinstance(c.func, ast.Name)
                        and c.func.id in funcs}
                 for name, fn in funcs.items()}
        grown = True
        while grown:
            grown = False
            for callees in reach.values():
                more = set().union(*(reach[c] for c in callees)) - callees
                if more:
                    callees |= more
                    grown = True
        assert "strip_boilerplate" in funcs
        assert not [name for name, callees in reach.items() if name in callees]


class TestExtractDocument:
    def test_offset_resort(self):
        spans = [
            {"kind": "text", "text": "Second part.", "media_ref": "", "offset": 5},
            {"kind": "text", "text": "First part.", "media_ref": "", "offset": 1},
        ]
        out = extract_document(spans)
        assert [s["text"] for s in out] == ["First part.", "Second part."]
        assert [s["offset"] for s in out] == [0, 1]

    def test_image_valid_and_invalid(self):
        spans = [
            {"kind": "image", "text": CANONICAL_PNG_B64, "media_ref": "", "offset": 0},
            {"kind": "image", "text": "a bare annotation", "media_ref": "", "offset": 1},
        ]
        out = extract_document(spans)
        assert out[0]["kind"] == "image"
        assert out[0]["media_ref"].startswith("media/")
        assert out[0]["media_ref"].endswith(".png")
        assert out[1]["media_ref"] == ""
        assert "a bare annotation" in out[1]["text"]

    def test_pdf_pages_combined_once(self):
        spans = [
            {"kind": "pdf_page", "text": "Page one body.", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "Interleaved note.", "media_ref": "", "offset": 1},
            {"kind": "pdf_page", "text": "Page two body.", "media_ref": "", "offset": 2},
        ]
        out = extract_document(spans)
        assert len(out) == 2
        combined = out[0]["text"]
        assert "PAGE 1 of 2" in combined and "PAGE 2 of 2" in combined
        assert out[1]["text"] == "Interleaved note."

    def test_markdown_ref_fallback_only_without_images(self):
        base = [{"kind": "pdf_page", "text": "See ![fig](img-0.jpeg).", "media_ref": "", "offset": 0}]
        out = extract_document(base)
        assert out[-1]["kind"] == "image"
        assert out[-1]["text"] == "ref_1:fig:conf=0.30"
        with_img = base + [{"kind": "image", "text": CANONICAL_PNG_B64, "media_ref": "", "offset": 1}]
        out2 = extract_document(with_img)
        assert all(not s["text"].startswith("ref_") for s in out2)

    def test_html_becomes_text(self):
        spans = [{"kind": "html",
                  "text": "<body><p>Kept content sentence of reasonable length.</p>"
                          "<nav><a href='/'>x</a></nav></body>",
                  "media_ref": "", "offset": 0}]
        out = extract_document(spans)
        assert len(out) == 1
        assert out[0]["kind"] == "text"
        assert "Kept content" in out[0]["text"]

    def test_empty_doc(self):
        assert extract_document([]) == []

    def test_image_spans_match_public_functions(self):
        # extract_document decodes each payload once; its image spans
        # must equal validate_base64_image + classify_image_span +
        # media_ref_for on every bench payload and on the edge payloads
        payloads = [s["text"] for idx in range(500)
                    for s in generate_bench_doc(idx, 7)
                    if s["kind"] == "image"]
        unpadded = base64.b64encode(bytes(range(61))).decode()
        assert unpadded.endswith("=")
        payloads += [
            "\n".join(CANONICAL_JPEG_B64[i:i + 76]
                      for i in range(0, len(CANONICAL_JPEG_B64), 76)),
            "  " + CANONICAL_PNG_B64 + "\n",
            unpadded.rstrip("="),
            unpadded + "==",
            base64.b64encode(bytes(50)).decode(),
            base64.b64encode(bytes(51)).decode(),
            CANONICAL_GIF_B64,
            "", "   ", "a bare annotation", "!!!notbase64!!!", "QUJD====",
        ]
        for payload in payloads:
            if validate_base64_image(payload):
                expected = (classify_image_span(payload),
                            media_ref_for(payload, "m"))
            else:
                expected = (classify_image_span("", annotation=payload.strip()), "")
            out = extract_document(
                [{"kind": "image", "text": payload, "offset": 0}],
                media_prefix="m")
            assert [(s["kind"], s["text"], s["media_ref"]) for s in out] == [
                ("image", *expected)]
        assert len(payloads) > 500
