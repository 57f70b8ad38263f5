"""Text-cleaning / document-text assembly semantics (SURVEY.md §2.8 F1-F4,
§2.4 A6-A7).

Each function reproduces, bit-for-bit, an observable behavior of the
reference formatter (`/root/reference/app/utils/ocr_response_formatter.py`).
The regex *order* matters — the reference applies its substitutions in a
fixed sequence and later passes see the output of earlier ones.
"""

from __future__ import annotations

import re

# Parity: ocr_response_formatter.py:27-31 (OCRResponseFormatter.__init__).
CONFIDENCE_PATTERNS = (
    r"confidence[:\s]*([0-9.]+)",
    r"accuracy[:\s]*([0-9.]+)",
    r"certainty[:\s]*([0-9.]+)",
)

# Parity: ocr_response_formatter.py:684-692 (_detect_primary_language).
LANGUAGE_PATTERNS = (
    ("english", r"[a-zA-Z\s]+"),
    ("spanish", r"[a-zA-ZñÑáéíóúüÁÉÍÓÚÜ\s]+"),
    ("french", r"[a-zA-ZàâäéèêëïîôöùûüÿñçÀÂÄÉÈÊËÏÎÔÖÙÛÜŸÑÇ\s]+"),
    ("german", r"[a-zA-ZäöüßÄÖÜ\s]+"),
    ("chinese", r"[一-鿿]+"),
    ("arabic", r"[؀-ۿ]+"),
    ("russian", r"[а-яёА-ЯЁ\s]+"),
)

# The six F1 passes of clean_extracted_text, in the reference's order,
# written so that no match expands a group template (see its docstring).
_RE_TRIPLE_BLANK = re.compile(r"\n\s*\n\s*\n")
_RE_HORIZ_WS = re.compile(r"\t[ \t]*| [ \t]+")
_RE_CAMEL = re.compile(r"[a-z](?=[A-Z])")
_RE_NUM_ALPHA = re.compile(r"\d(?=[A-Za-z])")
_RE_WS_PUNCT = re.compile(r"\s+(?=[.!?,:;])")
_RE_SENT_END = re.compile(r"[.!?]\s*(?=[A-Z])")
_RE_MD_HEADER = re.compile(r"^#+\s+(.+)$", re.MULTILINE)
_RE_MD_IMAGE = re.compile(r"!\[([^\]]*)\]\(([^)]+)\)")


def _space_after(m: re.Match) -> str:
    return m.group() + " "


def _space_after_first(m: re.Match) -> str:
    return m.group()[0] + " "


def clean_extracted_text(text: str) -> str:
    r"""Normalize one page of extracted text.

    Parity: ocr_response_formatter.py:148-173 (_clean_extracted_text) —
    six ordered substitutions, then strip. The camel-case split (pass 3)
    runs *before* the digit/letter split (pass 4), and punctuation fixes
    see the output of both.

    The reference's six patterns are ``\n\s*\n\s*\n`` -> ``\n\n``,
    ``[ \t]+`` -> `` ``, ``([a-z])([A-Z])`` -> ``\1 \2``,
    ``(\d+)([A-Za-z])`` -> ``\1 \2``, ``\s+([.!?,:;])`` -> ``\1`` and
    ``([.!?])\s*([A-Z])`` -> ``\1 \2``. No pass here expands a group
    template (pure-Python ``re._parser.expand_template``): passes 3, 4 and
    6 consume only their anchor character (the lower-case letter, the
    last digit, the punctuation mark plus its spaces), keep the next
    character in a lookahead and rebuild the match with a module-level
    function; pass 5 matches only what it deletes. That is the same
    output because the character a reference pattern consumes after its
    rewritten part can never start that pattern's next match, and a
    digit run splits only before its last digit. Starting each pattern
    with a character class instead of a zero-width lookbehind lets the
    regex engine skip to candidate positions instead of trying every
    one. Pass 2 leaves a lone space alone instead of rewriting it to
    itself, and pass 1 needs a newline to match at all. Against the
    lookbehind form: 205 -> 147 us per document (41.5 -> 29.8 us per
    span) over the 14,835 cleaning inputs of 3000 bench documents on a
    4-core Xeon VM, single thread, best of 7. tests/test_refsem.py keeps
    the reference form as its oracle.
    """
    if not text:
        return ""
    if "\n" in text:
        text = _RE_TRIPLE_BLANK.sub("\n\n", text)
    text = _RE_HORIZ_WS.sub(" ", text)
    text = _RE_CAMEL.sub(_space_after, text)
    text = _RE_NUM_ALPHA.sub(_space_after, text)
    text = _RE_WS_PUNCT.sub("", text)
    text = _RE_SENT_END.sub(_space_after_first, text)
    return text.strip()


def apply_text_formatting_enhancements(text: str) -> str:
    """TOC injection for long, well-structured documents.

    Parity: ocr_response_formatter.py:175-195 — only when len(text)>5000
    and more than 3 markdown headers; lists the first 10 headers with a
    "... and K more sections" tail, then a 50-dash rule.
    """
    if len(text) > 5000:
        headers = _RE_MD_HEADER.findall(text)
        if len(headers) > 3:
            toc = "\n📋 **Table of Contents**\n" + "\n".join(
                f"• {header}" for header in headers[:10]
            )
            if len(headers) > 10:
                toc += f"\n• ... and {len(headers) - 10} more sections"
            text = toc + "\n\n" + "-" * 50 + "\n\n" + text
    return text


def render_document_text(pages: list[dict]) -> str:
    """Assemble the document-level extracted text from ordered pages.

    Parity: ocr_response_formatter.py:105-146 (_extract_enhanced_text):
    * ``page_number`` defaults to ``index + 1`` (1-based),
    * blank pages are skipped entirely,
    * PINNED DIVERGENCE (SURVEY §7.3-style choice): when a page has
      NEITHER ``page_number`` nor ``index``, the reference is internally
      inconsistent — the formatter variant falls back to ``0 + 1 = 1``
      for every such page (ocr_response_formatter.py:122,
      ``page.get('index', 0)``), the service variant to the positional
      ``i + 1`` (mistral_service.py:510). We pin the SERVICE variant
      (``page.get("index", i) + 1``): positional numbering is the only
      one that keeps banners strictly increasing, and the pipeline
      normalizer assigns ``index`` before this runs, so fixtures can
      only hit the divergence via hand-built pages (pinned by
      test_page_number_fallback_is_service_variant),
    * multi-page docs get a ``📄 PAGE n of N`` banner per page and an
      ``End of Page`` rule after every page but the last,
    * segments are joined with a single newline and stripped,
    * finally the TOC enhancement runs over the combined text.

    ``pages`` is a list of dicts with optional keys ``page_number``,
    ``index``, ``text``, ``markdown`` (text wins over markdown — see
    formatter line 123).
    """
    if not pages:
        return ""
    segments: list[str] = []
    total_pages = len(pages)
    for i, page in enumerate(pages):
        page_number = page.get("page_number", page.get("index", i) + 1)
        page_text = page.get("text", page.get("markdown", ""))
        if not page_text.strip():
            continue
        if total_pages > 1:
            segments.append(f"\n{'=' * 50}\n📄 PAGE {page_number} of {total_pages}\n{'=' * 50}\n")
        segments.append(clean_extracted_text(page_text))
        if total_pages > 1 and page_number < total_pages:
            segments.append("\n" + "-" * 30 + " End of Page " + "-" * 30 + "\n")
    combined = "\n".join(segments).strip()
    return apply_text_formatting_enhancements(combined)


def extract_markdown_image_refs(page_text: str) -> list[tuple[str, str]]:
    """Find ``![alt](file)`` references in markdown text.

    Parity: ocr_response_formatter.py:284-289
    (_extract_image_references_from_text). Returns (alt_text, filename)
    pairs in document order; the caller only uses them when a document
    carries *zero* real images (formatter line 249-259).
    """
    if not page_text:
        return []
    return _RE_MD_IMAGE.findall(page_text)


def markdown_ref_annotation(alt_text: str, filename: str) -> str:
    """Annotation for a placeholder image built from a markdown reference.

    Parity: ocr_response_formatter.py:302 — the alt text, or the literal
    fallback string naming the file.
    """
    return alt_text or f"Text reference to image: {filename}"


def detect_primary_language(all_text: str) -> dict:
    """Char-coverage language scoring with a 0.5 detection threshold.

    Parity: ocr_response_formatter.py:667-713 (_detect_primary_language).
    Scores are (sum of match lengths) / len(text) per language; the best
    language is 'detected' only above 0.5 coverage; confidence is capped
    at 1.0. Note the reference's patterns overlap (english ⊂ spanish ⊂ …)
    and ``max`` takes the *first* maximal item in dict order — we keep
    the same pattern order so ties resolve identically.
    """
    if not all_text.strip():
        return {"detected": "unknown", "confidence": 0.0}
    scores: dict[str, float] = {}
    for lang, pattern in LANGUAGE_PATTERNS:
        matches = re.findall(pattern, all_text)
        scores[lang] = (
            sum(len(m) for m in matches) / len(all_text) if all_text else 0
        )
    best_lang, best_score = max(scores.items(), key=lambda x: x[1])
    return {
        "detected": best_lang if best_score > 0.5 else "unknown",
        "confidence": min(best_score, 1.0),
        "scores": scores,
    }


def calculate_confidence_score(page_texts: list[str]) -> float | None:
    """Mine ``confidence: X`` style markers and average them.

    Parity: ocr_response_formatter.py:715-750 (_calculate_confidence_score).
    Values in [0,1] are taken verbatim; values in (1,100] are percentages;
    anything else (or unparseable) is skipped. None when no marker found.
    """
    confidence_scores: list[float] = []
    for page_text in page_texts:
        for pattern in CONFIDENCE_PATTERNS:
            for match in re.findall(pattern, page_text, re.IGNORECASE):
                try:
                    score = float(match)
                except ValueError:
                    continue
                if 0 <= score <= 1:
                    confidence_scores.append(score)
                elif 0 <= score <= 100:
                    confidence_scores.append(score / 100)
    if confidence_scores:
        return sum(confidence_scores) / len(confidence_scores)
    return None


def estimated_words(total_chars: int) -> int:
    """Parity: ocr_response_formatter.py:608 — ``total_chars // 5``."""
    return total_chars // 5 if total_chars > 0 else 0


def processing_efficiency(processing_time_ms: float) -> str:
    """Processing-efficiency tier for a document's wall time.

    Parity: ocr_response_formatter.py:800-809 — excellent <5 s,
    good <15 s, average <30 s, slow otherwise. Wall clock itself is
    excluded from the equality surface (SURVEY.md §2.8 note); only the
    classification function is ported, applied to lineage wall_ms.
    """
    if processing_time_ms < 5000:
        return "excellent"
    if processing_time_ms < 15000:
        return "good"
    if processing_time_ms < 30000:
        return "average"
    return "slow"
