"""extract_document — the canonical per-document extraction spec.

This is the engine's single-document semantics: a pure function
``list[span] -> list[span]`` over ``(kind, text, media_ref, offset)``
dicts. The golden-fixture generator calls it driver-side; the Spark
pipeline calls the very same function inside an Arrow-batched pandas UDF
(operators/extract.py) — exact span-sequence equality between the two is
therefore structural, and the *semantics* are pinned by the reference
citations below plus tests/test_refsem.py.

Spec (input kinds per FIXTURES.md §1):

1. Spans are processed in ``offset`` order, never array order
   (W5, SURVEY.md §2.5 — offsets may arrive shuffled).
2. ``text`` spans: cleaned via F1
   (ocr_response_formatter.py:148-173); dropped when cleaning leaves
   nothing (mirrors the reference's blank-page skip, formatter line 126).
3. ``html`` spans: DOM-heuristic boilerplate strip (refsem.boilerplate)
   then F1 cleaning; emitted as kind='text'; dropped when empty.
4. ``pdf_page`` spans: the ordered set of a document's pdf_page spans is
   treated as its page list and rendered to ONE combined text span via
   F2 page banners + separators and F3 TOC injection
   (ocr_response_formatter.py:105-146,175-195), emitted as kind='text'
   at the position of the document's first pdf_page span.
5. ``image`` spans: the span text carries the base64 payload (or a bare
   annotation). Valid payloads (P7 formatter variant, >50 decoded bytes,
   ocr_response_formatter.py:454-475) get a content-addressed
   ``media_ref`` (S6 minus timestamp, s3_client.py:243-270) and a
   deterministic OCR-classification label (F6/F7/F9). Invalid payloads
   are kept as annotation-only image spans with empty media_ref.
6. Markdown image-reference fallback (F4,
   ocr_response_formatter.py:265-331): only when the document has ZERO
   input image spans, ``![alt](file)`` references inside pdf_page text
   produce placeholder image spans (id ``ref_{k}``, confidence 0.30),
   appended after all content spans in page order.
7. Output offsets are renumbered 0..n-1 in final order (W1 sequencing,
   mistral_service.py:493,529-539).
"""

from __future__ import annotations

from .boilerplate import strip_boilerplate
from .images import (
    _is_image,
    _media_ref,
    _ocr_label,
    classify_image_span,
    decode_base64_payload,
)
from .textclean import (
    clean_extracted_text,
    extract_markdown_image_refs,
    markdown_ref_annotation,
    render_document_text,
)

EXTRACT_SPEC_VERSION = 1

_PDF_PAGE_PLACEHOLDER = object()


def extract_document(spans: list[dict], media_prefix: str = "media",
                     image_limit: int = 50) -> list[dict]:
    """Apply the extraction spec to one document's spans.

    ``spans``: list of dicts with keys kind/text/media_ref/offset (extra
    keys ignored). Returns new span dicts with offsets 0..n-1.
    ``image_limit``: at most this many image spans are processed, in
    offset order (O2 — the reference's image_limit=50 default,
    mistral_service.py:297-302 / ocr.py:425-430); excess images drop.
    """
    if not spans:
        return []
    ordered = sorted(spans, key=lambda s: (s.get("offset") or 0))
    if image_limit is not None:
        kept, n_img = [], 0
        for s in ordered:
            if (s.get("kind") == "image"):
                n_img += 1
                if n_img > image_limit:
                    continue
            kept.append(s)
        ordered = kept

    pdf_pages: list[dict] = []
    has_input_images = any((s.get("kind") == "image") for s in ordered)

    out: list = []
    pdf_slot_used = False
    for span in ordered:
        kind = span.get("kind") or ""
        text = span.get("text") or ""
        if kind == "text":
            cleaned = clean_extracted_text(text)
            if cleaned:
                out.append({"kind": "text", "text": cleaned, "media_ref": ""})
        elif kind == "html":
            cleaned = clean_extracted_text(strip_boilerplate(text))
            if cleaned:
                out.append({"kind": "text", "text": cleaned, "media_ref": ""})
        elif kind == "pdf_page":
            pdf_pages.append({"index": len(pdf_pages), "markdown": text})
            if not pdf_slot_used:
                out.append(_PDF_PAGE_PLACEHOLDER)
                pdf_slot_used = True
        elif kind == "image":
            # validate_base64_image, classify_image_span and media_ref_for
            # over one decode of the payload
            decoded = decode_base64_payload(text)
            if _is_image(decoded):
                out.append({
                    "kind": "image",
                    "text": _ocr_label(text, decoded),
                    "media_ref": _media_ref(text, decoded, media_prefix),
                })
            else:
                annotation = text.strip()
                out.append({
                    "kind": "image",
                    "text": classify_image_span("", annotation=annotation),
                    "media_ref": "",
                })
        # unknown kinds are dropped (fixed core schema, SURVEY.md §1.1)

    # resolve the combined pdf_page text at the first pdf_page position
    if pdf_slot_used:
        combined = render_document_text(pdf_pages)
        slot = out.index(_PDF_PAGE_PLACEHOLDER)
        if combined:
            out[slot] = {"kind": "text", "text": combined, "media_ref": ""}
        else:
            del out[slot]

    # F4 fallback: markdown image references, only for image-less docs
    if not has_input_images and pdf_pages:
        ref_counter = 1
        for page in pdf_pages:
            for alt_text, filename in extract_markdown_image_refs(page["markdown"]):
                annotation = markdown_ref_annotation(alt_text, filename)
                out.append({
                    "kind": "image",
                    "text": f"ref_{ref_counter}:{annotation}:conf=0.30",
                    "media_ref": "",
                })
                ref_counter += 1

    return [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"],
         "offset": i}
        for i, s in enumerate(out)
    ]
