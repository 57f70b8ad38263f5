"""Formatted-response stage — the reference's rich output shape.

The reference exposes two response shapes behind a hardcoded flag
(`return_raw_mistral_format`, ocr.py:448): the *official* pass-through
and the *formatted* `OCRResponse` built by OCRResponseFormatter
(ocr_response_formatter.py:33-103). The extraction pipeline
(operators/extract.py) covers the span-level invariant; this stage is
the document-level formatted shape: combined text with banners/TOC,
per-image enrichment, and the content-analysis metadata block
(A5 density, A6 language, A7 confidence, F13 estimated words).

One Arrow-batched mapInPandas stage over the interleaved input; every
scalar comes from refsem, so the semantics are the reference's.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.pyworker import udf_body

FORMATTED_SCHEMA = (
    "doc_id string, "
    "extracted_text string, "
    "images array<struct<sequence_number:int, detected_format:string, "
    "data_size_bytes:bigint, base64_length:bigint, has_base64:boolean, "
    "annotation:string>>, "
    "total_characters bigint, estimated_words bigint, "
    "text_density double, image_density double, content_ratio double, "
    "language string, language_confidence double, "
    "confidence_score double"
)


@udf_body
def _format_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from n8n_tools_api_spark.refsem import (
        calculate_confidence_score,
        detect_primary_language,
        detect_image_format_full,
        image_size_info,
        render_document_text,
        validate_base64_image,
    )
    from n8n_tools_api_spark.refsem.textclean import estimated_words

    for pdf in batches:
        rows = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            spans = sorted(
                (spans if spans is not None else []),
                key=lambda s: (s["offset"] or 0),
            )
            # page list: pdf_page spans in offset order (text spans are
            # page-less prose; html is pre-extraction content)
            pages = [{"index": i, "markdown": s["text"] or ""}
                     for i, s in enumerate(
                         s for s in spans if s["kind"] == "pdf_page")]
            page_texts = [p["markdown"] for p in pages]
            text = render_document_text(pages)

            # A5 content density (ocr_response_formatter.py:641-665):
            # chars/page, images/page, chars-per-image ratio
            image_spans = [s for s in spans if s["kind"] == "image"]
            n_pages = len(pages)
            total_page_chars = sum(len(t) for t in page_texts)
            n_images = len(image_spans)
            text_density = total_page_chars / n_pages if n_pages else 0.0
            image_density = n_images / n_pages if n_pages else 0.0
            content_ratio = (total_page_chars / max(n_images, 1)
                             if n_images > 0 else float(total_page_chars))

            # per-image enrichment (W1 sequencing + F6/F7/P7)
            images = []
            for seq, s in enumerate(image_spans, start=1):
                payload = s["text"] or ""
                has_b64 = validate_base64_image(payload)
                size = image_size_info(payload) if has_b64 else {}
                images.append((
                    seq,
                    detect_image_format_full(payload) if has_b64 else "unknown",
                    size.get("data_size_bytes", 0),
                    size.get("base64_length", 0),
                    has_b64,
                    "" if has_b64 else payload.strip(),
                ))

            lang = detect_primary_language(" ".join(page_texts))
            conf = calculate_confidence_score(page_texts)
            total_chars = len(text)
            rows.append({
                "doc_id": doc_id,
                "extracted_text": text,
                "images": images,
                "total_characters": total_chars,
                "estimated_words": estimated_words(total_chars),
                "text_density": text_density,
                "image_density": image_density,
                "content_ratio": content_ratio,
                "language": lang["detected"],
                "language_confidence": float(lang["confidence"]),
                "confidence_score": float(conf) if conf is not None else None,
            })
        yield pd.DataFrame(rows)


def format_documents(docs: DataFrame) -> DataFrame:
    """Interleaved docs → formatted-response rows (narrow, no shuffle)."""
    return docs.mapInPandas(_format_batches, schema=FORMATTED_SCHEMA)


def processing_info(metrics: DataFrame) -> DataFrame:
    """Per-request processing_info rollup — pure column expressions.

    Parity: ocr_response_formatter.py:752-810 (_create_processing_info).
    In the batch engine the wall-clock duration is an *input* column
    (from the lineage/metrics table) rather than time.time(), so the
    whole record is deterministic: characters/pages per second
    (round 2) and the efficiency tier (<5000 ms excellent / <15000
    good / <30000 average / else slow; 'unknown' when the duration is
    zero or missing — the reference's pre-populated default survives
    its `if processing_time_seconds > 0` guard).

    Input: (req_id, processing_time_ms double, source_type string,
    model string, pages_processed int, total_text_length bigint).
    """
    from pyspark.sql import functions as F

    ms = F.col("processing_time_ms")
    secs = ms / 1000
    ok = ms.isNotNull() & (ms > 0)
    return metrics.select(
        "req_id",
        F.round(ms, 2).alias("processing_time_ms"),
        "source_type",
        F.coalesce(F.col("model"), F.lit("mistral-ocr-latest"))
        .alias("ai_model_used"),
        F.lit("mistral-ai").alias("service_provider"),
        F.coalesce(F.col("pages_processed"), F.lit(0)).alias("pages_processed"),
        F.when(ok, F.round(F.col("total_text_length") / secs, 2))
        .otherwise(F.lit(0.0)).alias("characters_per_second"),
        F.when(ok, F.round(F.col("pages_processed") / secs, 2))
        .otherwise(F.lit(0.0)).alias("pages_per_second"),
        F.when(~ok, "unknown")
        .when(ms < 5000, "excellent")
        .when(ms < 15000, "good")
        .when(ms < 30000, "average")
        .otherwise("slow")
        .alias("processing_efficiency"),
    )
