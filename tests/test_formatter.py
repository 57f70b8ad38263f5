"""Formatted-response stage vs the reference formatter fixture
(tests/utils/test_ocr_response_formatter.py) and refsem composition."""

import pytest

from n8n_tools_api_spark.operators.dedup import embedding_near_dups
from n8n_tools_api_spark.operators.formatter import format_documents
from n8n_tools_api_spark.refsem import (
    detect_primary_language,
    render_document_text,
)
from n8n_tools_api_spark.sources.synthetic import (
    CANONICAL_GIF_B64,
    CANONICAL_JPEG_B64,
    CANONICAL_PNG_B64,
    INTERLEAVED_SCHEMA,
)

PAGE1 = ("This is the first page content.\n\n# Header 1\n\n"
         "Some paragraph text with **bold** formatting.")
PAGE2 = ("Second page content here.\n\n## Subsection\n\n"
         "More content with different formatting.")


@pytest.fixture(scope="module")
def fixture_doc(spark):
    """The reference formatter test fixture as an interleaved doc:
    2 pdf_page spans + 3 image spans (png, jpeg, gif)."""
    spans = [
        ("pdf_page", PAGE1, "", 0),
        ("image", CANONICAL_PNG_B64, "", 1),
        ("pdf_page", PAGE2, "", 2),
        ("image", CANONICAL_JPEG_B64, "", 3),
        ("image", CANONICAL_GIF_B64, "", 4),
    ]
    df = spark.createDataFrame([("fix_1", spans)], INTERLEAVED_SCHEMA)
    return format_documents(df).collect()[0]


class TestFormatterFixture:
    def test_text_matches_reference_shape(self, fixture_doc):
        text = fixture_doc["extracted_text"]
        assert "PAGE 1 of 2" in text
        assert "PAGE 2 of 2" in text
        assert "End of Page" in text
        assert "# Header 1" in text
        assert text == render_document_text([
            {"index": 0, "markdown": PAGE1},
            {"index": 1, "markdown": PAGE2},
        ])

    def test_image_enrichment(self, fixture_doc):
        imgs = fixture_doc["images"]
        assert [i["sequence_number"] for i in imgs] == [1, 2, 3]
        assert [i["detected_format"] for i in imgs] == ["png", "jpeg", "unknown"]
        # gif fails the reference's >50-byte gate → annotation-only
        assert imgs[2]["has_base64"] is False
        assert imgs[0]["data_size_bytes"] > 50

    def test_content_analysis(self, fixture_doc):
        total_page_chars = len(PAGE1) + len(PAGE2)
        assert fixture_doc["text_density"] == total_page_chars / 2
        assert fixture_doc["image_density"] == 3 / 2
        assert fixture_doc["content_ratio"] == total_page_chars / 3
        assert fixture_doc["language"] == \
            detect_primary_language(PAGE1 + " " + PAGE2)["detected"]
        assert fixture_doc["estimated_words"] == \
            fixture_doc["total_characters"] // 5
        assert fixture_doc["confidence_score"] is None

    def test_confidence_mining(self, spark):
        spans = [("pdf_page", "OCR result confidence: 0.8 accuracy: 90", "", 0)]
        df = spark.createDataFrame([("c1", spans)], INTERLEAVED_SCHEMA)
        row = format_documents(df).collect()[0]
        assert row["confidence_score"] == pytest.approx((0.8 + 0.9) / 2)


class TestEmbeddingNearDups:
    def test_jittered_copies_found(self, spark, sf_dir):
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        dim = len(emb.select("embedding").first()["embedding"])
        jittered = emb.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.01)).alias("embedding"),
            "label",
        )
        pairs = embedding_near_dups(emb.unionByName(jittered),
                                    dim=dim).collect()
        found = {(r["vec_a"], r["vec_b"]) for r in pairs}
        # scaling a vector preserves cosine exactly → sim 1.0, must be found
        for i in range(10):
            assert (i, i + 1_000_000) in found
        for r in pairs:
            if r["vec_b"] == r["vec_a"] + 1_000_000:
                assert r["cosine_sim"] == pytest.approx(1.0, abs=1e-3)


class TestProcessingInfo:
    def test_tier_taxonomy_and_defaults(self, spark):
        from n8n_tools_api_spark.operators.formatter import processing_info

        metrics = spark.createDataFrame(
            [("fast", 4999.0, "pdf_upload", None, 10, 50000),
             ("good", 5000.0, "pdf_upload", "m", 10, 50000),
             ("avg", 15000.0, "image_url", "m", 3, 30000),
             ("slow", 30000.0, "image_url", "m", 3, 30000),
             ("zero", 0.0, "pdf_upload", "m", 1, 100),
             ("none", None, "pdf_upload", "m", 1, 100)],
            "req_id string, processing_time_ms double, source_type string, "
            "model string, pages_processed int, total_text_length bigint",
        )
        rows = {r["req_id"]: r for r in processing_info(metrics).collect()}
        # ocr_response_formatter.py:800-807 boundaries are strict <
        assert rows["fast"]["processing_efficiency"] == "excellent"
        assert rows["good"]["processing_efficiency"] == "good"
        assert rows["avg"]["processing_efficiency"] == "average"
        assert rows["slow"]["processing_efficiency"] == "slow"
        assert rows["zero"]["processing_efficiency"] == "unknown"
        assert rows["none"]["processing_efficiency"] == "unknown"
        # :785-791 ratios; zero-duration keeps the pre-populated 0s
        assert rows["fast"]["characters_per_second"] == round(50000 / 4.999, 2)
        assert rows["slow"]["pages_per_second"] == 0.1
        assert rows["zero"]["characters_per_second"] == 0.0
        # model default (:777) and provider constant (:778)
        assert rows["fast"]["ai_model_used"] == "mistral-ocr-latest"
        assert rows["fast"]["service_provider"] == "mistral-ai"
