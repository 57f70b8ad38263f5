"""Media externalization — the S3-upload stage re-expressed (SURVEY.md §3.3).

Reference behavior (ocr_s3_processor.py:576-663 + s3_client.py:243-270):
detect base64 images, upload each under a content-hash object key,
replace inline base64 with the uploaded reference, keep base64 when an
upload fails (fallback_to_base64). Spark restatement:

1. explode image spans, compute the content hash JVM-side
   (``sha2(unbase64(text), 256)`` — byte-identical to Python hashlib);
2. ``dropDuplicates`` on the hash (A10 — the reference gets dedup
   implicitly from identical object keys);
3. write each distinct blob once (the deployment's foreachPartition
   writer or the Iceberg blob table, sources/iceberg_ddl.py
   ``MEDIA_BLOBS_DDL``);
4. broadcast-join the (hash → media_ref) map back onto the spans (J2)
   with ``coalesce`` keeping the inline payload for unmapped spans
   (the fallback_to_base64 path, ocr_s3_processor.py:693-699).

The blob payloads never enter a wide shuffle: spans project to
(doc_id, hash) before any join and the fat column rejoins only in the
final narrow map (SURVEY.md §7.3 risk 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_media_blobs(docs: DataFrame) -> DataFrame:
    """Distinct decoded media blobs with content-addressed refs
    (``media/<key>.<ext>``, the refsem.media_ref_for layout).

    Input: interleaved documents (pre-extraction — image span text holds
    base64). Output: (media_key, media_ref, ext, media_bytes) — one row
    per distinct payload, ready for a blob-sink write.
    """
    images = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "image")
        .select(F.col("s.text").alias("b64"))
        .where(F.col("b64").isNotNull() & (F.col("b64") != ""))
    )
    from n8n_tools_api_spark.functions import (
        decoded_media_bytes, image_ext_col, media_key_col)

    decoded = images.select(
        decoded_media_bytes("b64").alias("media_bytes"),
        F.col("b64"),
    ).where(F.col("media_bytes").isNotNull() & (F.length("media_bytes") > 50))
    ext = image_ext_col("b64")
    key = media_key_col("media_bytes")
    return (
        decoded.select(
            key.alias("media_key"),
            F.concat(F.lit("media/"), key, F.lit("."), ext).alias("media_ref"),
            ext.alias("ext"),
            F.col("media_bytes"),
        )
        .dropDuplicates(["media_key"])
    )


def media_upload_stats(extracted: DataFrame, blobs: DataFrame) -> DataFrame:
    """A8 upload success-rate rollup (ocr_s3_processor.py:647-656).

    detected = spans carrying a media_ref; uploaded = refs present in
    the blob table; failed = the difference; success_rate = uploaded /
    detected (1.0 when nothing was detected, mirroring the reference's
    guard).
    """
    refs = (
        extracted.select(F.explode("spans").alias("s"))
        .where(F.col("s.media_ref") != "")
        .select(F.col("s.media_ref").alias("media_ref"))
    )
    known = F.broadcast(blobs.select(F.col("media_ref").alias("_known_ref")))
    joined = refs.join(known, refs.media_ref == F.col("_known_ref"), "left")
    return joined.agg(
        F.count("*").alias("detected"),
        F.count("_known_ref").alias("uploaded"),
        (F.count("*") - F.count("_known_ref")).alias("failed"),
        F.round(
            F.when(F.count("*") > 0, F.count("_known_ref") / F.count("*"))
            .otherwise(F.lit(1.0)), 4,
        ).alias("success_rate"),
    )


def apply_media_map(extracted: DataFrame, blobs: DataFrame) -> DataFrame:
    """Broadcast-join uploaded refs back onto extracted spans (J2/F16).

    ``extracted`` is pipeline output (media_ref already content-derived);
    this stage *re-validates* each ref against the blob table — refs
    whose blob failed to land are blanked to '' (the inline fallback,
    mirroring fallback_to_base64) so downstream readers never dangle.
    """
    media_map = F.broadcast(
        blobs.select(F.col("media_ref").alias("_known_ref"))
    )
    # posexplode_outer: documents whose spans cleaned to [] must survive
    # this stage (review finding — plain posexplode dropped their rows)
    spans = (
        extracted.select("doc_id", F.posexplode_outer("spans").alias("pos", "s"))
        .join(media_map, F.col("s.media_ref") == F.col("_known_ref"), "left")
    )
    new_ref = F.when(F.col("_known_ref").isNotNull(), F.col("s.media_ref")) \
        .otherwise(F.lit(""))
    rebuilt = spans.select(
        "doc_id", "pos",
        F.when(
            F.col("s").isNotNull(),
            F.struct(
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.when(F.col("s.media_ref") == "", "").otherwise(new_ref).alias("media_ref"),
                F.col("s.offset").alias("offset"),
            ),
        ).alias("s"),
    )
    return (
        rebuilt.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            "doc_id",
            F.filter(
                F.transform("ps", lambda x: x["s"]), lambda s: s.isNotNull()
            ).alias("spans"),
        )
    )
