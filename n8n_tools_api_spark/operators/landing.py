"""URL-landing classification stage — S3's deterministic core as pure
column expressions.

The reference downloads each URL inline in the request handler
(ocr_utils.py:257-371); at 10^12 documents the fetch belongs to a
landing fleet that delivers ``(url, http_status, content_type,
content_length_header, payload)`` rows into bronze, and THIS stage
classifies them: filename derivation, gate order, the
extension → content-type → magic-sniff type ladder, and magic
validation, each with the reference's exact strings
(refsem/landing.py is the Python twin the tests replay).

Everything is a single narrow projection over JVM string/byte
expressions — no UDF, no shuffle, whole-stage codegen; magic checks
compare hex prefixes of the binary payload so the fat column is never
converted to Python. Contract: absolute http(s)/ftp-style URLs
(scheme://authority/path...) — the only shape the reference's HttpUrl
request model admits.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..refsem.landing import (
    MAX_FILE_SIZE,
    MSG_EMPTY,
    MSG_TOO_LARGE,
    MSG_UNKNOWN_TYPE,
    OCR_ALLOWED_EXTENSIONS,
)

# (type, appended ext, hex prefixes) in the reference's sniff order
_SNIFF = (
    ("pdf", "pdf", ("25504446",)),
    ("png", "png", ("89504E470D0A1A0A",)),
    ("jpg", "jpg", ("FFD8FF",)),
    ("tiff", "tiff", ("49492A00", "4D4D002A")),
)


def _hex_prefix(payload: Column, n: int) -> Column:
    # SQL substring on BINARY yields a binary slice; shorter payloads
    # yield a shorter slice whose hex simply fails the equality, which
    # is exactly bytes.startswith semantics
    return F.upper(F.hex(F.substring(payload, 1, n)))


def url_landing_plan(requests: DataFrame) -> DataFrame:
    """(url, filename, file_type, action, reason) per landed fetch.

    Input columns: ``url string, http_status int, content_type string,
    content_length_header bigint, payload binary`` (header NULL when
    the server sent none; payload NULL ≡ empty). Check order, ladder,
    and messages mirror refsem/landing.py / ocr_utils.py:272-343 —
    including the hidden-file quirk that makes the ladder reachable.

    Built as STAGED selects: the magic-prefix comparisons, the parsed
    path, and the type ladder are each computed once and referenced as
    attributes downstream. The first (fully-inlined) formulation
    re-expanded the shared subtrees combinatorially — a 323 KB plan
    tree costing ~4 s of driver-side analysis per call for 240 rows
    (bench finding); this shape is ~30× smaller and analysis-cheap.
    """
    url = F.col("url")
    pay = F.coalesce(F.col("payload"), F.lit(b""))
    # urlparse path: strip scheme://authority, stop at query/fragment
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    s1 = requests.select(
        "url", "http_status", "content_type",
        "content_length_header",
        F.length(pay).alias("_n_bytes"),
        F.element_at(F.split(path, "/"), -1).alias("_base"),
        (_hex_prefix(pay, 4) == "25504446").alias("_m_pdf"),
        (_hex_prefix(pay, 8) == "89504E470D0A1A0A").alias("_m_png"),
        (_hex_prefix(pay, 3) == "FFD8FF").alias("_m_jpg"),
        ((_hex_prefix(pay, 4) == "49492A00")
         | (_hex_prefix(pay, 4) == "4D4D002A")).alias("_m_tiff"),
    )

    fname0 = F.when(F.col("_base") == "", "remote_document") \
        .otherwise(F.col("_base"))
    s2 = s1.withColumn("_fname0", fname0)
    has_allowed = reduce(
        lambda a, b: a | b,
        [F.lower(F.col("_fname0")).endswith(ext)
         for ext in OCR_ALLOWED_EXTENSIONS])
    s3 = s2.withColumn(
        "_fname1",
        F.when(has_allowed, F.col("_fname0"))
        .otherwise(F.concat(F.col("_fname0"), F.lit(".pdf"))),
    )

    # os.path.splitext: suffix from the last dot, unless every char
    # before it is itself a dot (leading dots are part of the name)
    stripped = F.regexp_replace(F.col("_fname1"), r"^\.+", "")
    s4 = s3.withColumn(
        "_ext", F.lower(F.regexp_extract(stripped, r"(\.[^.]*)$", 1)))
    ext_type = (
        F.when(F.col("_ext").isin(".jpg", ".jpeg"), "jpeg")
        .when(F.col("_ext") == ".png", "png")
        .when(F.col("_ext") == ".tiff", "tiff")
        .when(F.col("_ext") == ".pdf", "pdf")
        .otherwise("unknown")
    )
    ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
    sniffed = (
        F.when(F.col("_m_pdf"), "pdf")
        .when(F.col("_m_png"), "png")
        .when(F.col("_m_jpg"), "jpg")
        .when(F.col("_m_tiff"), "tiff")
        .otherwise("unknown")
    )
    ladder_type = (
        F.when(ct.contains("pdf"), "pdf")
        .when(ct.contains("png"), "png")
        .when(ct.contains("jpeg") | ct.contains("jpg"), "jpeg")
        .when(ct.contains("tiff"), "tiff")
        .otherwise(sniffed)
    )
    s5 = s4.withColumn("_ext_type", ext_type) \
        .withColumn("_ladder_type", ladder_type)
    s6 = s5.withColumn(
        "_file_type",
        F.when(F.col("_ext_type") != "unknown", F.col("_ext_type"))
        .otherwise(F.col("_ladder_type")),
    )
    ladder_ext = (
        F.when(F.col("_ladder_type") == "jpeg", "jpg")
        .when(F.col("_ladder_type") == "unknown",
              F.lit(None).cast("string"))
        .otherwise(F.col("_ladder_type"))
    )
    s7 = s6.withColumn(
        "_fname2",
        F.when(
            (F.col("_ext_type") == "unknown") & ladder_ext.isNotNull(),
            F.concat(F.col("_fname1"), F.lit("."), ladder_ext),
        ).otherwise(F.col("_fname1")),
    )

    # 'jpeg' (extension path) validates with the jpg signature
    magic_ok = (
        F.when(F.col("_file_type") == "pdf", F.col("_m_pdf"))
        .when(F.col("_file_type") == "png", F.col("_m_png"))
        .when(F.col("_file_type").isin("jpg", "jpeg"), F.col("_m_jpg"))
        .when(F.col("_file_type") == "tiff", F.col("_m_tiff"))
        .otherwise(F.lit(False))
    )
    invalid_msg = F.concat(F.lit("Invalid "), F.upper(F.col("_file_type")),
                           F.lit(" file format - incorrect file signature"))
    # NULL status (fetch never completed) must REJECT like the refsem
    # twin: Python's `None != 200` is True, but a raw Spark `!= 200`
    # on NULL is NULL and would fall through to acceptance (review
    # finding). The message renders 'HTTP None' exactly like the
    # f-string.
    status_bad = (F.col("http_status").isNull()
                  | (F.col("http_status") != 200))
    reason = (
        F.when(status_bad,
               F.concat(F.lit("Failed to download file: HTTP "),
                        F.coalesce(F.col("http_status").cast("string"),
                                   F.lit("None"))))
        .when(F.col("content_length_header").isNotNull()
              & (F.col("content_length_header") > MAX_FILE_SIZE),
              MSG_TOO_LARGE)
        .when(F.col("_n_bytes") > MAX_FILE_SIZE, MSG_TOO_LARGE)
        .when(F.col("_n_bytes") == 0, MSG_EMPTY)
        .when((F.col("_file_type") != "unknown") & ~magic_ok, invalid_msg)
        .when(F.col("_file_type") == "unknown", MSG_UNKNOWN_TYPE)
    )
    # gates that fire before the ladder report the pre-ladder filename
    # and 'unknown' type (the reference raises before resolving them)
    pre_ladder_reject = (
        status_bad
        | (F.col("content_length_header").isNotNull()
           & (F.col("content_length_header") > MAX_FILE_SIZE))
        | (F.col("_n_bytes") > MAX_FILE_SIZE) | (F.col("_n_bytes") == 0)
    )
    s8 = s7.withColumn("_reason", reason) \
        .withColumn("_pre_reject", pre_ladder_reject)
    return s8.select(
        "url",
        F.when(F.col("_pre_reject"), F.col("_fname1"))
        .otherwise(F.col("_fname2")).alias("filename"),
        F.when(F.col("_pre_reject"), "unknown")
        .otherwise(F.col("_file_type")).alias("file_type"),
        F.when(F.col("_reason").isNull(), "accept").otherwise("reject")
        .alias("action"),
        F.col("_reason").alias("reason"),
    )
