"""Reusable JVM-side column expressions (SURVEY.md §2.8 built-ins).

These are the scalar functions whose semantics are byte-safe in Spark
built-ins (hashing, prefixes). Anything regex- or rounding-
sensitive stays in refsem pandas UDFs (F1-F4, KB rounding) — see the
per-function parity notes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def decoded_media_bytes(b64_col) -> Column:
    """base64 → binary, NULL on invalid input (strict, like refsem's
    validate=True path). Parity: F5, mistral_service.py:117-146."""
    return F.try_to_binary(F.col(b64_col) if isinstance(b64_col, str) else b64_col,
                           F.lit("base64"))


def image_ext_col(b64_col) -> Column:
    """Base64-prefix format detection, full variant (F6,
    mistral_service.py:809-871) mapped to an object-key extension."""
    c = F.col(b64_col) if isinstance(b64_col, str) else b64_col
    return (
        F.when(c.startswith("/9j/"), "jpeg")
        .when(c.startswith("iVBORw0KGgo"), "png")
        .when(c.startswith("R0lGODlh"), "gif")
        .when(c.startswith("R0lGODdh"), "gif")
        .when(c.startswith("UklGR"), "webp")
        .when(c.startswith("Qk"), "bmp")
        .otherwise("bin")
    )


def media_key_col(bytes_col) -> Column:
    """sha256[:16] content key — byte-identical to Python hashlib
    (S6 minus timestamp, s3_client.py:243-270)."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    return F.substring(F.sha2(c, 256), 1, 16)
