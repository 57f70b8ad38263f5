"""PII redaction over a documents table — the masking stage of the
public LLM-data canon (the Dolma pipeline, Soldaini et al. 2024,
masks EMAIL / PHONE / IP matches with ``|||…|||`` tokens; C4 and
RefinedWeb ship equivalent scrub stages).

The patterns here are pinned to the Java-regex ∩ RE2 common subset so
the Spark plan (Java ``regexp_replace``) and the DuckDB oracle (RE2)
execute the SAME automaton: no lookaround, no backreferences, ASCII
classes only.  They are deliberately the simple public shapes —
``local@domain.tld`` emails, NANP ``nnn nnn nnnn`` phones with
``-``/``.``/space separators and optional area-code parens, dotted-quad
IPv4 (permissive octets, like Dolma's) — not a validator.

Pinned semantics (replayed exactly by the ``pii_redaction`` oracle):

* masking is sequential — EMAIL, then PHONE, then IP — and each
  pattern is counted on the text AS LEFT by the previous stage, so a
  phone-shaped digit run inside an email never double-counts;
* replacement tokens are the Dolma-style ``|||EMAIL_ADDRESS|||``,
  ``|||PHONE_NUMBER|||``, ``|||IP_ADDRESS|||``;
* NULL text redacts to the empty string with zero counts.

Scale shape: a pure per-row JVM projection — zero shuffle, zero UDFs;
at 100 TB this rides the parquet scan inside whole-stage codegen like
the other per-row filters (gopher_word_stats, c4_line_filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"
IP_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

EMAIL_TOKEN = "|||EMAIL_ADDRESS|||"
PHONE_TOKEN = "|||PHONE_NUMBER|||"
IP_TOKEN = "|||IP_ADDRESS|||"

# (output count column, pattern, mask token) — order IS the semantics
PII_STAGES: tuple[tuple[str, str, str], ...] = (
    ("n_emails", EMAIL_PATTERN, EMAIL_TOKEN),
    ("n_phones", PHONE_PATTERN, PHONE_TOKEN),
    ("n_ips", IP_PATTERN, IP_TOKEN),
)


def _count(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def redact_pii(docs: DataFrame) -> DataFrame:
    """Mask emails, phone numbers, and IPv4 addresses in ``text``.

    Output: (doc_id, redacted_text, n_emails, n_phones, n_ips,
    pii_total, has_pii) — one row per input row, all counts from the
    sequential stage order documented in the module docstring.
    """
    out = docs.withColumn("_pii_t", F.coalesce(F.col("text"), F.lit("")))
    counts = []
    for count_col, pattern, token in PII_STAGES:
        out = out.withColumn(count_col, _count(F.col("_pii_t"), pattern))
        out = out.withColumn(
            "_pii_t", F.regexp_replace("_pii_t", pattern, token))
        counts.append(count_col)
    total = sum((F.col(c) for c in counts), F.lit(0)).cast("int")
    return out.select(
        "doc_id",
        F.col("_pii_t").alias("redacted_text"),
        *[F.col(c).cast("int").alias(c) for c in counts],
        total.alias("pii_total"),
        (total > 0).alias("has_pii"),
    )
