"""The extraction pipeline — documents_interleaved → extracted spans.

Spark-first design notes (SURVEY.md §3.2 restatement):

* The whole per-document transform is a NARROW map — no shuffle. One
  ``mapInPandas`` stage applies :func:`refsem.extract_document` to each
  Arrow batch; partitioning by doc_id hash is preserved end-to-end, so
  at 10^12 documents the job is embarrassingly parallel and scaling
  efficiency is bounded only by input-split balance (skew handled by
  salted repartition below, not by the transform itself).
* ``media_ref`` is content-derived (sha256 of decoded bytes), so it
  needs *no* coordination/shuffle either — dedup for blob writing is a
  separate, optional stage (operators/media.py).
* Arrow batch size is kept small (session.py) because media-heavy rows
  are ~50x fatter than text rows.

The pandas UDF body imports the same :mod:`refsem` module that produced
the golden fixtures; the equality surface is therefore one function.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.pyworker import udf_body

OUTPUT_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

STATS_SCHEMA = (
    "doc_id string, n_spans int, n_text_spans int, n_image_spans int, "
    "n_media_refs int, text_chars bigint"
)


@udf_body
def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # imported inside the task so spark-submit --py-files ships one zip
    from n8n_tools_api_spark.refsem import extract_document

    for pdf in batches:
        out_spans = []
        for spans in pdf["spans"]:
            span_dicts = [
                {
                    "kind": s["kind"], "text": s["text"],
                    "media_ref": s["media_ref"], "offset": s["offset"],
                }
                for s in (spans if spans is not None else [])
            ]
            extracted = extract_document(span_dicts)
            out_spans.append([
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in extracted
            ])
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": out_spans})


def extract_spans(docs: DataFrame) -> DataFrame:
    """Run the extraction spec over an interleaved-documents DataFrame.

    Input and output both match the input_hint schema
    ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
    """
    return docs.mapInPandas(_extract_batches, schema=OUTPUT_SCHEMA)


def salted_repartition(docs: DataFrame, num_partitions: int,
                       partition_cols: tuple[str, ...] = ("doc_id",)
                       ) -> DataFrame:
    """Skew-aware repartition for media-heavy documents (SURVEY.md §4).

    Media-heavy docs (30-50 image spans) cost ~50x a text doc in the
    extraction UDF, and upstream layouts CLUSTER them — same crawl
    source, same ingest batch — so partitioning by the natural key
    (source, batch, host prefix) runs the stage at the speed of the
    tail task. This keeps ``partition_cols`` in the key (preserving
    whatever co-location the caller wanted) but salts heavy documents
    (20+ image spans) by a per-doc hash so each heavy cluster spreads
    across up to 32 tasks. Pure column expressions — one exchange.
    See scripts/skew_report.py for the measured A/B.
    """
    img_count = F.size(F.filter("spans", lambda s: s["kind"] == F.lit("image")))
    salt = F.when(
        img_count >= 20,
        F.pmod(F.xxhash64("doc_id"), F.lit(32)),
    ).otherwise(F.lit(0))
    return (
        docs.withColumn("_salt", salt)
        .repartition(num_partitions, *[F.col(c) for c in partition_cols],
                     F.col("_salt"))
        .drop("_salt")
    )


def span_stats(extracted: DataFrame) -> DataFrame:
    """Per-document span statistics — pure higher-order column exprs.

    Whole-stage-codegen'd; used as the flagship smoke query and by the
    lineage/metrics writer.
    """
    spans = F.col("spans")
    is_kind = lambda k: F.size(F.filter(spans, lambda s: s["kind"] == F.lit(k)))
    return extracted.select(
        "doc_id",
        F.size(spans).cast("int").alias("n_spans"),
        is_kind("text").cast("int").alias("n_text_spans"),
        is_kind("image").cast("int").alias("n_image_spans"),
        F.size(F.filter(spans, lambda s: s["media_ref"] != F.lit(""))).cast("int").alias("n_media_refs"),
        F.aggregate(
            spans, F.lit(0).cast("bigint"),
            lambda acc, s: acc + F.length(s["text"]),
        ).alias("text_chars"),
    )
