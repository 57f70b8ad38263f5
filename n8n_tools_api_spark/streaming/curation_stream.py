"""Streaming curation — the composed ingest-time keep-list.

Chains the two existing prefilter stages into ONE streaming pipeline
(round-3 verdict #7):

1. exact dedup (dedup_stream): content-hash first-claim within the
   watermark, NULL-text docs exempt via a doc-unique key;
2. LSH near-dup prefilter (neardup_stream): band-bucket first-claim,
   NULL-text docs exempt via salted buckets.

The stream emits (doc_id, event_time) for every ADMITTED document as
its micro-batch processes; documents suppressed by either stage never
appear. Both stages are ``dropDuplicatesWithinWatermark`` — state is
bounded by the lateness horizon at every stage, so the composition
survives 10^12 cumulative documents exactly like its parts.

The corpus-lifetime view (components over everything admitted so far)
cannot be a bounded-state streaming aggregate — transitive closure
needs the full admitted set — so it runs as a PERIODIC BATCH stage
over the admitted bronze table: :func:`periodic_components_keep_list`
is the oracle-checked batch curation flow (curation_keep_list, LSH
variant) applied to whatever the stream has admitted. This mirrors the
batch/stream split the exact-dedup stage documents: streaming layers
bound state to the arrival window, batch layers own corpus-lifetime
semantics.

Stream/twin parity is pinned by tests/test_curation_stream.py; the
driver-visible entry is the rows-only ``stream_curation`` query
(plans/pipeline_queries.py), whose batch-side semantics are already
oracle-checked via curation_keep_list/curation_agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup_stream import _dedup_key, dedup_stream, with_content_hash
from .neardup_stream import neardup_prefilter_batch_twin, neardup_prefilter_stream


def curation_stream(docs: DataFrame,
                    watermark: str = "10 minutes") -> DataFrame:
    """(doc_id, event_time) of every document admitted by BOTH
    prefilter stages, emitted as soon as its micro-batch processes.

    Stage order matters: exact dedup first, so a retry/mirror copy is
    dropped by the cheap hash claim and never burns near-dup bucket
    state; the LSH stage then only arbitrates genuinely novel content.
    """
    deduped = dedup_stream(docs, watermark)
    # the watermark was defined by dedup_stream; Spark forbids
    # redefining it mid-pipeline, so the second stage inherits it
    return neardup_prefilter_stream(
        deduped.select("doc_id", "event_time", "text"),
        watermark=watermark, assume_watermarked=True,
    )


def curation_stream_batch_twin(docs: DataFrame) -> DataFrame:
    """Deterministic disposition of EVERY input document:
    (doc_id, event_time, stage) with stage ∈ {'admitted', 'exact_dup',
    'band_collision'}.

    Same contract as the per-stage twins: first-claim in strict
    (event_time, doc_id) order, so it agrees with the stream exactly
    when arrival order matches event time. The stream's output equals
    the ``stage = 'admitted'`` rows; suppressed rows record WHICH stage
    dropped them (the stream just never emits them).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(_dedup_key()).orderBy("event_time", "doc_id")
    hashed = (
        with_content_hash(docs.select("doc_id", "event_time", "text"))
        .withColumn("_rn", F.row_number().over(w))
    )
    exact_survivors = hashed.where(F.col("_rn") == 1) \
        .select("doc_id", "event_time", "text")
    band_admitted = neardup_prefilter_batch_twin(
        exact_survivors).select("doc_id")
    return (
        hashed.join(band_admitted.withColumn("_adm", F.lit(1)),
                    "doc_id", "left")
        .select(
            "doc_id", "event_time",
            F.when(F.col("_rn") > 1, F.lit("exact_dup"))
            .when(F.col("_adm").isNull(), F.lit("band_collision"))
            .otherwise(F.lit("admitted")).alias("stage"),
        )
    )


def periodic_components_keep_list(admitted_docs: DataFrame) -> DataFrame:
    """The periodic batch stage over the admitted bronze table:
    the oracle-checked composed curation flow (LSH candidates → exact
    Jaccard → connected components) yielding (doc_id, status,
    canonical). Run it on whatever cadence the lateness/compaction
    policy dictates.
    """
    from n8n_tools_api_spark.operators.curation import curation_keep_list

    return curation_keep_list(admitted_docs, use_lsh=True)
