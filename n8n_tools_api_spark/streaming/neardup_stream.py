"""Streaming NEAR-dup prefilter — the LSH twin of dedup_stream.

Sits between the exact-dedup ingest stage (dedup_stream.py) and the
batch near-dup suite: each arriving document's MinHash band buckets
(the same zero-shuffle signature map the batch LSH path uses,
operators/dedup.py:minhash_banded) are checked against the buckets
seen inside the watermark horizon. A document whose EVERY band bucket
was already claimed is an all-band LSH collision with recent traffic —
far stronger than the batch candidate rule (≥2 shared bands) — and is
suppressed; any document with at least one novel bucket passes through
to extraction and the batch components stage.

Shape: two chained ``dropDuplicatesWithinWatermark`` stages, both of
which emit surviving rows IMMEDIATELY (no watermark-finalization delay,
unlike an append-mode aggregation — a prefilter must not hold traffic
for the lateness horizon):

1. (band, bucket) first-claim over the exploded banding — novel rows
   survive, claimed rows drop;
2. (doc_id) first-novel-row — collapses a passing doc's novel bands to
   ONE output row.

State is bounded exactly like the exact prefilter: keys age out after
the lateness horizon, so state tracks the arrival window's bucket set
(≤ bands × docs-in-window), never the corpus — the only shape that
survives 10^12 cumulative documents. Late arrivals beyond the horizon
may pass; the batch layer catches them (documented trade-off shared
with dedup_stream).

The buckets are xxhash64-based, so no DuckDB replay exists; parity
between the stream and the deterministic batch twin is pinned by
tests/test_neardup_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _banded(docs: DataFrame, num_hashes: int, bands: int,
            k: int) -> DataFrame:
    """Band buckets with the NULL-text exemption applied.

    Media-only documents (NULL text) all fold to the identical all-NULL
    MinHash signature — ``concat_ws`` skips NULLs, so every band bucket
    collides and the first media-only doc in the watermark would
    suppress ALL later ones (silent data loss directly upstream of
    extraction — same bug class dedup_stream exempts via _dedup_key).
    Salt their buckets with a doc-unique key instead: every band of a
    NULL-text doc becomes (band, xxhash64('__nulltext__:'+doc_id)),
    unique per document, so each media-only doc claims all its buckets
    and always passes. Text-bearing docs are untouched.
    """
    from n8n_tools_api_spark.operators.dedup import minhash_banded

    flagged = docs.withColumn("_nulltext", F.col("text").isNull())
    banded = minhash_banded(flagged, num_hashes=num_hashes, bands=bands, k=k,
                            keep_cols=("event_time", "_nulltext"))
    salted = F.when(
        F.col("_nulltext"),
        F.xxhash64(F.concat(F.lit("__nulltext__:"), F.col("doc_id"))),
    ).otherwise(F.col("bucket"))
    return banded.withColumn("bucket", salted).drop("_nulltext")


def neardup_prefilter_stream(docs: DataFrame,
                             watermark: str = "10 minutes",
                             num_hashes: int = 64, bands: int = 16,
                             k: int = 5,
                             assume_watermarked: bool = False) -> DataFrame:
    """(doc_id, event_time) for every PASSING document, emitted as soon
    as its micro-batch processes.

    A document appears iff ≥1 of its band buckets is first-seen within
    the watermark; suppressed documents (all bands already claimed)
    never appear. Within one micro-batch the bucket claimant is
    arrival-arbitrary (same rule as dedup_stream); across batches,
    earlier micro-batches win.

    ``assume_watermarked=True`` skips the ``withWatermark`` call: Spark
    forbids REDEFINING a watermark mid-pipeline, so a caller composing
    this stage downstream of another stateful stage (curation_stream)
    must set the watermark once upstream and pass True here.
    """
    banded = _banded(docs, num_hashes, bands, k)
    if not assume_watermarked:
        banded = banded.withWatermark("event_time", watermark)
    novel = banded.dropDuplicatesWithinWatermark(["band", "bucket"])
    return (
        novel.dropDuplicatesWithinWatermark(["doc_id"])
        .select("doc_id", "event_time")
    )


def neardup_prefilter_batch_twin(docs: DataFrame, num_hashes: int = 64,
                                 bands: int = 16, k: int = 5) -> DataFrame:
    """Deterministic batch companion: bucket first-claim in strict
    (event_time, doc_id) order; a doc passes iff it claims ≥1 bucket.
    Agrees with the stream exactly when arrival order matches event
    time (same contract as dedup_batch_twin). Suppressed documents are
    absent from the output on both paths. ``novel_bands`` (how many
    buckets the doc claimed) is exposed for diagnostics; the stream
    emits only (doc_id, event_time).
    """
    from pyspark.sql.window import Window

    banded = _banded(docs.select("doc_id", "event_time", "text"),
                     num_hashes, bands, k)
    w = Window.partitionBy("band", "bucket").orderBy("event_time", "doc_id")
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .groupBy("doc_id", "event_time")
        .agg(F.count("*").cast("int").alias("novel_bands"))
    )
