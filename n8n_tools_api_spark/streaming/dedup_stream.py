"""Streaming exact deduplication — the ingest-time twin of A10.

A training-data landing zone receives documents continuously; exact
dups (mirror crawls, retries) should be dropped BEFORE the expensive
extraction/near-dup stages. Structured Streaming's stateful
``dropDuplicatesWithinWatermark`` on the content hash does this with
bounded state: the watermark ages dedup keys out after the lateness
horizon, so state size tracks the arrival window, not corpus size —
the only formulation that survives 10^12 cumulative documents.
(Corpus-lifetime exact dedup remains the batch operator
``dedup.exact_duplicate_groups``; this stage is the streaming prefilter
in front of it.)

Content hash = sha2(text) — identical to the batch A10 key
(s3_client.py:243-270 content-address parity), so a doc admitted here
and later batch-deduped hashes identically in both layers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_content_hash(docs: DataFrame) -> DataFrame:
    """Append the batch-parity content hash (sha256 hex of the text).

    ``content_hash`` is NULL for NULL text — the dedup stages below must
    NOT key on it directly (NULL keys compare equal in
    dropDuplicatesWithinWatermark and window partitioning, which would
    collapse every text-less/media-only document to one survivor).
    They key on :func:`_dedup_key` instead, which exempts NULL-text rows
    by falling back to the per-document id.
    """
    return docs.withColumn(
        "content_hash", F.sha2(F.col("text").cast("binary"), 256)
    )


def _dedup_key():
    """Dedup key: content hash, or a doc-unique sentinel for NULL text.

    Media-only documents (NULL text) carry no content to dedup on; each
    must survive the prefilter untouched. ``__nulltext__:<doc_id>`` is
    unique per row and cannot collide with a 64-hex sha256 value.
    """
    return F.coalesce(
        F.col("content_hash"),
        F.concat(F.lit("__nulltext__:"), F.col("doc_id").cast("string")),
    )


def dedup_stream(docs: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """First-seen-wins exact dedup over a stream of documents.

    Input: a streaming DataFrame with an ``event_time`` column. Output:
    the stream with duplicate content (by sha256 of ``text``)
    dropped; a duplicate arriving within ``watermark`` of the original
    is suppressed, one arriving later than the horizon may pass (state
    for its key has been reclaimed) — the documented bounded-state
    trade-off; the batch layer catches stragglers.

    NULL-text documents are exempt: each keeps a doc-unique key (see
    :func:`_dedup_key`), so media-only rows all pass through.
    """
    return (
        with_content_hash(docs)
        .withColumn("_dedup_key", _dedup_key())
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def dedup_batch_twin(docs: DataFrame) -> DataFrame:
    """Deterministic batch companion: keep the EVENT-TIME-earliest row
    (tiebroken on ``doc_id``) of each content hash.

    Not bit-equal to dedup_stream under out-of-order arrival: the
    streaming stage keeps the first row in ARRIVAL order (whatever the
    micro-batches deliver), this twin keeps the earliest ``event_time``
    — they agree exactly when arrival order matches event time, which
    is what the tests feed and what a landing-zone ingest normally
    sees. The set of distinct surviving content hashes is identical
    either way. NULL-text rows are exempt on both paths (doc-unique
    key), so every media-only document survives.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(_dedup_key()).orderBy("event_time", "doc_id")
    return (
        with_content_hash(docs)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _url_key():
    """Dedup key: canonical URL, or a doc-unique sentinel for docs
    whose URL canonicalizes to ``''`` (NULL/empty — no fetch identity).

    Divergence from the BATCH operator pinned here: batch
    ``curation.url_dedup`` collapses all ``''`` keys into one
    pseudo-group (dedup ACCOUNTING — the group is visible in the
    disposition), while the ingest prefilter EXEMPTS them — dropping
    every un-URL'd document after the first at ingest would be silent
    data loss, the same reason :func:`_dedup_key` exempts NULL text.

    The two key branches live in DISJOINT namespaces: real canonicals
    are prefixed ``u:`` and sentinels ``n:<doc_id>``. The prefix is
    load-bearing — an unparseable URL canonicalizes to ITSELF
    (identity, non-empty), so without it a junk url field spelled
    exactly like the sentinel of a NULL-URL document would share its
    key and silently drop one of the two rows.
    """
    from n8n_tools_api_spark.operators.curation import canonical_url

    canon = canonical_url(F.col("url"))
    return F.when(
        canon != "", F.concat(F.lit("u:"), canon)
    ).otherwise(F.concat(F.lit("n:"), F.col("doc_id").cast("string")))


def url_dedup_stream(docs: DataFrame,
                     watermark: str = "10 minutes") -> DataFrame:
    """First-FETCH-wins canonical-URL dedup over a document stream —
    the ingest twin of ``curation.url_dedup`` (RefinedWeb's stage-1 URL
    dedup run continuously): a recrawl or tracking-decorated respelling
    arriving within ``watermark`` of the original is suppressed before
    its text costs anything downstream; state ages out with the
    watermark so it tracks the arrival window, not crawl history (the
    batch operator owns corpus-lifetime URL dedup).
    """
    return (
        docs.withColumn("canonical_url", _url_key())
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
        .drop("canonical_url")
    )


def url_dedup_stream_batch_twin(docs: DataFrame) -> DataFrame:
    """Deterministic batch companion of :func:`url_dedup_stream`: keep
    the event-time-earliest row (tiebroken on ``doc_id``) per canonical
    URL, with the same ``''``-exemption key. Agrees exactly with the
    stream when arrival order matches event time (what ingest sees);
    the surviving canonical-key SET is identical either way.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(_url_key()).orderBy("event_time", "doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
