"""Model-based quality filtering — the TRAINED-classifier stage of the
public LLM-data canon: CCNet/Llama filter with a fastText linear
classifier over hashed n-gram features, DCLM-Baseline's strongest
single intervention is a fastText model trained on curated positives
vs raw negatives, and FineWeb-Edu scores pages with a learned
classifier. The repo's heuristic gates (Gopher, C4) and the CCNet LM
(operators/lm_ppx.py) cover the rule-based canon; this module adds the
discriminative model: train on a labeled positive/negative corpus
IN-ENGINE, apply corpus-wide as a broadcast join.

Why Naive-Bayes log-odds instead of an iterative optimizer: the
scoring surface is identical (fastText with ``wordNgrams=2`` IS a
linear model over hashed unigram+bigram features — the same feature
space :mod:`.dsir` builds), but NB weights are CLOSED FORM over bucket
counts, so

* training is two bounded-key count aggregations (≤ 16^hexlen reduce
  rows regardless of corpus size — map-side combined, no iterative
  gradient passes, no treeAggregate float nondeterminism across
  partition layouts), and
* every weight is an EXACT INTEGER both engines replay bit-for-bit:
  per-bucket class likelihoods use the sixteenth-bit integer log2 of
  :func:`~.lm_ppx.surprisal_q16` (bin-length + interpolated mantissa —
  verified bit-identical Spark vs DuckDB over a 49k-pair grid), so the
  ``quality_classifier`` oracle checks exact values, not tolerances.

Pinned semantics:

* features: the SHARED hashed-feature space of operators/dsir.py —
  repo-standard word split, unigrams then space-joined bigrams with
  occurrence multiplicity, md5-prefix buckets (``'dsir:'`` salt,
  ``hexlen=3`` → 4096 buckets);
* per-bucket weight (sixteenth-bits of log-odds), with ``B = 16^hexlen``
  Laplace smoothing mass and cp/cn the positive/negative training
  occurrence counts:

      w_q16[b] = s16(cn[b]+1, ntot+B) − s16(cp[b]+1, ptot+B)

  where ``s16(num, den) = 16·log2(den/num)`` exactly quantized
  (:func:`~.lm_ppx.surprisal_q16`) — i.e. 16·log2(P(b|pos)/P(b|neg))
  under add-one smoothing. Positive ⇒ the bucket is evidence FOR the
  positive class;
* a bucket unseen in BOTH training slices still carries smoothed
  weight ``w_unseen = s16(1, ntot+B) − s16(1, ptot+B)``; the weight
  table stores the BASELINE-ADJUSTED ``w_adj = w − w_unseen``
  (nonzero only for trained buckets → always ≤ 16^hexlen rows,
  broadcastable by construction) and the score folds the baseline
  back in closed form:

      score_q16 = n_grams·w_unseen + Σ_occurrences w_adj[bucket]

* document decision: ``score_q16 >= threshold_q16`` (default 0 =
  "positive class more likely"; production pipelines sweep the
  threshold or keep a score percentile — DCLM thresholds fastText
  scores the same way, and a class-prior term is a constant that the
  threshold absorbs);
* wordless documents (NULL/empty/whitespace text) have 0 grams →
  score exactly 0 → decision ``0 >= threshold_q16``;
* degenerate training (a slice with zero gram occurrences) stays
  total and lazy — no driver-side action at construction time: with
  ptot = 0 every pnum = 1, so scores reduce to the smoothed
  negative-side surprisal. Callers wanting a hard failure should
  validate their slices upstream.

Scale shape: both training aggregations land on the bounded bucket
space (reduce side ≤ 16^hexlen rows); the weight table and the two
1-row total frames broadcast; scoring explodes slim (doc_id, bucket)
rows into a broadcast left join folded into ONE doc-keyed aggregation;
the id-complete rejoin is doc_id-keyed. Nothing wide ever carries
text. Integer headroom under ANSI mode: |w| ≤ 16·64 sixteenth-bits and
|score| ≤ n_grams·2048 — a single document needs ~2^51 gram
occurrences before a BIGINT sum could overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import explode_grams
from .dsir import hashed_gram_buckets
from .lm_ppx import surprisal_q16


def _side_counts(frame: DataFrame, hexlen: int, out: str) -> DataFrame:
    """(bucket, <out>) training occurrence counts for one class slice."""
    return (
        explode_grams(frame, F.col("text"),
                      lambda ws: hashed_gram_buckets(ws, hexlen),
                      lower=True, name="bucket")
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias(out))
    )


def nb_quality_weights(positive: DataFrame, negative: DataFrame, *,
                       bucket_hexlen: int = 3,
                       ) -> tuple[DataFrame, DataFrame]:
    """Train the NB log-odds model (see module docstring).

    Returns ``(weights, baseline)``: ``weights`` is the
    baseline-adjusted table ``(bucket, w_adj_q16)`` with zero-adjusted
    buckets dropped (≤ 16^hexlen rows — broadcastable by
    construction); ``baseline`` is ONE row ``(w_unseen_q16)``. Both
    are lazy plans over the training slices.
    """
    if bucket_hexlen < 1 or bucket_hexlen > 8:
        raise ValueError(
            f"bucket_hexlen must be in 1..8, got {bucket_hexlen}")
    B = 16 ** bucket_hexlen
    pc = _side_counts(positive, bucket_hexlen, "cp")
    nc = _side_counts(negative, bucket_hexlen, "cn")
    ptot = pc.agg(
        F.coalesce(F.sum("cp"), F.lit(0)).cast("bigint").alias("ptot"))
    ntot = nc.agg(
        F.coalesce(F.sum("cn"), F.lit(0)).cast("bigint").alias("ntot"))
    named = (
        pc.join(nc, "bucket", "full")
        .crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(ntot))
        .select(
            "bucket",
            (F.coalesce(F.col("cp"), F.lit(0)) + 1).cast("bigint")
            .alias("pnum"),
            (F.col("ptot") + B).cast("bigint").alias("pden"),
            (F.coalesce(F.col("cn"), F.lit(0)) + 1).cast("bigint")
            .alias("nnum"),
            (F.col("ntot") + B).cast("bigint").alias("nden"),
        )
    )
    wt = named.select(
        "bucket",
        (surprisal_q16("nnum", "nden") - surprisal_q16("pnum", "pden"))
        .alias("w_q16"),
    )
    baseline = (
        ptot.crossJoin(ntot)
        .select(
            F.lit(1).cast("bigint").alias("pnum"),
            (F.col("ptot") + B).cast("bigint").alias("pden"),
            F.lit(1).cast("bigint").alias("nnum"),
            (F.col("ntot") + B).cast("bigint").alias("nden"),
        )
        .select(
            (surprisal_q16("nnum", "nden") - surprisal_q16("pnum", "pden"))
            .alias("w_unseen_q16"))
    )
    weights = (
        wt.crossJoin(F.broadcast(baseline))
        .select(
            "bucket",
            (F.col("w_q16") - F.col("w_unseen_q16")).cast("bigint")
            .alias("w_adj_q16"))
        .where(F.col("w_adj_q16") != 0)
    )
    return weights, baseline


def quality_classifier_scores(docs: DataFrame, positive: DataFrame,
                              negative: DataFrame, *,
                              threshold_q16: int = 0,
                              bucket_hexlen: int = 3,
                              ) -> DataFrame:
    """Train on the labeled slices and score every document.

    Output: ``(doc_id, n_grams, score_q16, decision)`` — one row per
    input document; ``score_q16`` is the exact BIGINT log-odds total
    in sixteenth-bits (higher = more positive-class-like), ``decision``
    is ``score_q16 >= threshold_q16``. See the module docstring for
    the pinned arithmetic and the 100-TB shape.
    """
    weights, baseline = nb_quality_weights(
        positive, negative, bucket_hexlen=bucket_hexlen)
    per_doc = (
        explode_grams(docs, F.col("text"),
                      lambda ws: hashed_gram_buckets(ws, bucket_hexlen),
                      keep=("doc_id",),
                      lower=True, name="bucket")
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("w_adj_q16"), F.lit(0))).cast("bigint")
            .alias("_adj"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(baseline))
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
            .alias("n_grams"),
            (F.coalesce(F.col("_adj"), F.lit(0))
             + F.coalesce(F.col("n_grams"), F.lit(0))
             * F.col("w_unseen_q16")).cast("bigint").alias("score_q16"),
        )
        .withColumn(
            "decision",
            F.col("score_q16") >= F.lit(int(threshold_q16)).cast("bigint"))
    )
