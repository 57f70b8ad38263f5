"""DSIR-style hashed n-gram importance scoring — rank a raw corpus by
how target-domain-like each document is, the data-selection stage of
the public LLM-data canon (Data Selection via Importance Resampling,
Xie et al. 2023: hashed unigram+bigram counts in a fixed bucket space,
per-document importance weight from the target/raw distribution
ratio; the same hashed-feature shape as fastText-style quality
classifiers used by CCNet and Llama).

Pinned semantics (replayed exactly by the ``dsir_selection`` oracle in
plans/catalog.py):

* tokenization is the repo's standard word split — lowercase, trim,
  split on ``\\s+``, empty tokens dropped (NULL text → zero words);
* a document's feature sequence is its unigrams followed by its
  space-joined bigrams, with occurrence MULTIPLICITY kept (DSIR counts
  occurrences; this is not the distinct-gram set decontamination
  uses);
* each gram hashes to a bucket: the first ``bucket_hexlen`` hex chars
  of ``md5('dsir:' || gram)`` — a STRING key, because lowercase-hex
  prefixes are engine-portable where xxhash64/conv() are not (see
  operators/sampling.py for the same trick); ``hexlen=3`` → 4096
  buckets, the same order as the paper's 10k;
* the bucket weight is an integer-quantized CENTERED ratio estimate,

      w[b] = floor( ((ct[b] * rtot) / ((cr[b] + 1) * max(ttot,1))
                     - 1) * 1e6 )   as BIGINT

  with ct/cr the target/raw bucket occurrence counts and ttot/rtot
  their totals — i.e. p_target[b] / p_raw[b] − 1 with add-one
  smoothing on the raw side, scaled to parts-per-million and floored.
  The published method sums LOG ratios; natural log is a
  transcendental whose last bit differs across libm builds, so a
  hash-exact cross-engine replay pins ratio − 1 — the first-order
  Taylor expansion of ln(ratio) around 1 — instead (a documented
  semantic choice, like the c4_line_filter sentence splitter).
  Centering matters: a domain-neutral bucket (ratio ≈ 1) contributes
  ≈ 0 exactly as ln would, so document LENGTH does not dominate the
  ranking, and raw-overrepresented buckets contribute negative weight
  exactly as ln < 0 would. Multiplication, division, and subtraction
  are IEEE-754 correctly-rounded on both engines, so every w[b] is
  bit-identical, and the per-document score — the SUM of BIGINT
  weights over the document's gram occurrences — is exact integer
  arithmetic, immune to aggregation order. (Measured on the sf0.001
  corpus with the de slice as target: 63 of the 71 German documents
  land in the top-100, vs a 14% base rate.)
* score headroom: w[b] tops out near ``1e6 * rtot`` for a
  target-exclusive bucket; at the ppm scale a corpus needs
  ~2^63 / (1e6 · grams_per_doc) raw grams before a per-doc BIGINT sum
  could overflow (ANSI mode raises rather than wraps) — raise
  ``bucket_hexlen`` long before that regime.

Scale shape: both count aggregations land on a BOUNDED key space
(≤ 16^hexlen buckets — map-side combined, the reduce side is at most
4096 rows regardless of corpus size), so the weight table is always
broadcastable by construction. Scoring explodes gram buckets into a
broadcast hash join that keeps only nonzero-weight buckets, then one
slim doc-keyed shuffle of (doc_id, partial BIGINT sum). Nothing wide
carries text at 100 TB. Top-k selection downstream should use
orderBy().limit() (TakeOrdered, no global sort) or a score cutoff —
the rank window in the oracle query is report-scale only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import explode_grams, word_ngrams


def hashed_gram_buckets(words, bucket_hexlen: int = 3):
    """Unigram+bigram md5-prefix bucket keys of the bound word array
    ``words``, with occurrence multiplicity, as an ``array<string>``."""
    return F.transform(
        F.concat(words, word_ngrams(words, 2)),
        lambda g: F.substring(
            F.md5(F.concat(F.lit("dsir:"), g)), 1, bucket_hexlen),
    )


def dsir_importance(docs: DataFrame, target: DataFrame | None = None, *,
                    target_filter=None,
                    bucket_hexlen: int = 3) -> DataFrame:
    """Per-document target-domain importance score.

    Output: (doc_id, n_grams, score) — one row per input document;
    ``n_grams`` is the document's gram-occurrence count (unigrams +
    bigrams), ``score`` the BIGINT sum of quantized bucket weights.
    Higher = more target-like. Wordless documents score 0.

    The gram-hash pass (one md5 per gram occurrence) is the expensive
    stage and three consumers need its output (raw counts, scoring,
    per-doc gram counts), so the exploded slim (doc_id, bucket) frame
    is materialized ONCE via RoundMaterializer, measured 5x on the
    sf0.1 bench: 30.5 s of repeated lineage replay -> 6 s. Everything
    downstream reads slim rows: two bounded-key count aggregations, a
    broadcast weight join folded into ONE doc-keyed aggregation
    producing n_grams and score together.

    ``target`` is any frame with a ``text`` column; when the target
    is a SLICE of ``docs`` itself (the common in-domain-sample setup),
    pass ``target_filter`` — a boolean Column over ``docs`` — instead:
    the target grams then ride the SAME materialized gram pass as a
    filter over the cached slim rows rather than paying a second
    tokenize+md5 pass over the slice (guide §1.2 — don't compute
    things twice; measured ~2.5 s of the sf1.0-scale query). Exactly
    one of ``target`` / ``target_filter`` must be given.
    """
    if bucket_hexlen < 1 or bucket_hexlen > 8:
        raise ValueError(
            f"bucket_hexlen must be in 1..8, got {bucket_hexlen}")
    if (target is None) == (target_filter is None):
        raise ValueError("pass exactly one of target / target_filter")
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    mat = RoundMaterializer()
    tgt_cols = [target_filter.alias("_tgt")] if target_filter is not None \
        else []

    def buckets(ws):
        return hashed_gram_buckets(ws, bucket_hexlen)

    exploded = mat(
        explode_grams(docs, F.col("text"), buckets,
                      keep=("doc_id", *tgt_cols),
                      lower=True, name="bucket"),
        "dsir_grams",
    )
    tgrams = (exploded.where(F.col("_tgt")) if target_filter is not None
              else explode_grams(target, F.col("text"), buckets,
                                 lower=True, name="bucket"))
    tcounts = mat(
        tgrams.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("cnt")),
        "dsir_tcounts",
    )
    rcounts = mat(
        exploded.groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("cnt")),
        "dsir_rcounts",
    )
    ttot = tcounts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("ttot"))
    rtot = rcounts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("rtot"))

    # Weight table: raw-side buckets, target counts joined on; both
    # total frames are single rows (broadcast). Buckets only in the
    # target are never looked up by a raw gram, so the left join is
    # complete. The whole frame is <= 16^hexlen rows by construction.
    weights = (
        rcounts.withColumnRenamed("cnt", "cr")
        .join(tcounts.withColumnRenamed("cnt", "ct"), "bucket", "left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .select(
            "bucket",
            F.floor(
                ((F.coalesce(F.col("ct"), F.lit(0)).cast("double")
                  * F.col("rtot").cast("double"))
                 / ((F.col("cr").cast("double") + F.lit(1.0))
                    * F.greatest(F.col("ttot"), F.lit(1)).cast("double"))
                 - F.lit(1.0))
                * F.lit(1e6)
            ).cast("bigint").alias("w_q"),
        )
        .where(F.col("w_q") != 0)
    )
    # LEFT broadcast join keeps every gram row (zero-weight buckets
    # contribute 0), so ONE aggregation yields both outputs.
    per_doc = (
        exploded.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("w_q"), F.lit(0))).cast("bigint")
            .alias("score"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
            .alias("n_grams"),
            F.coalesce(F.col("score"), F.lit(0)).cast("bigint")
            .alias("score"),
        )
    )
