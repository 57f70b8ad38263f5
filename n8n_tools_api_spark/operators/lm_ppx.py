"""CCNet-style LM-perplexity quality bucketing — score every document
by how surprising its text is under a language model trained on a
clean reference slice, then split each language into head / middle /
tail quality buckets (CCNet, Wenzek et al. 2020: a 5-gram KenLM per
language trained on Wikipedia, documents sorted by perplexity and cut
into three parts; the same head/middle/tail labels flow through
RedPajama and the Llama data recipes).  This is the last piece of the
public quality-filter canon next to the repo's Gopher, C4, DSIR,
decontamination, PII, and host-cap operators.

Pinned semantics (replayed exactly by the ``lm_perplexity_buckets``
oracle in plans/catalog.py):

* tokenization is the repo's standard word split — lowercase, trim,
  split on ``\\s+``, empty tokens dropped (NULL text → zero words);
* each token hashes to one of ``16^bucket_hexlen`` vocabulary buckets:
  the first ``bucket_hexlen`` hex chars of ``md5('ppx:' || token)`` —
  a STRING key, engine-portable where xxhash64/conv() are not (same
  trick as operators/dsir.py and operators/sampling.py);
* the LM is a hashed-BIGRAM model with add-one smoothing, trained per
  GROUP (per language, like CCNet's per-language KenLMs) on the rows
  the caller marks as the reference slice:

      P(b2 | b1) = (c_train(b1,b2) + 1) / (c_train(b1,·) + V)

  with V = 16^bucket_hexlen.  num ≤ den always (c(b1,b2) ≤ c(b1,·),
  1 ≤ V), so per-token surprisal is never negative;
* per-token surprisal is −log2 P quantized to integer SIXTEENTH-BITS
  with a linear-interpolated mantissa — no transcendental anywhere,
  so every engine computes the identical integer:

      q   = den DIV num                  # floor(den/num), BIGINT
      e   = length(bin(q)) − 1           # = floor(log2(den/num)):
                                         #   q ≤ den/num < q+1 ≤ 2^bits(q)
      s16 = 16·e + (den·16) DIV (num·2^e) − 16

  the last term linearly interpolates the mantissa m = den/(num·2^e)
  ∈ [1,2) as 16·(m−1) — monotone within an octave and continuous at
  octave boundaries (frac hits 16 exactly when e rolls over), the
  first-order expansion of log2 like operators/dsir.py pins ratio−1
  for ln.  Verified bit-identical Spark vs DuckDB over the full
  (num ≤ 12, den ≤ 4100) grid — 49,134 pairs;
* a document's total surprisal is the exact BIGINT sum of s16 over
  its bigram occurrences; its perplexity proxy ``ppx_q16`` is the
  integer mean ``total DIV n_bigrams`` (integer div, not double — the
  fraction stays exact and aggregation-order-free).  Documents with
  fewer than two words have no bigrams: total 0, ``ppx_q16`` NULL;
* bucketing is CCNet's equal-thirds split PER GROUP: ``ntile(3)``
  over (ppx_q16 ASC, doc_id ASC) within each language — tile 1 =
  ``head`` (least surprising, most reference-like), 2 = ``middle``,
  3 = ``tail``; bigram-less documents get tile NULL and bucket
  ``none``.  Spark and DuckDB place ntile remainders identically
  (first tiles get the extra row — verified);
* NULL group values key on the empty string (documented, like
  operators/sampling.py), so reruns stay deterministic;
* headroom: the widest intermediate is ``den·16`` with
  den ≤ c_train(b1,·) + V — a training slice would need ~2^59 bigram
  occurrences in ONE language before ANSI mode could raise; the
  reference slice is a fixed curated corpus, so this never binds.

Scale shape: the bigram-bucket explode (two md5 per token occurrence)
is the expensive stage and two consumers need it (training counts,
scoring), so the exploded slim (doc_id, grp, b1, b2, is_train) frame
is materialized ONCE via RoundMaterializer (the operators/dsir.py
pattern, measured 5× there).  Training counts
aggregate onto a BOUNDED key space (≤ groups · 16^2h pairs, and in
practice ≤ the reference slice's bigram occurrences — CCNet's
reference corpus is fixed-size Wikipedia, small by construction), so
both count tables broadcast; scoring is two broadcast hash joins plus
ONE slim doc-keyed aggregation.  Nothing wide ever carries text, and
the corpus-side cost rides the scan at 100 TB.  The ntile window in
``ccnet_buckets`` sorts only (group, ppx, id) triples — report-scale
here; at 10^12 documents the same split is a per-group quantile cut
(approxQuantile / fixed ppx thresholds), which CCNet itself ships as
precomputed per-language cutoffs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.pyworker import udf_body
from ..functions.text import words


def token_buckets(text_col, bucket_hexlen: int = 3):
    """Hashed vocabulary-bucket keys of a text column, one per token
    occurrence in order, as an ``array<string>``."""
    return F.transform(
        words(text_col, lower=True),
        lambda w: F.substring(
            F.md5(F.concat(F.lit("ppx:"), w)), 1, bucket_hexlen),
    )


def surprisal_q16(num: str, den: str) -> Column:
    """−log2(num/den) in exact integer sixteenth-bits — ``num`` and
    ``den`` name positive BIGINT columns with num ≤ den (integer DIV
    and a column-valued shift need the SQL expression form; the
    DataFrame ``shiftleft`` wrapper only takes literal shifts).  See
    the module docstring's derivation."""
    return F.expr(
        f"CAST(16 * (length(bin({den} DIV {num})) - 1)"
        f" + ({den} * CAST(16 AS BIGINT)) DIV"
        f" ({num} * shiftleft(CAST(1 AS BIGINT),"
        f" CAST(length(bin({den} DIV {num})) - 1 AS INT)))"
        f" - 16 AS BIGINT)")


def lm_perplexity(docs: DataFrame, train_filter: Column, *,
                  bucket_hexlen: int = 3, group_col: str = "lang",
                  checkpoint_dir: str | None = None) -> DataFrame:
    """Per-document mean bigram surprisal against a per-group hashed
    LM trained on the rows where ``train_filter`` holds.

    Output: (doc_id, grp, n_bigrams, surprisal_q16, ppx_q16) — one row
    per input document.  ``surprisal_q16`` is the exact BIGINT total
    in sixteenth-bits, ``ppx_q16`` its integer mean per bigram (NULL
    when the document has no bigram).  Lower = more reference-like.
    """
    if bucket_hexlen < 1 or bucket_hexlen > 4:
        raise ValueError(
            f"bucket_hexlen must be in 1..4, got {bucket_hexlen}")
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    v = 16 ** bucket_hexlen
    mat = RoundMaterializer(checkpoint_dir)
    # the bucket array is bound in its own projection before the bigram
    # lambdas read it, like a word array (functions/text.py)
    with_bks = docs.select(
        "doc_id",
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        .alias("grp"),
        train_filter.alias("is_train"),
        token_buckets(F.col("text"), bucket_hexlen).alias("bks"),
    )
    bks = F.col("bks")
    # explode_OUTER keeps bigram-less documents as one (NULL, NULL)
    # row, so the final per-doc aggregation already covers every input
    # document — no join back to ``docs`` (a wide sort-merge join on a
    # 100-TB corpus) is ever needed
    exploded = mat(
        with_bks.select(
            "doc_id", "grp", "is_train",
            F.explode_outer(
                F.when(
                    F.size(bks) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(bks) - 1),
                        lambda i: F.struct(
                            F.element_at(bks, i).alias("b1"),
                            F.element_at(bks, i + 1).alias("b2")),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<b1:string,b2:string>>"))
            ).alias("bg"),
        ).select("doc_id", "grp", "is_train",
                 F.col("bg.b1").alias("b1"), F.col("bg.b2").alias("b2")),
        "ppx_bigrams",
    )
    trainbig = mat(
        exploded.where(F.col("is_train") & F.col("b1").isNotNull())
        .groupBy("grp", "b1", "b2")
        .agg(F.count("*").cast("bigint").alias("cb")),
        "ppx_trainbig",
    )
    trainctx = trainbig.groupBy("grp", "b1").agg(
        F.sum("cb").cast("bigint").alias("cc"))

    # The (NULL, NULL) placeholder rows of bigram-less docs fall
    # through both left joins unmatched; the conditional aggregates
    # keep them out of the counts while still emitting the doc's row.
    return (
        exploded
        .join(F.broadcast(trainbig), ["grp", "b1", "b2"], "left")
        .join(F.broadcast(trainctx), ["grp", "b1"], "left")
        .select(
            "doc_id", "grp", "b1",
            (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1))
            .cast("bigint").alias("_ppx_num"),
            (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(v))
            .cast("bigint").alias("_ppx_den"),
        )
        .select("doc_id", "grp",
                F.when(F.col("b1").isNotNull(),
                       surprisal_q16("_ppx_num", "_ppx_den"))
                .alias("s16"))
        .groupBy("doc_id", "grp")
        .agg(
            F.count("s16").cast("bigint").alias("n_bigrams"),
            F.coalesce(F.sum("s16"), F.lit(0)).cast("bigint")
            .alias("surprisal_q16"),
        )
        .select(
            "doc_id", "grp", "n_bigrams", "surprisal_q16",
            F.when(F.col("n_bigrams") > 0,
                   F.expr("surprisal_q16 DIV n_bigrams"))
            .cast("bigint").alias("ppx_q16"),
        )
    )


def ccnet_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's equal-thirds head/middle/tail split per group over a
    ``lm_perplexity`` result — adds (tile, bucket).  Deterministic:
    ordered by (ppx_q16 ASC, doc_id ASC) within each ``grp``; bigram-
    less documents (ppx NULL) get tile NULL / bucket ``none``.

    ONE window pass: the NULL-ppx rows form their own window partition
    (second partitioning key) instead of a filter-and-union split —
    splitting would execute the full upstream lineage once per branch
    (the round-4-advice duplicate-execution trap)."""
    w = Window.partitionBy("grp", F.col("ppx_q16").isNull()).orderBy(
        F.asc("ppx_q16"), F.asc("doc_id"))
    return (
        scored.withColumn(
            "tile",
            F.when(F.col("ppx_q16").isNotNull(),
                   F.ntile(3).over(w)).cast("bigint"))
        .withColumn(
            "bucket",
            F.when(F.col("tile") == 1, F.lit("head"))
            .when(F.col("tile") == 2, F.lit("middle"))
            .when(F.col("tile") == 3, F.lit("tail"))
            .otherwise(F.lit("none")),
        )
    )


_DETECT_SCHEMA = "doc_id string, detected string, text string"


@udf_body
def _detect_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from n8n_tools_api_spark.refsem import detect_primary_language

    for pdf in batches:
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "detected": [detect_primary_language(t or "")["detected"]
                         for t in pdf["text"]],
            "text": pdf["text"],
        })


def ccnet_keep_list(docs: DataFrame, *,
                    train_seed: int = 271828, train_rate: float = 0.3,
                    tail_seed: int = 314159, tail_rate: float = 0.1,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """The composed CCNet pipeline in the paper's stage order (Wenzek
    et al. 2020 §3): language ID → per-detected-language LM perplexity
    → head/middle/tail split → disposition.  The reference's A6
    char-coverage detector (the engine's language-ID stage, refsem —
    the same function `operators/textstats.py:detect_language` runs)
    stands in for fastText, grouping the LM by DETECTED language, not
    any metadata column; pages the detector can't identify
    (``unknown``: blank or best coverage ≤ 0.5) are gated out BEFORE
    the LM, exactly like CCNet's lang-ID threshold.

    Disposition ladder (one status per input document):

    * ``rejected_lang`` — detected ``unknown``; never reaches the LM,
      so its n_bigrams/ppx/tile/bucket are NULL;
    * ``rejected_empty`` — identified language but no bigram (< 2
      words): bucket ``none``;
    * ``kept_head`` / ``kept_middle`` — CCNet keeps these outright;
    * ``kept_tail_sampled`` / ``rejected_tail`` — the tail third is
      downsampled at ``tail_rate`` with the engine-portable md5-prefix
      key (operators/sampling.py), CCNet's "discard or subsample the
      tail" convention made deterministic.

    Output: (doc_id, detected, n_bigrams, ppx_q16, tile, bucket,
    status).  Scale shape: the detector is one narrow Arrow stage
    materialized ONCE (both the known and unknown branches read it —
    the filter-and-union would otherwise run the UDF twice); the LM
    inherits lm_perplexity's broadcast shape; the only wide work
    beyond it is the report-scale ntile.
    """
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer
    from n8n_tools_api_spark.operators.sampling import (
        sample_key, sample_threshold_hex)

    mat = RoundMaterializer(checkpoint_dir)
    detected = mat(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .mapInPandas(_detect_batches, schema=_DETECT_SCHEMA),
        "ccnet_detected",
    )
    known = detected.where(F.col("detected") != "unknown")
    train = sample_key(F.col("doc_id"), train_seed) \
        < F.lit(sample_threshold_hex(train_rate))
    scored = ccnet_buckets(lm_perplexity(
        known, train, group_col="detected",
        checkpoint_dir=checkpoint_dir))
    kept = scored.select(
        "doc_id",
        F.col("grp").alias("detected"),
        "n_bigrams", "ppx_q16", "tile", "bucket",
        F.when(F.col("bucket") == "none", F.lit("rejected_empty"))
        .when(F.col("bucket") == "head", F.lit("kept_head"))
        .when(F.col("bucket") == "middle", F.lit("kept_middle"))
        .when(sample_key(F.col("doc_id"), tail_seed)
              < F.lit(sample_threshold_hex(tail_rate)),
              F.lit("kept_tail_sampled"))
        .otherwise(F.lit("rejected_tail")).alias("status"),
    )
    rejected = detected.where(F.col("detected") == "unknown").select(
        "doc_id", "detected",
        F.lit(None).cast("bigint").alias("n_bigrams"),
        F.lit(None).cast("bigint").alias("ppx_q16"),
        F.lit(None).cast("bigint").alias("tile"),
        F.lit(None).cast("string").alias("bucket"),
        F.lit("rejected_lang").alias("status"),
    )
    return kept.unionByName(rejected)
