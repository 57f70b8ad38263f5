"""Text-analysis operators over a documents table (doc_id, text, ...).

Two tiers:

* JVM-side column expressions for everything regex-count-shaped
  (token counts, ratio scoring) — these live in plans/catalog.py with
  DuckDB oracles;
* pandas-UDF stages for the reference-exact Python-regex behaviors
  (language detection A6, confidence mining A7, text cleaning F1) —
  this module, rows-only checked, semantics pinned by refsem tests.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.pyworker import udf_body
from ..functions.text import explode_grams, word_ngrams, words

LANG_SCHEMA = (
    "doc_id bigint, lang string, detected string, confidence double"
)

CLEAN_SCHEMA = "doc_id bigint, clean_text string, clean_chars int"


@udf_body
def _lang_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import math

    from n8n_tools_api_spark.refsem import detect_primary_language

    for pdf in batches:
        det, conf = [], []
        for text in pdf["text"]:
            res = detect_primary_language(text or "")
            det.append(res["detected"])
            # floor-truncate to 6 decimals, NOT Python round: floor is
            # reproducible in DuckDB (the doc_language_scores oracle),
            # banker's rounding is not
            conf.append(math.floor(float(res["confidence"]) * 1e6) / 1e6)
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "lang": pdf["lang"],
            "detected": det, "confidence": conf,
        })


def detect_language(docs: DataFrame) -> DataFrame:
    """Reference language detector (A6) over a documents table.

    Narrow map (no shuffle); Arrow-batched; Python `re` semantics
    exactly match ocr_response_formatter.py:667-713 via refsem.
    """
    return docs.select("doc_id", "lang", "text").mapInPandas(
        _lang_batches, schema=LANG_SCHEMA
    )


@udf_body
def _clean_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from n8n_tools_api_spark.refsem import clean_extracted_text

    for pdf in batches:
        cleaned = [clean_extracted_text(t or "") for t in pdf["text"]]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "clean_text": cleaned,
            "clean_chars": [len(c) for c in cleaned],
        })


def clean_text(docs: DataFrame) -> DataFrame:
    """F1 text cleaning (ocr_response_formatter.py:148-173) as a stage."""
    return docs.select("doc_id", "text").mapInPandas(
        _clean_batches, schema=CLEAN_SCHEMA
    )


def _lines(t: Column) -> Column:
    """The trimmed, non-blank lines of the (non-NULL) text ``t``."""
    return F.filter(F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
                    lambda x: x != "")


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """Repetition metrics + quality gates from the Gopher curation
    rules (Rae et al., "Scaling Language Models: Methods, Analysis &
    Insights from Training Gopher", 2021, Appendix A1.1 — public
    filter heuristics used by most large-scale text pipelines).

    Per document:

    * ``dup_line_frac`` — occurrences of a (non-blank, trimmed) line
      beyond its first / total lines (the NeMo-Curator-style public
      reading of the paper's "fraction of lines duplicated");
    * ``dup_line_char_frac`` — characters in those beyond-first
      occurrences / total line characters (same exclusion rule, so the
      two metrics agree on what counts as "duplicated");
    * ``top2gram_char_frac`` / ``top3gram_char_frac`` — characters
      covered by the single most frequent REPEATED word 2-/3-gram
      (count × gram length / total text chars; grams occurring once
      are not repetition, so docs with no repeated gram score 0 —
      without this floor the gate misfires on short documents), ties
      broken by lexicographic gram so the result is
      partition-independent;
    * the paper's gates: dup_line_frac > 0.30, top-2-gram > 0.20,
      top-3-gram > 0.18 → ``gopher_keep`` false.

    Shape: line and n-gram streams explode and aggregate keyed by
    (doc_id, line|gram) — map-side combined, no global key, so the
    shuffle stays proportional to corpus size and skew-free at 100 TB.
    Exact values are DuckDB-replayed by the ``gopher_repetition``
    oracle (plans/catalog.py).
    """
    from pyspark.sql.window import Window

    text = F.coalesce(F.col("text"), F.lit(""))
    base = docs.select("doc_id",
                       text.alias("_t"),
                       F.length(text).alias("total_chars"))

    lines = base.select("doc_id", F.explode(_lines(F.col("_t"))).alias("line"))
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count("*").alias("cnt"), F.length("line").alias("len"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1).otherwise(0))
            .alias("dup_lines"),
            F.sum(F.col("cnt") * F.col("len")).alias("line_chars"),
            F.sum(F.when(F.col("cnt") > 1,
                         (F.col("cnt") - 1) * F.col("len"))
                  .otherwise(0)).alias("dup_line_chars"),
        )
    )

    def top_gram(n: int, out: str) -> DataFrame:
        exploded = explode_grams(base, F.col("_t"),
                                 lambda ws: word_ngrams(ws, n),
                                 keep=("doc_id", "total_chars"))
        counted = exploded.groupBy("doc_id", "total_chars", "gram") \
            .agg(F.count("*").alias("cnt")) \
            .where(F.col("cnt") >= 2)
        w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
        return (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "doc_id",
                F.round(F.col("cnt") * F.length("gram")
                        / F.col("total_chars"), 6).alias(out),
            )
        )

    out = (
        base.select("doc_id", "total_chars")
        .join(line_stats, "doc_id", "left")
        .join(top_gram(2, "top2gram_char_frac"), "doc_id", "left")
        .join(top_gram(3, "top3gram_char_frac"), "doc_id", "left")
    )
    dup_line_frac = F.round(
        F.coalesce(F.col("dup_lines") / F.col("n_lines"), F.lit(0.0)), 6)
    dup_char_frac = F.round(
        F.coalesce(F.col("dup_line_chars") / F.col("line_chars"),
                   F.lit(0.0)), 6)
    t2 = F.coalesce("top2gram_char_frac", F.lit(0.0))
    t3 = F.coalesce("top3gram_char_frac", F.lit(0.0))
    return out.select(
        "doc_id",
        F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        t2.alias("top2gram_char_frac"),
        t3.alias("top3gram_char_frac"),
        (
            (dup_line_frac <= 0.30) & (t2 <= 0.20) & (t3 <= 0.18)
        ).alias("gopher_keep"),
    )


# Gopher A1.1 stop-word list (Rae et al. 2021): a doc must contain at
# least two of these to pass the "stop word" filter.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_word_stats(docs: DataFrame) -> DataFrame:
    """The word/line-level Gopher quality rules (Rae et al. 2021,
    Appendix A1.1) — the companion to :func:`gopher_repetition`, so the
    engine carries the COMPLETE published filter set:

    * 50 ≤ word count ≤ 100,000;
    * 3 ≤ mean word length ≤ 10;
    * symbol-to-word ratio ≤ 0.1 (symbols = '#' occurrences plus '...'
      occurrences);
    * ≤ 90% of lines starting with a bullet ('•', '- ', '* ');
    * ≤ 30% of lines ending with an ellipsis ('...' or '…');
    * ≥ 80% of words containing at least one alphabetic character;
    * ≥ 2 distinct stop words from the paper's list present.

    Unlike gopher_repetition this is a PURE per-row projection —
    higher-order functions over the word/line arrays, zero shuffle,
    whole-stage codegen — so at 100 TB it rides the scan. Lines follow
    the repetition operator's rule (trimmed, non-blank); words are the
    \\s+ split. All fractions round to 6dp before gating; DuckDB
    replays everything (oracle ``gopher_word_stats``).
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    bound = docs.select("doc_id", text.alias("_t"),
                        words(text).alias("_ws"), _lines(text).alias("_lines"))
    t, ws, lines = F.col("_t"), F.col("_ws"), F.col("_lines")
    n_words = F.size(ws)
    n_lines = F.size(lines)
    sum_len = F.aggregate(F.transform(ws, lambda w: F.length(w)),
                          F.lit(0), lambda a, b: a + b)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t)
             - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    n_bullet = F.size(F.filter(
        lines, lambda x: x.startswith("•") | x.startswith("- ")
        | x.startswith("* ")))
    n_ell_lines = F.size(F.filter(
        lines, lambda x: x.endswith("...") | x.endswith("…")))
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(F.array_intersect(
        F.transform(ws, lambda w: F.lower(w)),
        F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS])))

    zero_guard = F.when(n_words > 0, n_words)
    line_guard = F.when(n_lines > 0, n_lines)
    mean_len = F.round(F.coalesce(sum_len / zero_guard, F.lit(0.0)), 6)
    sym_ratio = F.round(
        F.coalesce((n_hash + n_ell) / zero_guard, F.lit(0.0)), 6)
    bullet_frac = F.round(
        F.coalesce(n_bullet / line_guard, F.lit(0.0)), 6)
    ell_frac = F.round(
        F.coalesce(n_ell_lines / line_guard, F.lit(0.0)), 6)
    alpha_frac = F.round(
        F.coalesce(n_alpha / zero_guard, F.lit(0.0)), 6)
    keep = (
        n_words.between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (sym_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ell_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (n_stop >= 2)
    )
    return bound.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.cast("int").alias("n_stopwords"),
        keep.alias("gopher_word_keep"),
    )


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """The C4 cleaning rules (Raffel et al., "Exploring the Limits of
    Transfer Learning with a Unified Text-to-Text Transformer", 2020,
    §2.2 — the other canonical public filter set beside Gopher):

    * keep only lines ending in terminal punctuation ('.', '!', '?',
      '"');
    * keep only lines with ≥5 words;
    * drop lines containing the word "javascript" (case-insensitive);
    * drop the whole page if it contains "lorem ipsum"
      (case-insensitive) or a curly brace '{';
    * drop the page if the retained text has <3 sentences (sentence ≈
      terminal-punctuation run in the retained lines — the paper
      filters on sentence count; the punctuation-count approximation
      is documented and replayed exactly by the oracle).

    Output: (doc_id, clean_text — the retained lines joined by '\\n',
    n_lines_kept, n_sentences, has_lorem_ipsum, has_brace, c4_keep).
    Pure per-row higher-order projection — zero shuffle, rides the
    scan at 100 TB; pairs with gopher_repetition/gopher_word_stats for
    a complete public-rules quality stage.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    terminal = lambda x: (x.endswith(".") | x.endswith("!")
                          | x.endswith("?") | x.endswith('"'))
    five_words = lambda x: F.size(words(x)) >= 5
    no_js = lambda x: ~F.lower(x).rlike(r"\bjavascript\b")
    bound = docs.select(
        "doc_id", text.alias("_t"),
        F.filter(_lines(text),
                 lambda x: terminal(x) & five_words(x) & no_js(x))
        .alias("_kept"))
    t, kept = F.col("_t"), F.col("_kept")
    clean_text = F.concat_ws("\n", kept)
    n_sentences = F.size(
        F.filter(F.split(clean_text, r"[.!?]+"),
                 lambda s: F.trim(s) != ""))
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    return bound.select(
        "doc_id",
        clean_text.alias("clean_text"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        n_sentences.cast("int").alias("n_sentences"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        (~has_lorem & ~has_brace & (n_sentences >= 3)).alias("c4_keep"),
    )


# per-token edge strip of the bad-words match surface
_EDGE_PUNCT = r"^[^a-z0-9]+|[^a-z0-9]+$"


def c4_badwords_filter(docs: DataFrame, badwords: list[str]) -> DataFrame:
    """C4's bad-words page filter (Raffel et al. 2020 §2.2: "removed
    any page that contained any word on the 'List of Dirty, Naughty,
    Obscene or Otherwise Bad Words'") — the one §2.2 rule
    :func:`c4_line_filter` doesn't carry, completing the C4 page-gate
    set. The list itself is a caller-supplied parameter (production
    passes the published LDNOOBW list for the corpus languages; the
    oracle fixture uses a neutral demo list).

    Pinned semantics (replayed by the ``c4_badwords`` oracle):

    * page tokens are the repo-standard lowercase ``\\s+`` split with
      leading/trailing non-alphanumerics stripped per token (so
      ``Badterm!`` matches ``badterm`` — C4 matches on word
      boundaries, not whitespace islands) and empty strips dropped;
    * a SINGLE-WORD entry hits when it equals any stripped token
      (token equality — a list word never fires inside a longer word,
      the boundary rule);
    * a MULTI-WORD entry (contains a space) hits when it appears as a
      consecutive token run — matched against the space-joined
      stripped-token stream with sentinel spaces;
    * an entry that is not its own tokenization (lowercased, split,
      stripped, joined by one space — e.g. ``badterm!``, ``zoo  zebra``
      or an empty entry) could never hit, so it raises ``ValueError``;
    * the page is rejected on ANY hit; ``matched`` reports the
      lexicographically smallest matching entry so ties are
      deterministic; NULL/empty text keeps trivially.

    Output: (doc_id, matched, c4_badwords_keep) — one row per input
    document.

    Scale shape: the list is small and curated (the published list is
    a few hundred entries/language), so both match forms are per-row
    literal-array expressions — ``array_intersect`` against the token
    array for words, ``contains`` on the joined stream for phrases.
    Zero shuffle; the whole gate rides the scan at 100 TB, exactly
    like the other C4/Gopher page rules.
    """
    # the match surface is lowercase (tokens are folded), so fold the
    # list too — an upper-case entry would otherwise silently never
    # match; ``matched`` therefore always reports the lowercase form
    entries = sorted({e.lower() for e in badwords})
    if not entries:
        raise ValueError("badwords must be a non-empty list")
    for e in entries:
        tokenized = " ".join(
            tok for tok in (re.sub(_EDGE_PUNCT, "", w)
                            for w in re.split(r"\s+", e, flags=re.ASCII))
            if tok)
        if not e or tokenized != e:
            raise ValueError(
                f"badwords entry {e!r} can never match: page tokens "
                f"normalize it to {tokenized!r}")
    single = [e for e in entries if " " not in e]
    phrases = [e for e in entries if " " in e]
    bound = docs.select(
        "doc_id",
        F.filter(F.transform(words(F.col("text"), lower=True),
                             lambda w: F.regexp_replace(w, _EDGE_PUNCT, "")),
                 lambda w: w != "").alias("_toks"))
    toks = F.col("_toks")
    stream = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    hit_arrays = []
    if single:
        hit_arrays.append(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in single])))
    if phrases:
        hit_arrays.append(F.filter(
            F.array(*[F.lit(p) for p in phrases]),
            lambda p: F.contains(
                stream, F.concat(F.lit(" "), p, F.lit(" "))),
        ))
    hits = F.sort_array(F.concat(*hit_arrays) if len(hit_arrays) > 1
                        else hit_arrays[0])
    return bound.select(
        "doc_id",
        F.when(F.size(hits) > 0, hits[0]).alias("matched"),
        (F.size(hits) == 0).alias("c4_badwords_keep"),
    )


def dataset_card(docs: DataFrame, short_doc_tokens: int = 32) -> DataFrame:
    """Dataset-card rollup — the PUBLISHING stage of a training-data
    pipeline (the statistics table a released corpus ships with, the
    Dolma / FineWeb dataset-card convention): per (lang, source)
    combination plus rollup subtotals and a grand total, exact integer corpus
    statistics.

    Pinned semantics (replayed exactly by the ``dataset_card`` oracle
    in plans/catalog.py):

    * token counts are the repo-standard whitespace split (NULL text →
      zero tokens); char counts are ``length(coalesce(text, ''))``;
    * ``n_empty`` counts zero-token documents; ``short_docs`` counts
      documents under ``short_doc_tokens`` tokens (empty included);
    * rollup levels are labelled with the literal ``'ALL'`` via
      ``grouping()`` — NOT by coalescing nulls, so a genuine NULL
      dimension value can never masquerade as a subtotal;
    * every sum/count is BIGINT (exact at any corpus size; ANSI mode
      raises on overflow rather than wrapping).

    Scale shape: one per-row projection (rides the scan) into one
    map-side-combined rollup on a bounded key space (|langs| ×
    |sources| plus subtotal rows) — the reduce side is tiny regardless
    of corpus size; nothing wide carries text.
    """
    from n8n_tools_api_spark.operators.packing import whitespace_token_count

    dims = ("lang", "source")
    base = docs.select(
        *dims,
        whitespace_token_count(F.col("text")).alias("n_tok"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("bigint")
        .alias("n_ch"))
    agged = base.rollup(*dims).agg(
        *[F.grouping(d).alias(f"_g_{d}") for d in dims],
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("n_tok") == 0).cast("int")).cast("bigint")
        .alias("n_empty"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_ch").cast("bigint").alias("total_chars"),
        F.sum((F.col("n_tok") < short_doc_tokens).cast("int"))
        .cast("bigint").alias("short_docs"),
        F.max("n_tok").cast("bigint").alias("max_tokens"))
    labels = [F.when(F.col(f"_g_{d}") == 1, F.lit("ALL"))
              .otherwise(F.col(d)).alias(d) for d in dims]
    return agged.select(*labels, "n_docs", "n_empty", "total_tokens",
                        "total_chars", "short_docs", "max_tokens")
