"""Benchmark decontamination — flag training documents that overlap an
evaluation set, the contamination-control stage of the public LLM-data
canon (GPT-3, Brown et al. 2020 App. C: 13-gram overlap removal;
Gopher, Rae et al. 2021 §A.3; Llama 2, Touvron et al. 2023 §A.6 all
ship a variant of "drop the training page that shares a long n-gram
with the eval set").

Pinned semantics (replayed exactly by the ``benchmark_decontam``
oracle in plans/catalog.py):

* tokenization is the repo's standard word split — lowercase, trim,
  split on ``\\s+``, empty tokens dropped (NULL text → zero words);
* a document's gram set is its DISTINCT word-level ``n``-grams
  (default n=13, the GPT-3/Gopher constant), joined with single
  spaces; a document with 0 < words < n contributes its whole word
  sequence as one gram (the short-doc convention shared with
  ``ngram_jaccard_pairs``), and a wordless document has no grams and
  can never be contaminated;
* the benchmark's gram set is the distinct union of the same
  construction over every benchmark row, with empty grams dropped so
  blank eval rows cannot contaminate blank pages;
* ``n_hits`` counts the document's distinct grams that appear in the
  benchmark set; ``contaminated`` is ``n_hits > 0`` — the paper rule
  is a hard drop on any overlap.

Scale shape: the benchmark side is an eval suite — thousands to a few
million grams — so it broadcasts; the document side is one narrow
projection (per-row gram fold, ``array_distinct`` per row, NO
(doc, gram) shuffle), then an explode feeding a broadcast hash join in
which only the grams that actually HIT the benchmark survive to the
doc-keyed count (map-side combined, proportional to contamination, not
corpus size). The join-back of per-doc hit counts is itself broadcast
(hits ≤ contaminated docs). At 100 TB nothing wide moves: the only
exchanges carry (doc_id, partial count) for contaminated docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import explode_grams, word_ngrams, words


def _grams_of(ws, n: int):
    """DISTINCT word n-grams of the bound word array ``ws``, with the
    short-doc whole-sequence gram."""
    nw = F.size(ws)
    return F.array_distinct(
        F.when((nw > 0) & (nw < n), F.array(F.array_join(ws, " ")))
        .otherwise(word_ngrams(ws, n)))


def benchmark_grams(bench: DataFrame, n: int = 13,
                    text_col: str = "text") -> DataFrame:
    """Distinct non-empty word ``n``-grams of an eval set: (gram)."""
    return (
        explode_grams(bench, F.col(text_col), lambda ws: _grams_of(ws, n),
                      lower=True)
        .where(F.col("gram") != "")
        .distinct()
    )


def ngram_decontaminate(docs: DataFrame, bench: DataFrame, n: int = 13,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_text_col: str = "text",
                        broadcast_hits: bool = True) -> DataFrame:
    """Per-document benchmark-overlap report.

    Output: (doc_id, n_grams, n_hits, contaminated) — one row per
    input document; ``n_grams`` is the size of the doc's distinct gram
    set, ``n_hits`` how many of those grams appear in the benchmark,
    ``contaminated`` the hard-drop flag. Keep-list = NOT contaminated.

    ``broadcast_hits`` hints the hit-count join-back as broadcast —
    right when contamination is the expected sliver of the corpus.
    When a large benchmark overlaps a large corpus fraction the hit
    frame can outgrow a broadcast: pass ``False`` and the join-back
    becomes a doc-keyed shuffle of two SLIM frames (the fat gram
    arrays are dropped before the join either way).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    bgrams = benchmark_grams(bench, n=n, text_col=bench_text_col)
    doc_id = F.col(id_col).alias("doc_id")
    hits = (
        explode_grams(docs, F.col(text_col), lambda ws: _grams_of(ws, n),
                      keep=(doc_id,), lower=True)
        .join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        docs.select(doc_id, words(F.col(text_col), lower=True).alias("_ws"))
        .select("doc_id",
                F.size(_grams_of(F.col("_ws"), n)).cast("bigint")
                .alias("n_grams"))
        .join(F.broadcast(hits) if broadcast_hits else hits,
              "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
            .alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )
