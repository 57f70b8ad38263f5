"""BPE merge learning — the tokenizer-training stage of a pretraining
pipeline, distributed the way the public recipe factors (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"; kept by GPT-2's byte-level variant): the corpus-scale job is
the WORD-FREQUENCY aggregation (one groupBy over every token in the
corpus — at 100 TB this is the shuffle that matters and it is a plain
map-side-combined count); merge learning then iterates over the
resulting vocabulary table, which is many orders of magnitude smaller
than the corpus but still distributed here (a web-scale vocab has
hundreds of millions of types — too big to collect, cheap to keep as a
DataFrame).

Pinned semantics (replayed exactly by the DuckDB oracle for a fixed
merge count):

* words are whitespace-split non-empty tokens, CASE PRESERVED; words
  containing the US delimiter (``\\x1f``, the symbol separator) are
  excluded from the vocabulary (documented guard — US never occurs in
  natural text);
* a word starts as its character sequence (unicode code points via
  ``substring`` — char semantics on both engines) plus the
  end-of-word marker ``</w>`` (the paper's convention, so merges can
  learn suffixes);
* each round counts ADJACENT SYMBOL PAIRS weighted by word frequency
  (exact BIGINT sums), picks the argmax with a total tie-break
  (count desc, then lexicographic (left, right)), and applies the
  merge to every word as a GREEDY LEFT-TO-RIGHT fold — the reference
  implementation's scan order: in ``aaaaa`` merging ``(a, a)`` yields
  ``aa aa a``. The fold is a string accumulator over the
  US-delimited symbol string (appending ``right`` to a merged
  accumulator IS the merge — no surgery), expressed as
  ``F.aggregate`` in Spark and ``list_reduce`` in DuckDB, verified to
  agree symbol-for-symbol;
* learning stops early when no pair reaches ``MIN_PAIR_COUNT`` = 2
  (merging hapax pairs teaches nothing — the classic cutoff).

Scale shape: the corpus touches exactly one wide stage (the word
count). Every learning round is one map-side-combined pair-count
aggregation over SLIM (sym, freq) rows plus a single-row argmax; the
per-round best pair is collected to the driver (ONE bounded row per
round, the same budget as the components-loop convergence scalar —
operators/dedup.py:638) and folded back in as literals, so no
broadcast join is needed. Rounds are cut via RoundMaterializer
(local or reliable parquet) so round k never replays folds 1..k-1.
No UDFs anywhere — the fold is a codegen'd higher-order function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import explode_grams, words

_US = "\x1f"

# a pair must occur this often (frequency-weighted) to be merged
MIN_PAIR_COUNT = 2


def _encodable(ws: Column) -> Column:
    """The words of ``ws`` that can be encoded: US is the delimiter."""
    return F.filter(ws, lambda w: ~w.contains(_US))


def word_frequencies(docs: DataFrame) -> DataFrame:
    """The corpus-scale stage: (word, freq) over whitespace tokens."""
    return (explode_grams(docs, F.col("text"), _encodable, name="word")
            .groupBy("word").agg(F.count("*").cast("bigint").alias("freq")))


def _initial_symbols(word: Column) -> Column:
    chars = F.transform(F.sequence(F.lit(1), F.length(word)),
                        lambda i: F.substring(word, i, 1))
    return F.concat(F.concat_ws(_US, chars), F.lit(_US + "</w>"))


def _apply_merge(sym_col: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of (left, right) over a US-delimited
    symbol string: when the accumulator's last symbol is ``left`` and
    the next symbol is ``right``, appending ``right`` WITHOUT a
    delimiter fuses them; otherwise append with the delimiter.

    ``sym_col`` is let-bound through a one-element ``transform`` so it
    appears exactly ONCE in the produced expression (the fold's three
    uses reference the lambda variable instead). Without the binding,
    stacking merges — ``bpe_encode`` nests one ``_apply_merge`` per
    learned merge — copies the previous level's subtree ~4× per level:
    exponential expression growth that was MEASURED at a 25 MiB task
    binary by merge 8; let-bound the growth is linear."""
    a, b = F.lit(left), F.lit(right)

    def _fold(sym: Column) -> Column:
        s = F.split(sym, _US)
        return F.aggregate(
            F.slice(s, 2, F.size(s) - 1), F.element_at(s, 1),
            lambda acc, x: F.when(
                (x == b) & ((acc == a)
                            | acc.endswith(F.concat(F.lit(_US), a))),
                F.concat(acc, x),
            ).otherwise(F.concat(acc, F.lit(_US), x)))

    return F.element_at(F.transform(F.array(sym_col), _fold), 1)


def _pair_counts(words: DataFrame) -> DataFrame:
    # the symbol array is bound before the lambda reads it, like a word
    # array (functions/text.py)
    bound = words.select("freq", F.split("sym", _US).alias("_syms"))
    s = F.col("_syms")
    # a fully merged word is ONE symbol; sequence(1, 0) would count
    # DOWN (the repo-documented Spark pitfall), so guard explicitly
    idxs = F.when(F.size(s) >= 2, F.sequence(F.lit(1), F.size(s) - 1)) \
            .otherwise(F.array().cast("array<int>"))
    pairs = bound.select(
        "freq",
        F.explode(F.transform(
            idxs,
            lambda i: F.struct(F.element_at(s, i).alias("left"),
                               F.element_at(s, i + 1).alias("right")),
        )).alias("p"))
    return (pairs.groupBy("p.left", "p.right")
            .agg(F.sum("freq").cast("bigint").alias("pair_count")))


def bpe_learn(docs: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus (module docstring
    pins the semantics). Returns the merge table as a DataFrame:
    (rank, left, right, merged, pair_count), rank 0-based in learning
    order — the artifact a downstream tokenizer consumes."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    spark = docs.sparkSession
    mat = RoundMaterializer()
    words = mat(
        word_frequencies(docs).select(
            "freq", _initial_symbols(F.col("word")).alias("sym")),
        "bpe_round0")
    merges: list[tuple[int, str, str, str, int]] = []
    prev_tag = "bpe_round0"
    for r in range(n_merges):
        best = (_pair_counts(words)
                .where(F.col("pair_count") >= MIN_PAIR_COUNT)
                .orderBy(F.desc("pair_count"), "left", "right")
                .limit(1).collect())  # ONE bounded row per round
        if not best:
            break  # no pair reaches MIN_PAIR_COUNT — classic early stop
        row = best[0]
        merges.append((r, row["left"], row["right"],
                       row["left"] + row["right"], row["pair_count"]))
        if r == n_merges - 1:
            break  # nothing reads the final merge's words: no cut
        tag = f"bpe_round{r + 1}"
        words = mat(
            words.select(
                "freq",
                _apply_merge(F.col("sym"), row["left"], row["right"])
                .alias("sym")),
            tag)
        mat.release(prev_tag)
        prev_tag = tag
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, "
        "pair_count bigint")


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge table to every document — the ENCODE half
    of the tokenizer loop (``bpe_learn`` trains it; a packing stage
    like operators/packing.py consumes the resulting token counts).

    Pinned semantics (replayed exactly by the ``bpe_encoded_tokens``
    oracle in plans/catalog.py):

    * tokenization is identical to learning: whitespace split, case
      preserved, empty tokens and US-containing words dropped (the
      same documented ``\\x1f`` guard — such words are un-encodable
      because US is the symbol delimiter);
    * each word starts as its character sequence plus ``</w>`` and
      every merge is applied IN LEARNED RANK ORDER as the same greedy
      left-to-right fold learning used (``_apply_merge``) — replaying
      training exactly, so a word seen at train time encodes to the
      symbol string the final training vocabulary holds;
    * output per input row: ``n_words`` (encodable words), ``n_tokens``
      (total symbols after merging, the count a packing stage bins
      on), and ``encoded`` — the document's US-delimited symbol
      strings space-joined in word order ('' for an empty document).

    Shape: one narrow per-row projection — the fold runs per word
    OCCURRENCE (``len(merges)`` nested higher-order expressions). Zero
    exchanges; rides the scan at 100 TB.
    """
    def _enc(word: Column) -> Column:
        sym = _initial_symbols(word)
        for left, right in merges:
            sym = _apply_merge(sym, left, right)
        return sym

    ws = F.col("_ws")
    enc = F.transform(ws, _enc)
    return docs.select(
        "doc_id", _encodable(words(F.col("text"))).alias("_ws"),
    ).select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.aggregate(enc, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.size(F.split(x, _US)))
        .alias("n_tokens"),
        F.concat_ws(" ", enc).alias("encoded"),
    )
