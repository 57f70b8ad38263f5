"""The shared tokenizer (functions/text.py): its helpers against Python
twins, and the plan shape every tokenizing consumer must keep — the
word split bound once, never re-inlined per gram."""

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from n8n_tools_api_spark.functions.text import word_ngrams, words
from n8n_tools_api_spark.operators import (
    bpe, decontaminate, dedup, dsir, lm_ppx, qualityclf, textstats)
from n8n_tools_api_spark.operators.materialize import RoundMaterializer

_WORD_SPLIT = "\\s+"


def _py_words(t, lower=False):
    ws = [w for w in re.split(r"\s+", t or "", flags=re.ASCII) if w]
    return [w.lower() for w in ws] if lower else ws


def _py_ngrams(ws, n):
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


_texts = st.lists(
    st.one_of(
        st.none(),
        st.just(""),
        st.text(alphabet="aB z.\t\n\r\x0b\x0c\x1f", max_size=24),
        st.text(alphabet="ab ", max_size=12).map(lambda s: "\n" + s),
        st.text(alphabet="ab ", max_size=12).map(lambda s: "\t  " + s),
    ),
    min_size=1, max_size=12)


class TestHelpersMatchPythonTwins:
    @settings(max_examples=25, deadline=None)
    @given(texts=_texts)
    def test_words(self, spark, texts):
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "i int, text string")
        got = {r["i"]: (r["plain"], r["low"]) for r in df.select(
            "i", words(F.col("text")).alias("plain"),
            words(F.col("text"), lower=True).alias("low")).collect()}
        for i, t in enumerate(texts):
            assert got[i] == (_py_words(t), _py_words(t, lower=True)), t

    @settings(max_examples=25, deadline=None)
    @given(texts=_texts, n=st.integers(min_value=1, max_value=4))
    def test_word_ngrams(self, spark, texts, n):
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "i int, text string")
        got = {r["i"]: r["g"] for r in df.select(
            "i", words(F.col("text")).alias("_ws"))
            .select("i", word_ngrams(F.col("_ws"), n).alias("g"))
            .collect()}
        for i, t in enumerate(texts):
            assert got[i] == _py_ngrams(_py_words(t), n), (t, n)


def _max_splits_per_node(df):
    """Largest number of ``\\s+`` word splits in any single node of the
    optimized logical plan, walked through py4j so long Project lists
    are printed whole."""
    worst, stack = 0, [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        worst = max(worst, node.simpleString(100_000).count(_WORD_SPLIT))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return worst


_CONSUMERS = {
    "dsir_importance": lambda d, o: dsir.dsir_importance(d, o),
    "quality_classifier_scores":
        lambda d, o: qualityclf.quality_classifier_scores(d, o, d),
    "ngram_decontaminate":
        lambda d, o: decontaminate.ngram_decontaminate(d, o, n=3),
    "benchmark_grams": lambda d, o: decontaminate.benchmark_grams(d, n=3),
    "lm_perplexity":
        lambda d, o: lm_ppx.lm_perplexity(d, F.col("lang") == "en"),
    "gopher_repetition": lambda d, o: textstats.gopher_repetition(d),
    "gopher_word_stats": lambda d, o: textstats.gopher_word_stats(d),
    "c4_line_filter": lambda d, o: textstats.c4_line_filter(d),
    "c4_badwords_filter":
        lambda d, o: textstats.c4_badwords_filter(d, ["badterm", "zoo zebra"]),
    "bpe_encode": lambda d, o: bpe.bpe_encode(d, [("a", "t")]),
    "word_frequencies": lambda d, o: bpe.word_frequencies(d),
    "exact_substr_dedup": lambda d, o: dedup.exact_substr_dedup(d, window=3),
    "ngram_jaccard_pairs": lambda d, o: dedup.ngram_jaccard_pairs(d),
    "minhash_lsh_candidates": lambda d, o: dedup.minhash_lsh_candidates(d),
    "simhash_hamming_pairs": lambda d, o: dedup.simhash_hamming_pairs(d),
}


@pytest.mark.parametrize("name", sorted(_CONSUMERS))
def test_word_split_appears_once_per_plan_node(spark, monkeypatch, name):
    # materialization cuts would hide the gram pass behind a LogicalRDD
    monkeypatch.setattr(RoundMaterializer, "__call__",
                        lambda self, df, tag: df)
    docs = spark.createDataFrame([
        ("a", "The cat sat on the mat. The cat sat again.", "en"),
        ("b", "zoo zebra badterm and some other words here", "de"),
        ("c", None, "en"),
    ], "doc_id string, text string, lang string")
    other = docs.where(F.col("lang") == "de")
    # a node holding the split twice re-splits the text per reference:
    # O(words²) per document when the references sit in gram lambdas
    assert _max_splits_per_node(_CONSUMERS[name](docs, other)) <= 1
