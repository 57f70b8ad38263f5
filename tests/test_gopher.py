"""Gopher repetition filters (Rae et al. 2021, Appendix A1.1) —
hand-computed fractions + gate behavior. The full DuckDB replay is the
gopher_repetition oracle (test_queries_oracle.py)."""

import re

import pytest
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.textstats import gopher_repetition


def _rows(spark, docs):
    df = spark.createDataFrame(docs, "doc_id string, text string")
    return {r["doc_id"]: r for r in gopher_repetition(df).collect()}


class TestGopherRepetition:
    def test_hand_computed_fractions(self, spark):
        out = _rows(spark, [
            # 'aaa bbb' twice + unique line: 1 beyond-first occurrence
            # out of 3 lines; 7 of 21 line-chars duplicated
            ("dup", "aaa bbb\naaa bbb\nccc ddd"),
            # no repetition at all
            ("clean", "one two three four five six"),
        ])
        d = out["dup"]
        assert d["n_lines"] == 3
        assert d["dup_line_frac"] == round(1 / 3, 6)
        assert d["dup_line_char_frac"] == round(7 / 21, 6)
        c = out["clean"]
        assert c["dup_line_frac"] == 0.0 and c["gopher_keep"] is True
        # grams occurring once are not repetition: short clean docs
        # score 0, not len(gram)/len(doc) (which would misfire the gate)
        assert c["top2gram_char_frac"] == 0.0
        # the dup doc's repeated 2-gram: 'aaa bbb' twice = 14/23 chars
        assert d["top2gram_char_frac"] == round(14 / 23, 6)

    def test_gates_fire_on_planted_pathologies(self, spark):
        line = "the same line again"
        out = _rows(spark, [
            ("rep", "\n".join([line] * 5) + "\nunique tail"),
            ("gram", "spam ham " * 40 + "end"),
            ("ok", "a perfectly normal sentence with varied words here"),
        ])
        assert out["rep"]["dup_line_frac"] == round(4 / 6, 6)
        assert out["rep"]["gopher_keep"] is False
        assert out["gram"]["top2gram_char_frac"] > 0.5
        assert out["gram"]["gopher_keep"] is False
        assert out["ok"]["gopher_keep"] is True

    def test_word_rules_isolate_each_gate(self, spark):
        from n8n_tools_api_spark.operators.textstats import gopher_word_stats

        good = " ".join(
            "the quick brown fox and that lazy dog have fun with it"
            .split() * 6)  # 66 words, stopwords present, alpha, no symbols
        out = {r["doc_id"]: r for r in gopher_word_stats(
            spark.createDataFrame(
                [("good", good),
                 ("bullets", "• item one\n" * 30),
                 ("ellipsis", "the words of and that have trail on and on more...\n" * 10),
                 ("numeric", "11 22 33 44 55 66 " * 10),
                 ("tiny", "the cat sat on the mat and that have with")],
                "doc_id string, text string")).collect()}
        g = out["good"]
        assert g["gopher_word_keep"] is True and g["n_stopwords"] >= 2
        assert out["bullets"]["bullet_line_frac"] == 1.0
        assert out["bullets"]["gopher_word_keep"] is False
        e = out["ellipsis"]
        # 110 words, stopwords, sane mean length, symbol ratio under
        # the gate — ONLY the ellipsis rule fires (isolates the gate;
        # review finding: the 8-word line also tripped the symbol gate)
        assert e["n_words"] == 110 and e["n_stopwords"] >= 2
        assert e["symbol_word_ratio"] <= 0.1
        assert e["alpha_word_frac"] >= 0.8
        assert e["ellipsis_line_frac"] == 1.0
        assert 3.0 <= e["mean_word_len"] <= 10.0
        assert e["gopher_word_keep"] is False
        n = out["numeric"]
        assert n["alpha_word_frac"] == 0.0 and n["gopher_word_keep"] is False
        # under the 50-word floor
        assert out["tiny"]["gopher_word_keep"] is False

    def test_null_and_blank_docs_are_safe(self, spark):
        out = _rows(spark, [("n", None), ("b", "   \n  \n"), ("t", "x")])
        for k in ("n", "b"):
            r = out[k]
            assert r["n_lines"] == 0 and r["gopher_keep"] is True
            assert r["dup_line_frac"] == 0.0
        assert out["t"]["n_lines"] == 1 and out["t"]["gopher_keep"] is True


class TestC4LineFilter:
    def test_line_rules(self, spark):
        from n8n_tools_api_spark.operators.textstats import c4_line_filter

        good = "The good line stays with enough words today."
        doc = "\n".join([
            good,
            "short line.",                      # <5 words → dropped
            "no terminal punctuation here at all",  # dropped
            "Enable javascript to view this page properly.",  # dropped
            'He said the magic words "exactly five words here today."',
            good,
        ])
        out = {r["doc_id"]: r for r in c4_line_filter(
            spark.createDataFrame([("d", doc)],
                                  "doc_id string, text string")).collect()}
        d = out["d"]
        assert d["n_lines_kept"] == 3
        assert "javascript" not in d["clean_text"]
        assert "short line." not in d["clean_text"]
        assert d["n_sentences"] >= 3 and d["c4_keep"] is True

    def test_page_rules_and_sentence_floor(self, spark):
        from n8n_tools_api_spark.operators.textstats import c4_line_filter

        good = "The good line stays with enough words today.\n" * 4
        rows = [
            ("lorem", good + "and some Lorem Ipsum filler."),
            ("brace", good + "code { like this }"),
            ("fragments", "no terminal punctuation in sight\n" * 5),
            ("ok", good),
            ("empty", None),
        ]
        out = {r["doc_id"]: r for r in c4_line_filter(
            spark.createDataFrame(rows, "doc_id string, text string")
        ).collect()}
        assert out["lorem"]["has_lorem_ipsum"] is True
        assert out["lorem"]["c4_keep"] is False
        assert out["brace"]["has_brace"] is True
        assert out["brace"]["c4_keep"] is False
        assert out["fragments"]["n_lines_kept"] == 0
        assert out["fragments"]["c4_keep"] is False
        assert out["ok"]["c4_keep"] is True
        e = out["empty"]
        assert e["clean_text"] == "" and e["c4_keep"] is False


class TestC4BadwordsFilter:
    """C4 §2.2 LDNOOBW page gate (textstats.py::c4_badwords_filter) —
    the ``c4_badwords`` oracle's semantics pins."""

    def _run(self, spark, rows, badwords):
        from n8n_tools_api_spark.operators.textstats import (
            c4_badwords_filter)

        df = spark.createDataFrame(rows, "doc_id string, text string")
        return {r["doc_id"]: (r["matched"], r["c4_badwords_keep"])
                for r in c4_badwords_filter(df, badwords).collect()}

    def test_word_boundaries_phrases_and_edges(self, spark):
        out = self._run(spark, [
            ("clean", "a clean page about spark tables."),
            ("punct", "mid sentence (Badterm!) appears"),
            ("superstring", "superbadterm never fires on tokens"),
            ("phrase", "the zoo zebra phrase spans tokens"),
            ("phrase_split", "zoo here and zebra there stay apart"),
            ("tie", "obscenity then badterm reports the smaller"),
            ("nul", None),
            ("mt", "   "),
        ], ["badterm", "obscenity", "zoo zebra"])
        assert out["clean"] == (None, True)
        assert out["punct"] == ("badterm", False)
        assert out["superstring"] == (None, True)
        assert out["phrase"] == ("zoo zebra", False)
        assert out["phrase_split"] == (None, True)
        assert out["tie"] == ("badterm", False)
        assert out["nul"] == (None, True)
        assert out["mt"] == (None, True)

    def test_empty_list_raises(self, spark):
        from n8n_tools_api_spark.operators.textstats import (
            c4_badwords_filter)

        df = spark.createDataFrame([("d", "x")],
                                   "doc_id string, text string")
        with pytest.raises(ValueError):
            c4_badwords_filter(df, [])

    @pytest.mark.parametrize("entry", [
        "badterm!", "zoo  zebra", "zoo\tzebra", " badterm", "", "!!"])
    def test_entry_that_can_never_match_raises(self, spark, entry):
        # page tokens are stripped and single-spaced, so an entry that
        # is not its own tokenization would be silently inert
        from n8n_tools_api_spark.operators.textstats import (
            c4_badwords_filter)

        df = spark.createDataFrame([("d", "x")],
                                   "doc_id string, text string")
        with pytest.raises(ValueError, match=re.escape(repr(entry))):
            c4_badwords_filter(df, ["badterm", entry])

    def test_plan_is_narrow(self, spark):
        from n8n_tools_api_spark.operators.textstats import (
            c4_badwords_filter)

        df = spark.createDataFrame([("d", "some text here")],
                                   "doc_id string, text string")
        plan = c4_badwords_filter(df, ["badterm", "zoo zebra"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan

    def test_list_entries_are_case_folded(self, spark):
        # the match surface is lowercase; an upper-case LIST entry
        # must still match (and report its lowercase form)
        out = self._run(spark, [("d", "has badterm here")], ["BadTerm"])
        assert out["d"] == ("badterm", False)

    def test_words_only_and_phrases_only_lists(self, spark):
        out = self._run(spark, [("d", "has badterm only")], ["badterm"])
        assert out["d"] == ("badterm", False)
        out = self._run(spark, [("d", "a zoo zebra page")], ["zoo zebra"])
        assert out["d"] == ("zoo zebra", False)


class TestC4SpanDedup:
    def _run(self, spark, rows):
        from n8n_tools_api_spark.operators.dedup import c4_span_dedup

        return {r["doc_id"]: r for r in c4_span_dedup(
            spark.createDataFrame(rows, "doc_id string, text string")
        ).collect()}

    def test_cross_doc_span_removed_from_later_doc_only(self, spark):
        shared = "Shared one stays. Shared two stays. Shared three stays."
        out = self._run(spark, [
            ("a", "Alpha intro sentence. " + shared + " Alpha outro sentence."),
            ("b", "Beta intro sentence! " + shared + " Beta outro sentence?"),
        ])
        # 'a' is the canonical (min doc_id) occurrence — untouched
        assert out["a"]["n_removed"] == 0 and out["a"]["n_dup_spans"] == 0
        assert "Shared one stays." in out["a"]["clean_text"]
        # 'b' loses exactly the three shared sentences
        b = out["b"]
        assert b["n_sentences"] == 5 and b["n_removed"] == 3
        assert b["n_dup_spans"] == 1
        assert b["clean_text"] == "Beta intro sentence! Beta outro sentence?"

    def test_internal_repetition_dedups_against_position_zero(self, spark):
        block = "Rep one here. Rep two here. Rep three here. "
        out = self._run(spark, [("r", block * 2)])
        r = out["r"]
        assert r["n_sentences"] == 6 and r["n_removed"] == 3
        assert r["clean_text"] == block.strip()

    def test_verbatim_copy_fully_covered_empties_out(self, spark):
        text = "First sentence here. Second sentence here. Third one here. Fourth one here."
        out = self._run(spark, [("orig", text), ("zcopy", text)])
        assert out["orig"]["n_removed"] == 0
        z = out["zcopy"]
        # every sentence of the copy is covered by some duplicated span
        assert z["clean_text"] == "" and z["n_removed"] == 4
        assert z["n_dup_spans"] == 2  # spans at q=0 and q=1

    def test_short_null_and_fragment_docs_pass_through(self, spark):
        out = self._run(spark, [
            ("n", None),
            ("two", "Only two sentences. Here they are."),
            ("frag", "Full stop here. Another stop here! Question here? tail fragment"),
        ])
        assert out["n"]["clean_text"] == "" and out["n"]["n_sentences"] == 0
        assert out["two"]["n_removed"] == 0 and out["two"]["n_sentences"] == 2
        f = out["frag"]
        # the un-terminated tail is dropped by sentence extraction
        assert f["n_sentences"] == 3 and "tail fragment" not in f["clean_text"]
        assert f["n_removed"] == 0

    def test_partition_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.dedup import c4_span_dedup

        shared = "Same span sentence one. Same span sentence two. Same span sentence three."
        rows = [(f"d{i:03d}", f"Unique opener number {i}. " + shared)
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        a = sorted(map(tuple, c4_span_dedup(df.repartition(2)).collect()))
        b = sorted(map(tuple, c4_span_dedup(df.repartition(13)).collect()))
        assert a == b
        # exactly one canonical survivor of the shared span
        keepers = [r for r in a if "Same span sentence one." in r[1]]
        assert len(keepers) == 1 and keepers[0][0] == "d000"


class TestExactSubstrDedup:
    """ExactSubstr token-window dedup (operators/dedup.py::
    exact_substr_dedup) — pins behind the ``exact_substr_dedup``
    oracle."""

    @staticmethod
    def _run(spark, rows, window=5):
        from n8n_tools_api_spark.operators.dedup import exact_substr_dedup

        df = spark.createDataFrame(rows, "doc_id string, text string")
        return {r["doc_id"]: r
                for r in exact_substr_dedup(df, window=window).collect()}

    def test_verbatim_copy_empties_the_later_doc(self, spark):
        text = " ".join(f"t{j}" for j in range(8))
        out = self._run(spark, [("a", text), ("b", text)])
        assert out["a"]["clean_text"] == text
        assert out["b"]["clean_text"] == ""
        assert out["b"]["n_removed"] == 8
        assert out["b"]["n_dup_windows"] == 4   # 8 tokens, 5-windows

    def test_shared_span_removed_with_overlap_merge(self, spark):
        span = " ".join(f"s{j}" for j in range(6))    # 6 shared tokens
        a = "a1 a2 a3 " + span + " a4 a5"
        b = "b1 b2 b3 " + span + " b4 b5"
        out = self._run(spark, [("a", a), ("b", b)])
        # only the 6-token span duplicates (two 5-windows, merged);
        # b keeps its unique frame
        assert out["a"]["clean_text"] == a
        assert out["b"]["clean_text"] == "b1 b2 b3 b4 b5"
        assert out["b"]["n_removed"] == 6
        assert out["b"]["n_dup_windows"] == 2

    def test_internal_repeat_keeps_first_occurrence(self, spark):
        span = " ".join(f"r{j}" for j in range(5))
        out = self._run(spark, [("a", span + " " + span)])
        assert out["a"]["clean_text"] == span
        assert out["a"]["n_dup_windows"] == 1

    def test_below_window_passes_through(self, spark):
        out = self._run(spark, [("a", "one two three"),
                                ("b", "one two three")])
        for k in ("a", "b"):
            assert out[k]["clean_text"] == "one two three"
            assert out[k]["n_dup_windows"] == 0

    def test_case_is_not_folded(self, spark):
        up = " ".join(f"T{j}" for j in range(5))
        lo = up.lower()
        out = self._run(spark, [("a", up), ("b", lo)])
        assert out["a"]["n_removed"] == 0
        assert out["b"]["n_removed"] == 0

    def test_null_and_empty_pass_through(self, spark):
        out = self._run(spark, [("n", None), ("e", "   ")])
        for k in ("n", "e"):
            assert out[k]["clean_text"] == ""
            assert out[k]["n_tokens"] == 0
            assert out[k]["n_removed"] == 0

    def test_partition_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.dedup import exact_substr_dedup

        text = " ".join(f"t{j}" for j in range(8))
        rows = [(f"d{i}", text) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        a = {(r["doc_id"], r["clean_text"]) for r in
             exact_substr_dedup(df, window=5).collect()}
        b = {(r["doc_id"], r["clean_text"]) for r in
             exact_substr_dedup(df.repartition(7), window=5).collect()}
        assert a == b
        # global first occurrence: only d0 survives with text
        kept = {d for d, t in a if t}
        assert kept == {"d0"}

    def test_invalid_window_raises(self, spark):
        from n8n_tools_api_spark.operators.dedup import exact_substr_dedup

        df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            exact_substr_dedup(df, window=0)


class TestLineDedup:
    """RefinedWeb-style exact line dedup (operators/dedup.py:line_dedup)."""

    def _run(self, spark, rows, **kw):
        from n8n_tools_api_spark.operators.dedup import line_dedup

        return {r["doc_id"]: r for r in line_dedup(
            spark.createDataFrame(rows, "doc_id string, text string"), **kw
        ).collect()}

    def test_boilerplate_line_removed_from_every_doc(self, spark):
        out = self._run(spark, [
            ("a", "unique a\nSubscribe to our newsletter\nmore a"),
            ("b", "unique b\nSubscribe to our newsletter\nmore b"),
        ])
        # no canonical survivor — the shared line is boilerplate everywhere
        assert out["a"]["clean_text"] == "unique a\nmore a"
        assert out["b"]["clean_text"] == "unique b\nmore b"
        assert out["a"]["n_removed"] == 1 and out["b"]["n_removed"] == 1

    def test_trimmed_key_matches_whitespace_variants(self, spark):
        out = self._run(spark, [
            ("a", "keep a\nShared footer line"),
            ("b", "keep b\n   Shared footer line   "),
        ])
        assert out["a"]["clean_text"] == "keep a"
        assert out["b"]["clean_text"] == "keep b"

    def test_in_doc_repetition_is_not_boilerplate(self, spark):
        out = self._run(spark, [
            ("r", "same line twice\nsame line twice\ntail"),
            ("s", "unrelated doc"),
        ])
        # distinct-DOC frequency = 1 → kept (Gopher handles in-doc reps)
        assert out["r"]["n_removed"] == 0
        assert out["r"]["clean_text"] == "same line twice\nsame line twice\ntail"

    def test_blank_lines_and_null_text_survive(self, spark):
        out = self._run(spark, [
            ("n", None),
            ("w", "   \nreal w\n"),
            ("x", "   \nreal x\n"),
        ])
        # whitespace-only lines are never candidates even though both
        # docs share them; NULL text is one empty surviving line
        assert out["n"]["clean_text"] == "" and out["n"]["n_lines"] == 1
        assert out["w"]["clean_text"] == "   \nreal w\n"
        assert out["w"]["n_removed"] == 0

    def test_min_doc_freq_threshold(self, spark):
        rows = [(f"d{i}", f"only mine {i}\ncommon footer") for i in range(3)]
        out2 = self._run(spark, rows, min_doc_freq=2)
        out4 = self._run(spark, rows, min_doc_freq=4)
        assert all(out2[f"d{i}"]["n_removed"] == 1 for i in range(3))
        assert all(out4[f"d{i}"]["n_removed"] == 0 for i in range(3))
        import pytest as _pytest
        from n8n_tools_api_spark.operators.dedup import line_dedup
        with _pytest.raises(ValueError):
            line_dedup(spark.range(1).selectExpr(
                "'a' doc_id", "'t' text"), min_doc_freq=1)

    def test_partition_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.dedup import line_dedup

        rows = [(f"d{i:03d}", f"unique opener {i}\nshared footer everywhere")
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        a = sorted(map(tuple, line_dedup(df.repartition(2)).collect()))
        b = sorted(map(tuple, line_dedup(df.repartition(13)).collect()))
        assert a == b


class TestDatasetCard:
    def _df(self, spark):
        rows = [
            ("en", "web", "one two three"),
            ("en", "web", " ".join(f"w{i}" for i in range(40))),
            ("en", "book", ""),
            ("de", "web", None),
            ("de", "web", "ein zwei"),
        ]
        return spark.createDataFrame(rows, "lang string, source string, "
                                           "text string")

    def test_hand_computed_rollup(self, spark):
        from n8n_tools_api_spark.operators.textstats import dataset_card

        got = {(r["lang"], r["source"]):
               (r["n_docs"], r["n_empty"], r["total_tokens"],
                r["short_docs"], r["max_tokens"])
               for r in dataset_card(self._df(spark)).collect()}
        # 2 langs x 2 sources (de only web) + 2 lang subtotals + total
        assert len(got) == 3 + 2 + 1
        assert got[("en", "web")] == (2, 0, 43, 1, 40)
        assert got[("en", "book")] == (1, 1, 0, 1, 0)
        assert got[("de", "web")] == (2, 1, 2, 2, 2)
        assert got[("en", "ALL")] == (3, 1, 43, 2, 40)
        assert got[("de", "ALL")] == (2, 1, 2, 2, 2)
        assert got[("ALL", "ALL")] == (5, 2, 45, 4, 40)

    def test_null_dim_never_masquerades_as_subtotal(self, spark):
        from n8n_tools_api_spark.operators.textstats import dataset_card

        df = spark.createDataFrame(
            [(None, "web", "a b"), ("en", "web", "c")],
            "lang string, source string, text string")
        rows = dataset_card(df).collect()
        langs = {r["lang"] for r in rows}
        # the genuine NULL group stays NULL; only rollup rows say ALL
        assert None in langs and "ALL" in langs
        by = {(r["lang"], r["source"]): r["n_docs"] for r in rows}
        assert by[(None, "web")] == 1 and by[("ALL", "ALL")] == 2

    def test_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.textstats import dataset_card

        df = self._df(spark)
        a = dataset_card(df.repartition(1)).orderBy("lang", "source").collect()
        b = dataset_card(df.repartition(7)).orderBy("lang", "source").collect()
        assert list(map(tuple, a)) == list(map(tuple, b))


class TestStripRepeatedLines:
    """Within-doc repeated-line removal
    (operators/dedup.py:strip_repeated_lines)."""

    def _run(self, spark, rows):
        from n8n_tools_api_spark.operators.dedup import strip_repeated_lines

        return {r["doc_id"]: r for r in strip_repeated_lines(
            spark.createDataFrame(rows, "doc_id string, text string")
        ).collect()}

    def test_first_occurrence_survives(self, spark):
        out = self._run(spark, [("a", "h\nbody one\nh\nbody two\nh")])
        assert out["a"].clean_text == "h\nbody one\nbody two"
        assert out["a"].n_lines == 5 and out["a"].n_removed == 2

    def test_trim_key_keeps_original_spelling(self, spark):
        out = self._run(spark, [("a", "x y\n  x y  \nx y\ntail")])
        assert out["a"].clean_text == "x y\ntail"
        assert out["a"].n_removed == 2

    def test_blank_and_null_untouched(self, spark):
        out = self._run(spark, [("a", "   \np\n   \n"), ("b", None)])
        assert out["a"].clean_text == "   \np\n   \n" and \
            out["a"].n_removed == 0
        assert out["b"].clean_text == "" and out["b"].n_lines == 1

    def test_own_unique_line_contrast_with_line_dedup(self, spark):
        """The dividing line between the two operators: an in-doc
        repeat is REMOVED here but KEPT by cross-doc line_dedup."""
        from n8n_tools_api_spark.operators.dedup import line_dedup

        rows = [("a", "self\nself\ntail")]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        from n8n_tools_api_spark.operators.dedup import strip_repeated_lines
        intra = strip_repeated_lines(df).collect()[0]
        cross = line_dedup(df).collect()[0]
        assert intra.clean_text == "self\ntail"
        assert cross.clean_text == "self\nself\ntail"

    def test_zero_shuffle_plan(self, spark):
        from n8n_tools_api_spark.operators.dedup import strip_repeated_lines

        df = strip_repeated_lines(spark.createDataFrame(
            [("a", "x\nx")], "doc_id string, text string"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_composes_with_cross_doc_line_dedup(self, spark):
        """clean within docs, then strip cross-doc boilerplate — the
        canon's stage order; composition must not throw and must apply
        both rules."""
        from n8n_tools_api_spark.operators.dedup import (
            line_dedup, strip_repeated_lines)

        rows = [("a", "footer\nA body\nfooter"), ("b", "footer\nB body")]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        stage1 = strip_repeated_lines(df).select(
            "doc_id", F.col("clean_text").alias("text"))
        out = {r.doc_id: r for r in line_dedup(stage1).collect()}
        assert out["a"].clean_text == "A body"
        assert out["b"].clean_text == "B body"
