"""BPE merge learning (operators/bpe.py) — golden Sennrich example,
pure-Python replay, fold semantics, early stop, layout invariance."""

import os
import re
from collections import Counter

import pytest


def _py_bpe(texts, n_merges, min_count=2):
    """Reference implementation: the exact semantics bpe_learn pins.

    Tokenization matches Spark's ``split(trim(text), '\\s+')`` — Java's
    ASCII-only ``\\s`` (NOT Python's ``str.split()``, which also splits
    on the US separator \\x1f and unicode spaces)."""
    wf = Counter(
        w for t in texts
        for w in re.split(r"\s+", (t or "").strip(), flags=re.ASCII)
        if w and "\x1f" not in w)
    words = {tuple(list(w) + ["</w>"]): f for w, f in wf.items()}
    merges = []
    for r in range(n_merges):
        pc = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        cands = [(-c, a, b) for (a, b), c in pc.items() if c >= min_count]
        if not cands:
            break
        negc, a, b = min(cands)
        merges.append((r, a, b, a + b, -negc))

        def apply(syms):
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            return tuple(out)

        words = {apply(s): f for s, f in words.items()}
    return merges


def _learn(spark, texts, n_merges):
    from n8n_tools_api_spark.operators.bpe import bpe_learn

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    return [(r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
            for r in bpe_learn(df, n_merges).orderBy("rank").collect()]


class TestBpeLearn:
    def test_sennrich_canonical_example(self, spark):
        # the paper's worked vocabulary: low*5 lower*2 newest*6 widest*3
        corpus = ["low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3]
        got = _learn(spark, corpus, 4)
        # first merges: (e,s) 9, (es,t) 9, (est,</w>) 9, (l,o) 7
        assert got[0][1:] == ("e", "s", "es", 9)
        assert got[1][1:] == ("es", "t", "est", 9)
        assert got[2][1:] == ("est", "</w>", "est</w>", 9)
        assert got[3][1:] == ("l", "o", "lo", 7)

    def test_matches_pure_python_replay(self, spark):
        # deterministic synthetic corpus with runs, ties, and unicode
        texts = [f"alpha beta{i % 7} gamma gamma aaaa aa héllo wörld"
                 for i in range(30)]
        texts.append("zzz zz zzzz banana banana anana")
        assert _learn(spark, texts, 10) == _py_bpe(texts, 10)

    def test_greedy_left_to_right_fold_on_runs(self, spark):
        # 'aaaab' merging (a,a): greedy gives [aa, aa, b] (never
        # [aa, a, a, b]); round 2's tie at count 4 then resolves to
        # (aa, aa) lexicographically — pinning the fold AND the break
        got = _learn(spark, ["aaaab " * 4], 2)
        assert got[0][1:3] == ("a", "a")
        assert got[1][1:] == ("aa", "aa", "aaaa", 4)
        # odd run: agree with the reference fold ([aa, aa, a])
        texts = ["aaaaa " * 3]
        assert _learn(spark, texts, 3) == _py_bpe(texts, 3)

    def test_early_stop_when_no_pair_reaches_min_count(self, spark):
        got = _learn(spark, ["ab cd ef"], 5)
        assert got == []  # every pair is a hapax
        got1 = _learn(spark, ["ab ab xy"], 5)
        # (a,b) has count 2; after merging, nothing reaches 2 again
        assert [g[1:3] for g in got1] == [("a", "b"), ("ab", "</w>")]

    def test_delimiter_words_excluded_and_null_text(self, spark):
        texts = ["ok ok", "bad\x1fword bad\x1fword bad\x1fword", None]
        assert _learn(spark, texts, 3) == _py_bpe(texts, 3)

    def test_partition_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.bpe import bpe_learn

        rows = [(f"d{i}", f"token{i % 5} shared shared run aaaa")
                for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        a = bpe_learn(df.repartition(2), 6).orderBy("rank").collect()
        b = bpe_learn(df.repartition(13), 6).orderBy("rank").collect()
        assert list(map(tuple, a)) == list(map(tuple, b))

    def test_reliable_mode_skips_final_round_write(self, spark,
                                                   reliable_cuts):
        # reliable mode writes each consumed round as parquet; the final
        # merge's words are never read, so that round is never written
        texts = [f"alpha beta{i % 7} gamma gamma aaaa aa" for i in range(30)]
        n = 5
        with reliable_cuts() as ck:
            got = _learn(spark, texts, n)
        assert len(got) == n
        assert got == _learn(spark, texts, n) == _py_bpe(texts, n)
        written = {d for _, dirs, _ in os.walk(ck) for d in dirs}
        assert f"bpe_round{n - 1}" in written  # the last consumed round
        assert f"bpe_round{n}" not in written

    def test_validation(self, spark):
        from n8n_tools_api_spark.operators.bpe import bpe_learn

        df = spark.createDataFrame([("1", "a b")], "doc_id string, text string")
        with pytest.raises(ValueError):
            bpe_learn(df, 0)


def _py_encode(texts, merges):
    """Pure-Python twin of bpe_encode's pinned semantics."""
    out = []
    for t in texts:
        ws = [w for w in re.split(r"\s+", (t or "").strip(), flags=re.ASCII)
              if w and "\x1f" not in w]
        enc = []
        for w in ws:
            syms = list(w) + ["</w>"]
            for a, b in merges:
                folded = [syms[0]]
                for x in syms[1:]:
                    if folded[-1] == a and x == b:
                        folded[-1] = a + b
                    else:
                        folded.append(x)
                syms = folded
            enc.append("\x1f".join(syms))
        out.append((len(ws),
                    sum(len(e.split("\x1f")) for e in enc),
                    " ".join(enc)))
    return out


def _encode(spark, texts, merges):
    from n8n_tools_api_spark.operators.bpe import bpe_encode

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)],
        "doc_id string, text string")
    rows = bpe_encode(df, merges).collect()
    by_id = {r["doc_id"]: (r["n_words"], r["n_tokens"], r["encoded"])
             for r in rows}
    assert len(by_id) == len(texts)
    return [by_id[str(i)] for i in range(len(texts))]


class TestBpeEncode:
    def test_hand_computed_runs(self, spark):
        # merges (z,z) then (zz,zz): zzzz -> [zzzz, </w>], zzz ->
        # [zz, z, </w>], zz -> [zz, </w>] — greedy left-to-right
        got = _encode(spark, ["zzzz zzz zz"], [("z", "z"), ("zz", "zz")])
        assert got == [(3, 7,
                        "zzzz\x1f</w> zz\x1fz\x1f</w> zz\x1f</w>")]

    def test_learned_merges_reach_final_training_vocab(self, spark):
        # the Sennrich corpus's first 4 merges are (e,s) (es,t)
        # (est,</w>) (l,o); training words must encode to the symbol
        # strings the final training vocabulary holds
        corpus = ["low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3]
        merges = [(a, b) for _, a, b, _, _ in _py_bpe(corpus, 4)]
        got = _encode(spark, ["newest low lower widest"], merges)
        assert got == [(4, 16,
                        "n\x1fe\x1fw\x1fest</w> "
                        "lo\x1fw\x1f</w> "
                        "lo\x1fw\x1fe\x1fr\x1f</w> "
                        "w\x1fi\x1fd\x1fest</w>")]

    def test_matches_pure_python_replay(self, spark):
        texts = [f"alpha beta{i % 7} gamma gamma aaaa aa héllo wörld"
                 for i in range(12)]
        texts += ["zzz zz zzzz banana banana anana",
                  "", None, "   ", "bad\x1fword ok ok"]
        merges = [(a, b) for _, a, b, _, _ in _py_bpe(texts, 8)]
        want = _py_encode(texts, merges)
        assert _encode(spark, texts, merges) == want

    def test_empty_merge_table_yields_character_tokens(self, spark):
        got = _encode(spark, ["ab a"], [])
        assert got == [(2, 5, "a\x1fb\x1f</w> a\x1f</w>")]

    def test_narrow_mode_plan_has_no_exchange(self, spark):
        # the encode shape must ride the scan at 100 TB: one
        # per-row projection, zero exchanges (same pin as extraction)
        from n8n_tools_api_spark.operators.bpe import bpe_encode

        df = spark.createDataFrame(
            [("1", "some words here")], "doc_id string, text string")
        plan = (bpe_encode(df, [("e", "s"), ("es", "t")])
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, plan[:2000]
