"""Composed curation pipeline: keep-list semantics + LSH-twin recall.

The DuckDB end-to-end replay is in test_queries_oracle.py
(curation_keep_list); these tests pin the operator-level contract and
the LSH scale path's recall on the planted duplicates.
"""

import pytest
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.curation import curation_keep_list


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    from n8n_tools_api_spark.plans.catalog import _curation_corpus

    return _curation_corpus(spark, sf_dir).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def exact_rows(spark, corpus):
    return {r["doc_id"]: (r["status"], r["canonical"])
            for r in curation_keep_list(corpus, use_lsh=False).collect()}


class TestCurationKeepList:
    def test_every_input_doc_gets_a_row(self, spark, corpus, exact_rows):
        assert len(exact_rows) == corpus.count()

    def test_planted_exact_copies_drop_to_their_original(self, exact_rows):
        for i in range(40):
            status, canonical = exact_rows[f"copy_{i}"]
            assert status == "exact_dup"
            assert canonical == str(i)
            # and the original itself survives the exact stage
            assert exact_rows[str(i)][0] in ("kept", "near_dup")

    def test_planted_mutations_drop_as_near_dups(self, exact_rows):
        # 90%-truncations sit far above the 0.5 jaccard threshold: every
        # mut_i must land in the SAME component as its original (natural
        # near-dup chains may pull the canonical elsewhere, e.g. 8~12
        # chains and '12' < '8' lexicographically)
        for i in range(25):
            status, canonical = exact_rows[f"mut_{i}"]
            assert status == "near_dup", f"mut_{i}"
            orig_status, orig_canon = exact_rows[str(i)]
            expected = orig_canon if orig_status == "near_dup" else str(i)
            assert canonical == expected, f"mut_{i}"

    def test_canonicals_are_kept_and_self_canonical(self, exact_rows):
        for doc_id, (status, canonical) in exact_rows.items():
            if status == "kept":
                assert canonical == doc_id
            elif status == "near_dup":
                # a component's canonical survives near-dedup
                assert exact_rows[canonical][0] == "kept"
            else:
                # an exact_dup's canonical is its exact-stage survivor,
                # which may itself then drop as a near_dup — but never
                # as another exact_dup
                assert exact_rows[canonical][0] in ("kept", "near_dup")

    def test_hostile_inputs_null_text_and_singletons(self, spark):
        # NULL-text docs must flow through extraction → '' clean text;
        # two NULL-text docs then hash-collide on md5('') and dedup as
        # exact twins (consistent with the oracle's COALESCE replay)
        docs = spark.createDataFrame(
            [("n1", None), ("n2", None),
             ("t", "some real content words here for shingling purposes")],
            "doc_id string, text string")
        rows = {r["doc_id"]: (r["status"], r["canonical"])
                for r in curation_keep_list(docs, use_lsh=False).collect()}
        assert rows["n1"] == ("kept", "n1")
        assert rows["n2"] == ("exact_dup", "n1")
        assert rows["t"] == ("kept", "t")

    def test_empty_corpus_yields_empty_keep_list(self, spark):
        docs = spark.createDataFrame([], "doc_id string, text string")
        assert curation_keep_list(docs, use_lsh=False).count() == 0

    def test_lsh_path_agrees_on_planted_dups(self, spark, corpus, exact_rows):
        lsh_rows = {r["doc_id"]: (r["status"], r["canonical"])
                    for r in curation_keep_list(corpus, use_lsh=True).collect()}
        assert len(lsh_rows) == len(exact_rows)
        # exact-dedup stage is identical (hash-based, LSH not involved)
        for i in range(40):
            assert lsh_rows[f"copy_{i}"] == exact_rows[f"copy_{i}"]
        # the LSH prefilter must recall every planted 90%-truncation
        for i in range(25):
            assert lsh_rows[f"mut_{i}"][0] == "near_dup", f"mut_{i}"
        # LSH keep-list is a superset of the exact keep-list (it can
        # only MISS pairs, never invent them — jaccard re-scores)
        exact_kept = {d for d, (s, _) in exact_rows.items() if s == "kept"}
        lsh_kept = {d for d, (s, _) in lsh_rows.items() if s == "kept"}
        assert exact_kept <= lsh_kept

    def test_quality_gate_runs_before_dedup(self, spark):
        """A repetitive doc is rejected by the Gopher gate and must NOT
        become anyone's canonical — even when it would otherwise be the
        lexicographically-smallest member of a near-dup cluster."""
        from n8n_tools_api_spark.operators.curation import curation_with_quality

        text = " ".join(f"w{j} x{j} y{j}" for j in range(40))
        near = " ".join(text.split()[:108])
        spammy = "\n".join(["the same line"] * 8) + "\n" + text
        docs = spark.createDataFrame(
            [("a_spam", spammy),       # rejected: 7/9 duplicate lines
             ("b", text), ("c_near", near),
             ("clean", "completely unrelated words forming a doc")],
            "doc_id string, text string",
        )
        out = {r["doc_id"]: (r["status"], r["canonical"])
               for r in curation_with_quality(docs).collect()}
        assert out["a_spam"] == ("rejected_quality", None)
        # the near-dup cluster resolves among the survivors only
        assert out["b"] == ("kept", "b")
        assert out["c_near"] == ("near_dup", "b")
        assert out["clean"] == ("kept", "clean")
        assert len(out) == 4

    def test_c4_cleaning_runs_before_dedup(self, spark):
        """c4_curation_keep_list: downstream stages consume the C4-
        CLEANED text — two pages whose only delta is a dropped
        javascript boilerplate line must collapse to exact dups, a
        brace page must come back rejected_c4 with NULL canonical, and
        a repeated-line page that passes C4 must still fall to the
        Gopher gate."""
        from n8n_tools_api_spark.operators.curation import c4_curation_keep_list

        # lexically distinct lines so the cleaned page passes the
        # Gopher n-gram coverage gates
        body = "\n".join([
            "apples grow near tall fences during early autumn days.",
            "rivers carry cold water toward distant valley towns below.",
            "music from the old radio filled every quiet evening room.",
            "seven children walked slowly across the bright green field.",
        ])
        with_js = body + \
            "\nPlease enable javascript to continue browsing here."
        docs = spark.createDataFrame(
            [("a", body),
             ("b_js", with_js),               # cleans to exactly `body`
             ("c_brace", body + "\nif (x) { return y; }"),
             ("d_rep", "\n".join(["the same exact line repeats here fully."] * 6)
              + "\none unique closing line appears here at last.")],
            "doc_id string, text string",
        )
        out = {r["doc_id"]: (r["status"], r["canonical"])
               for r in c4_curation_keep_list(docs).collect()}
        assert out["a"] == ("kept", "a")
        assert out["b_js"] == ("exact_dup", "a")
        assert out["c_brace"] == ("rejected_c4", None)
        assert out["d_rep"] == ("rejected_quality", None)
        assert len(out) == 4

    def test_reliable_checkpoint_path_matches_local(self, corpus,
                                                    reliable_cuts):
        """With Spark's checkpoint dir set, every
        intermediate (ranked frame, banded LSH, components rounds)
        round-trips through parquet — output must be identical."""
        import os
        import re

        with reliable_cuts() as ck:
            got = {r["doc_id"]: (r["status"], r["canonical"])
                   for r in curation_keep_list(
                       corpus, use_lsh=True).collect()}
        want = {r["doc_id"]: (r["status"], r["canonical"])
                for r in curation_keep_list(corpus, use_lsh=True).collect()}
        assert got == want
        # layout: <getCheckpointDir()>/<namespace>/<tag> — each
        # RoundMaterializer instance gets its own namespace (the
        # curation flow spawns three: ranked / banded / components)
        namespaces = os.listdir(ck)
        assert namespaces and all(re.fullmatch(r"m\d{4}", ns)
                                  for ns in namespaces), namespaces
        entries = {e for ns in namespaces
                   for e in os.listdir(os.path.join(ck, ns))}
        assert {"ranked", "banded", "edges"} <= entries


class TestWebCurationKeepList:
    """The fully-composed web pipeline (url → c4 → gopher → dedup →
    host cap → decontam → sample) — stage-handoff pins behind the
    ``web_curation_keep_list`` oracle."""

    @staticmethod
    def _run(spark, rows, bench_rows=(), **kw):
        from n8n_tools_api_spark.operators.curation import (
            web_curation_keep_list,
        )

        docs = spark.createDataFrame(
            rows, "doc_id string, url string, text string")
        domains = spark.createDataFrame([("badsite.org",)], "domain string")
        bench = spark.createDataFrame(
            [(t,) for t in bench_rows] or [("zz_never_matches",)],
            "text string")
        out = web_curation_keep_list(docs, domains, ["casino"], bench, **kw)
        return {r["doc_id"]: (r["status"], r["canonical"])
                for r in out.collect()}

    # a 4-line page that passes C4 (terminal '.', ≥5 words/line,
    # ≥3 sentences) and Gopher (no repeated lines/grams)
    PAGE = ("alpha bravo charlie delta echo foxtrot one.\n"
            "golf hotel india juliet kilo lima two.\n"
            "mike november oscar papa quebec romeo three.\n"
            "sierra tango uniform victor whiskey xray four.")

    def test_url_rejection_preempts_every_text_stage(self, spark):
        # same text twice: the blocked copy must be rejected_url, NOT
        # exact_dup — and the clean copy stays kept (its only twin
        # never reached dedup)
        out = self._run(spark, [
            ("a", "https://badsite.org/x", self.PAGE),
            ("b", "https://ok1.example/x", self.PAGE),
        ])
        assert out["a"] == ("rejected_url", None)
        assert out["b"] == ("kept", "b")

    def test_every_doc_gets_exactly_one_row(self, spark):
        rows = [
            ("u", "https://badsite.org/x", self.PAGE),
            ("c", "https://ok1.example/x", "short page { junk"),
            ("k", "https://ok2.example/x", self.PAGE),
            ("d", "https://ok3.example/x", self.PAGE),
        ]
        out = self._run(spark, rows)
        assert len(out) == 4
        assert out["u"][0] == "rejected_url"
        assert out["c"][0] == "rejected_c4"
        assert {out["k"][0], out["d"][0]} == {"kept", "exact_dup"}

    def test_host_cap_applies_after_dedup(self, spark):
        # six pages with disjoint vocabularies (no shared shingles —
        # one-word deltas would be near-dups) on one host, cap 2:
        # exactly two kept, four rejected_host_cap (doc_id asc)
        def page(i):
            ws = [f"w{i}x{j}" for j in range(28)]
            return "\n".join(
                " ".join(ws[k * 7:(k + 1) * 7]) + "." for k in range(4))

        pages = [(f"h{i}", "https://samehost.example/p%d" % i, page(i))
                 for i in range(6)]
        out = self._run(spark, pages, host_cap=2)
        statuses = [out[f"h{i}"][0] for i in range(6)]
        assert statuses[:2] == ["kept", "kept"]
        assert statuses[2:] == ["rejected_host_cap"] * 4

    def test_decontamination_on_cleaned_text(self, spark):
        # bench holds a 13-gram of the page; the surviving doc must
        # come out contaminated, not kept
        # exactly the page's first 13 whitespace tokens ('one.' keeps
        # its dot — decontam tokenizes on \s+ only)
        gram = ("alpha bravo charlie delta echo foxtrot one. golf hotel "
                "india juliet kilo lima")
        out = self._run(spark, [("a", "https://ok1.example/x", self.PAGE)],
                        bench_rows=[gram])
        assert out["a"] == ("contaminated", None)

    def test_sample_rate_zero_sends_survivors_to_sampled_out(self, spark):
        out = self._run(spark, [("a", "https://ok1.example/x", self.PAGE)],
                        sample_rate=0.0)
        assert out["a"] == ("sampled_out", None)


def test_web_pipeline_lsh_twin_agrees_on_fixture(spark, sf_dir):
    """The rows-only LSH scale path of the web pipeline must reach the
    same dispositions as the oracle-backed exact-Jaccard variant on
    the planted corpus (copies are all-band collisions; 3-of-4-line
    truncations collide on ≥2 bands — same corpus class for which
    curation_agreement pins 100% status agreement)."""
    from n8n_tools_api_spark.plans.catalog import _web_pipeline

    exact = {(r["doc_id"], r["status"]) for r in
             _web_pipeline(spark, sf_dir, use_lsh=False).collect()}
    lsh = {(r["doc_id"], r["status"]) for r in
           _web_pipeline(spark, sf_dir, use_lsh=True).collect()}
    assert exact == lsh


class TestWebDedupKeepList:
    """RefinedWeb-order dedup ladder (curation.py:web_dedup_keep_list)."""

    def _run(self, spark, rows, **kw):
        from n8n_tools_api_spark.operators.curation import (
            web_dedup_keep_list)

        df = spark.createDataFrame(
            rows, "doc_id string, url string, text string")
        return {r.doc_id: r for r in web_dedup_keep_list(df, **kw).collect()}

    def test_stage_order_and_statuses(self, spark):
        rows = [
            # a/b: same canonical URL -> b never reaches the text stages
            ("a", "https://x.com/p?k=1", "H\nbody a\nH\nshared footer"),
            ("b", "https://WWW.x.com/p/?k=1#f", "ignored entirely"),
            # c/d: distinct URLs, texts equal AFTER footer drop -> exact
            ("c", "https://x.com/q", "body cd\nshared footer"),
            ("d", "https://y.com/q", "body cd\nshared footer"),
        ]
        out = self._run(spark, rows, min_doc_freq=3)
        assert out["b"].status == "url_dup" and out["b"].canonical == "a"
        assert out["b"].lines_dropped_within is None
        # footer appears in 3 surviving docs -> boilerplate
        assert out["a"].status == "kept"
        assert out["a"].lines_dropped_within == 1  # repeated H
        assert out["a"].lines_dropped_boiler == 1
        assert out["c"].status == "kept"
        assert out["d"].status == "exact_dup" and out["d"].canonical == "c"

    def test_hostile_nulls_total(self, spark):
        rows = [("a", None, None), ("b", None, None), ("c", "u", "t")]
        out = self._run(spark, rows)
        # NULL urls form one pseudo-group; survivor's NULL text cleans
        # to one empty line and stays total
        assert out["b"].status == "url_dup"
        assert out["a"].status in ("kept", "exact_dup")
        assert out["c"].status == "kept"
