"""Operator tests: PDF plans vs refsem, media externalization, dedup,
similarity — the SURVEY.md §2 surface not covered by the DuckDB oracles."""

import pytest
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
)
from n8n_tools_api_spark.operators.media import (
    apply_media_map,
    distinct_media_blobs,
)
from n8n_tools_api_spark.operators.pdf_plans import (
    batch_info_plan,
    merge_pages_plan,
    merge_plan,
    merge_ranges_plan,
    merge_selection_info,
    split_batches_plan,
    split_pages_plan,
    split_ranges_plan,
)
from n8n_tools_api_spark.operators.similarity import brute_force_topk, ivf_topk
from n8n_tools_api_spark.operators import extract_spans
from n8n_tools_api_spark.refsem import (
    PageRangeError,
    batch_split_info,
    batch_windows,
    media_ref_for,
    merge_interleave_order,
    merge_pages_order,
    merge_ranges_order,
    parse_page_range,
    split_output_name,
    split_pages,
)
from n8n_tools_api_spark.sources import interleaved_df
from n8n_tools_api_spark.sources.synthetic import (
    CANONICAL_GIF_B64,
    CANONICAL_JPEG_B64,
    CANONICAL_PNG_B64,
)


class TestSplitRangesPlan:
    CASES = ["1-3", "5", "7-9", "-3", "8-", " 2 - 4 ",
             "0", "15", "7-3", "a-b", "abc", "1-99", "1--3",
             # beyond int32: must be out-of-range, not a format error
             "99999999999999", "1-3000000000"]

    def test_matches_refsem(self, spark):
        reqs = spark.createDataFrame(
            [("r1", self.CASES, 10)],
            "req_id string, ranges array<string>, total_pages int",
        )
        rows = {r["page_range"]: r for r in split_ranges_plan(reqs).collect()}
        assert len(rows) == len(self.CASES)
        for case in self.CASES:
            row = rows[case]
            try:
                lo, hi = parse_page_range(case, 10)
            except PageRangeError as e:
                assert row["error"] == str(e), f"error text for {case!r}"
                assert row["out_name"] is None
            else:
                assert row["error"] is None, f"unexpected error for {case!r}: {row['error']}"
                assert (row["page_lo"], row["page_hi"]) == (lo + 1, hi + 1)
                assert row["out_name"] == split_output_name(lo, hi)


class TestSplitBatchesPlan:
    @pytest.mark.parametrize("total,bs,fname", [
        (10, 3, "report.pdf"), (10, 5, "a.b.c.pdf"), (2, 1, "x.pdf"),
        (7, 7, "exact.pdf"), (5, 100, "big_batch.pdf"), (9, 4, "noext"),
    ])
    def test_matches_refsem(self, spark, total, bs, fname):
        reqs = spark.createDataFrame(
            [("r", total, bs, fname)],
            "req_id string, total_pages int, batch_size int, filename string",
        )
        got = [r.asDict() for r in
               split_batches_plan(reqs).orderBy("batch_index").collect()]
        expected = batch_windows(total, bs, fname)
        assert [(g["batch_index"], g["out_name"], g["page_lo"], g["page_hi"])
                for g in got] == \
            [(e["batch_index"], e["out_name"], e["page_lo"], e["page_hi"])
             for e in expected]


class TestBatchErrorChannel:
    def test_invalid_requests_hit_error_channel(self, spark):
        reqs = spark.createDataFrame(
            [("ok", 4, 2, "a.pdf"), ("zero_bs", 10, 0, "b.pdf"),
             ("no_pages", 0, 3, "c.pdf")],
            "req_id string, total_pages int, batch_size int, filename string",
        )
        rows = split_batches_plan(reqs).collect()
        by_req = {}
        for r in rows:
            by_req.setdefault(r["req_id"], []).append(r)
        assert len(by_req["ok"]) == 2
        assert all(r["error"] is None for r in by_req["ok"])
        assert by_req["zero_bs"][0]["error"] == "Batch size must be greater than 0"
        assert by_req["no_pages"][0]["error"] == "PDF has no pages"


class TestMergePlan:
    def test_interleave_matches_refsem(self, spark):
        counts = [3, 1, 2]
        reqs = spark.createDataFrame(
            [("m1", "interleave",
              [(i, n) for i, n in enumerate(counts)])],
            "req_id string, strategy string, files array<struct<file_idx:int,n_pages:int>>",
        )
        got = [(r["file_idx"], r["page_idx"]) for r in
               merge_plan(reqs).orderBy("out_pos").collect()]
        assert got == merge_interleave_order(counts)

    def test_append_order(self, spark):
        reqs = spark.createDataFrame(
            [("m2", "append", [(0, 2), (1, 1)])],
            "req_id string, strategy string, files array<struct<file_idx:int,n_pages:int>>",
        )
        got = [(r["file_idx"], r["page_idx"]) for r in
               merge_plan(reqs).orderBy("out_pos").collect()]
        assert got == [(0, 0), (0, 1), (1, 0)]


class TestSplitPagesPlan:
    def test_matches_refsem(self, spark):
        reqs = spark.createDataFrame(
            [("r1", 4), ("r2", 1), ("empty", 0)],
            "req_id string, total_pages int",
        )
        rows = split_pages_plan(reqs).orderBy("req_id", "page_num").collect()
        by_req = {}
        for r in rows:
            by_req.setdefault(r["req_id"], []).append(r)
        for req, total in [("r1", 4), ("r2", 1)]:
            expected = split_pages(total)
            assert [(r["page_num"], r["out_name"]) for r in by_req[req]] == \
                [(e["page_num"], e["out_name"]) for e in expected]
            assert all(r["error"] is None for r in by_req[req])
        # zero pages → reference's "PDF has no pages" error row
        with pytest.raises(PageRangeError):
            split_pages(0)
        assert by_req["empty"][0]["error"] == "PDF has no pages"
        assert by_req["empty"][0]["out_name"] is None


class TestBatchInfoPlan:
    @pytest.mark.parametrize("total,bs,size", [
        (10, 3, 3_000_000), (7, 7, 512_000), (5, 100, 10_000_000),
        (9, 4, 1_048_576),
    ])
    def test_matches_refsem(self, spark, total, bs, size):
        reqs = spark.createDataFrame(
            [("r", total, bs, size)],
            "req_id string, total_pages int, batch_size int, file_size_bytes bigint",
        )
        got = batch_info_plan(reqs).collect()[0].asDict()
        exp = batch_split_info(total, bs, size)
        for k in exp:
            assert got[k] == exp[k], f"{k}: {got[k]} != {exp[k]}"
        assert got["error"] is None

    def test_error_channel(self, spark):
        reqs = spark.createDataFrame(
            [("zero_bs", 10, 0, 100), ("no_pages", 0, 3, 100)],
            "req_id string, total_pages int, batch_size int, file_size_bytes bigint",
        )
        rows = {r["req_id"]: r for r in batch_info_plan(reqs).collect()}
        assert rows["zero_bs"]["error"] == "Batch size must be greater than 0"
        assert rows["no_pages"]["error"] == "PDF has no pages"
        assert rows["zero_bs"]["batch_count"] is None


class TestMergePagesPlan:
    # mirrors the route docstring example (pdf.py:656: "[[1,2,3], [1,5,6],
    # [2,4]]") plus skip cases: empty selection, out-of-range pages
    SPECS = [(3, [1, 2, 3]), (6, [1, 5, 6]), (4, [2, 4]),
             (5, []), (2, [0, 3, 1])]

    def test_matches_refsem(self, spark):
        reqs = spark.createDataFrame(
            [("m1", self.SPECS)],
            "req_id string, files array<struct<n_pages:int,selected:array<int>>>",
        )
        got = [r.asDict() for r in merge_pages_plan(reqs).collect()]
        exp = merge_pages_order(self.SPECS)
        assert [(g["file_pos"], g["sel_pos"], g["page_num"], g["out_pos"],
                 g["error"]) for g in got] == \
            [(e["file_pos"], e["sel_pos"], e["page_num"], e["out_pos"],
              e["error"]) for e in exp]

    def test_out_of_range_skipped_with_reference_warning(self, spark):
        reqs = spark.createDataFrame(
            [("m", [(2, [1, 9])])],
            "req_id string, files array<struct<n_pages:int,selected:array<int>>>",
        )
        rows = merge_pages_plan(reqs).orderBy("sel_pos").collect()
        assert rows[0]["out_pos"] == 0 and rows[0]["error"] is None
        assert rows[1]["out_pos"] is None
        # pdf_service.py:514-516 warning text
        assert rows[1]["error"] == \
            "Page 9 is out of range for PDF 1 (has 2 pages). Skipping."

    def test_multi_request_isolation(self, spark):
        reqs = spark.createDataFrame(
            [("a", [(3, [3, 1])]), ("b", [(2, [2])])],
            "req_id string, files array<struct<n_pages:int,selected:array<int>>>",
        )
        rows = {(r["req_id"], r["sel_pos"]): r
                for r in merge_pages_plan(reqs).collect()}
        # out_pos restarts per request; selection order preserved (3 then 1)
        assert rows[("a", 0)]["page_num"] == 3 and rows[("a", 0)]["out_pos"] == 0
        assert rows[("a", 1)]["page_num"] == 1 and rows[("a", 1)]["out_pos"] == 1
        assert rows[("b", 0)]["out_pos"] == 0


class TestMergeRangesPlan:
    SPECS = [(10, ["1-3", "5"]), (4, ["7-9", "2"]), (6, ["-2", "5-", "a-b"]),
             (3, [])]

    def test_matches_refsem(self, spark):
        reqs = spark.createDataFrame(
            [("m1", self.SPECS)],
            "req_id string, files array<struct<n_pages:int,ranges:array<string>>>",
        )
        got = [r.asDict() for r in merge_ranges_plan(reqs).collect()]
        exp = merge_ranges_order(self.SPECS)
        assert [(g["file_pos"], g["range_pos"], g["page_range"], g["page_num"],
                 g["out_pos"], g["error"]) for g in got] == \
            [(e["file_pos"], e["range_pos"], e["page_range"], e["page_num"],
              e["out_pos"], e["error"]) for e in exp]

    def test_invalid_range_skipped_whole(self, spark):
        # pdf_service.py:595-597: a bad range skips THAT range only
        reqs = spark.createDataFrame(
            [("m", [(4, ["7-9", "2"])])],
            "req_id string, files array<struct<n_pages:int,ranges:array<string>>>",
        )
        rows = merge_ranges_plan(reqs).orderBy("range_pos", "page_num").collect()
        assert rows[0]["page_num"] is None
        assert rows[0]["error"] == ("Skipping invalid range '7-9' for PDF 1: "
                                    "Page range 7-9 exceeds document length (4 pages)")
        assert (rows[1]["page_num"], rows[1]["out_pos"]) == (2, 0)


class TestMergeSelectionInfo:
    def test_rollup_and_no_valid_pages_error(self, spark):
        reqs = spark.createDataFrame(
            [("ok", [(3, [1, 2]), (2, [5])]),   # 2 added, 1 skipped
             ("allbad", [(2, [9, 0])])],        # nothing survives
            "req_id string, files array<struct<n_pages:int,selected:array<int>>>",
        )
        rows = {r["req_id"]: r for r in merge_selection_info(reqs).collect()}
        ok = rows["ok"]
        assert (ok["files_count"], ok["pages_added"], ok["pages_skipped"]) == (2, 2, 1)
        assert ok["error"] is None
        bad = rows["allbad"]
        assert bad["pages_added"] == 0
        # pdf_service.py:525 — the reference's zero-pages error
        assert bad["error"] == "No valid pages were selected for merging"


class TestMergeInfo:
    def test_matches_reference_rollup(self, spark):
        from n8n_tools_api_spark.operators.pdf_plans import merge_info_plan

        reqs = spark.createDataFrame(
            [("m1", [(0, 3, 3_000_000), (1, 7, 7_000_000)])],
            "req_id string, files array<struct<file_idx:int,page_count:int,"
            "file_size_bytes:bigint>>",
        )
        r = merge_info_plan(reqs).collect()[0]
        assert r["files_count"] == 2
        assert r["total_pages"] == 10
        assert r["total_size_bytes"] == 10_000_000
        assert r["total_size_mb"] == round(10_000_000 / 1048576, 2)
        # pdf_service.py:676 — x0.95 compression estimate
        assert r["estimated_merged_size_mb"] == round(10_000_000 / 1048576 * 0.95, 2)


class TestMedia:
    def test_distinct_blobs_dedup(self, spark):
        docs = interleaved_df(spark, 150)
        blobs = distinct_media_blobs(docs).collect()
        # only PNG and JPEG survive: the reference's own >50-byte gate
        # (ocr_response_formatter.py:454-475) excludes its canonical 1x1
        # GIF fixture (43 decoded bytes) — pipeline and goldens agree
        refs = sorted(b["media_ref"] for b in blobs)
        expected = sorted(media_ref_for(b) for b in
                          (CANONICAL_PNG_B64, CANONICAL_JPEG_B64))
        assert refs == expected
        import base64
        assert len(base64.b64decode(CANONICAL_GIF_B64)) <= 50
        assert all(b["media_key"] in b["media_ref"] for b in blobs)

    def test_jvm_sha_matches_python(self, spark):
        docs = interleaved_df(spark, 150)
        blobs = {b["media_ref"] for b in distinct_media_blobs(docs).collect()}
        assert media_ref_for(CANONICAL_PNG_B64) in blobs

    def test_apply_media_map_identity_and_fallback(self, spark):
        docs = interleaved_df(spark, 80)
        extracted = extract_spans(docs)
        blobs = distinct_media_blobs(docs)
        mapped = apply_media_map(extracted, blobs)
        base = {r["doc_id"]: [tuple(s) for s in r["spans"]]
                for r in extracted.collect()}
        got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
               for r in mapped.collect()}
        assert got == base  # every derived ref is present in the blob table
        # drop one blob -> its refs must fall back to inline ('')
        dropped = blobs.orderBy("media_key").limit(blobs.count() - 1)
        kept_refs = {b["media_ref"] for b in dropped.collect()}
        got2 = apply_media_map(extracted, dropped).collect()
        for r in got2:
            for s in r["spans"]:
                if s["media_ref"]:
                    assert s["media_ref"] in kept_refs


class TestMediaUploadStats:
    def test_success_rate(self, spark):
        from n8n_tools_api_spark.operators.media import media_upload_stats

        docs = interleaved_df(spark, 80)
        extracted = extract_spans(docs)
        blobs = distinct_media_blobs(docs)
        full = media_upload_stats(extracted, blobs).collect()[0]
        assert full["detected"] > 0
        assert full["failed"] == 0
        assert full["success_rate"] == 1.0
        # drop one blob → its refs count as failed
        partial = media_upload_stats(
            extracted, blobs.orderBy("media_key").limit(blobs.count() - 1)
        ).collect()[0]
        assert partial["failed"] > 0
        assert partial["uploaded"] + partial["failed"] == partial["detected"]
        assert partial["success_rate"] == round(
            partial["uploaded"] / partial["detected"], 4)


class TestBase64JvmParity:
    # the review's divergence battery: unpadded, over-padded, whitespace,
    # junk, impossible length — Python decode_base64_payload must agree
    # with Spark try_to_binary(x, 'base64') on every one
    CASES = [
        CANONICAL_PNG_B64,
        "QQ", "QUJDRA",          # unpadded (JVM accepts)
        "QUJD====",              # over-padded (JVM rejects)
        "QUJ=D===",              # padding inside
        "QUJDRA==",              # normal padding
        "QU JD RA\n==",          # whitespace-wrapped
        "!!!notbase64!!!", "", "=", "A", "ABCDE",
    ]

    def test_python_matches_jvm(self, spark):
        from pyspark.sql import functions as F

        from n8n_tools_api_spark.refsem.images import decode_base64_payload

        df = spark.createDataFrame([(c,) for c in self.CASES], "b64 string")
        jvm = {
            r["b64"]: (bytes(r["decoded"]) if r["decoded"] is not None else None)
            for r in df.select(
                "b64",
                F.try_to_binary(F.col("b64"), F.lit("base64")).alias("decoded"),
            ).collect()
        }
        for case in self.CASES:
            assert decode_base64_payload(case) == jvm[case], repr(case)


def _simhash_hamming_pairs_chunked(df, max_distance):
    """Round-2 4×16-bit chunk blocking, kept ONLY as the equivalence
    twin for dedup.simhash_hamming_pairs' Manku-key form (both
    blockings are recall-exact for d≤3, so outputs must be identical).
    Not for production: bucket occupancy N/65,536 goes quadratic at
    ≥10⁹ docs."""
    from n8n_tools_api_spark.operators.dedup import (
        _hamming_filter, simhash_64)

    assert max_distance <= 3, "4-chunk pigeonhole only guarantees d<=3"
    sig = simhash_64(df)
    chunks = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.shiftrightunsigned("simhash", 16 * i)
                .bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
            )
            for i in range(4)
        ])).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk_val")
    pairs = (
        chunks.alias("a").join(chunks.alias("b"), ["chunk_idx", "chunk_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _hamming_filter(pairs, max_distance)


class TestDedup:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        docs = spark.createDataFrame(
            [(f"d{i}", " ".join(f"tok{i}w{j}" for j in range(60))) for i in range(30)]
            + [("d0_copy", " ".join(f"tok0w{j}" for j in range(60)))]       # exact dup of d0
            + [("d1_near", " ".join(f"tok1w{j}" for j in range(55)))],      # near dup of d1
            "doc_id string, text string",
        )
        return docs

    def test_exact_groups(self, spark, corpus):
        groups = exact_duplicate_groups(corpus).collect()
        assert len(groups) == 1
        assert groups[0]["doc_ids"] == ["d0", "d0_copy"]

    def test_minhash_finds_near_dup(self, spark, corpus):
        pairs = {(r["doc_a"], r["doc_b"])
                 for r in minhash_lsh_candidates(corpus).collect()}
        assert ("d0", "d0_copy") in pairs
        assert ("d1", "d1_near") in pairs

    def test_ngram_jaccard_values(self, spark, corpus):
        rows = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()}
        assert rows[("d0", "d0_copy")] == 1.0
        assert 0.8 <= rows[("d1", "d1_near")] < 1.0

    def test_simhash_exact_dup_distance_zero(self, spark, corpus):
        rows = {(r["doc_a"], r["doc_b"]): r["hamming"]
                for r in simhash_hamming_pairs(corpus, max_distance=10).collect()}
        assert rows[("d0", "d0_copy")] == 0

    def test_simhash_manku_matches_chunked_blocking(self, spark, sf_dir):
        # Both blockings are recall-EXACT for d<=3 (pigeonhole), so on
        # any corpus the verified outputs must be identical — this pins
        # the Manku 3-of-6-block keys (round-2 verdict #2) against the
        # old 4x16-bit chunk form on real sf text.
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ).limit(400)
        new = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in simhash_hamming_pairs(docs, max_distance=3).collect()}
        old = {(r["doc_a"], r["doc_b"], r["hamming"])
               for r in _simhash_hamming_pairs_chunked(
                   docs, max_distance=3).collect()}
        assert new == old

    def test_simhash_manku_plan_is_equi_join_only(self, spark, corpus):
        plan = simhash_hamming_pairs(corpus, max_distance=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ngram_candidate_pairs_orientation_canonicalized(self, spark, corpus):
        # a caller-supplied (b, a) pair must score the same as (a, b) —
        # least/greatest canonicalization before the semi-join
        fwd = spark.createDataFrame([("d0", "d0_copy")], "doc_a string, doc_b string")
        rev = spark.createDataFrame([("d0_copy", "d0")], "doc_a string, doc_b string")
        score_fwd = ngram_jaccard_pairs(
            corpus, threshold=0.3, candidate_pairs=fwd).collect()
        score_rev = ngram_jaccard_pairs(
            corpus, threshold=0.3, candidate_pairs=rev).collect()
        assert [tuple(r) for r in score_fwd] == [tuple(r) for r in score_rev]
        assert score_fwd[0]["doc_a"] == "d0"


    def test_lsh_bucket_sizes_are_near_uniform(self, spark, sf_dir):
        # the no-salting claim for the band-bucket join (module
        # docstring) — measured: on real corpus text no (band, bucket)
        # key may dominate. Exact-dup texts share a signature and hence
        # a bucket by design, so they're collapsed first — the bound is
        # per distinct text, matching the claim's scope.
        from n8n_tools_api_spark.operators.dedup import minhash_banded

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ).dropDuplicates(["text"])
        sizes = (
            minhash_banded(docs)
            .groupBy("band", "bucket").count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"))
            .collect()[0]
        )
        # exact-dup documents legitimately collide; anything beyond a
        # small constant multiple of the mean would mean skew the join
        # needs salting for
        assert sizes["mx"] <= max(8.0, 8 * sizes["avg"]), sizes

    def test_minhash_banded_plan_is_narrow(self, spark, corpus):
        # signatures fold per-row (zip_with against the literal perm
        # params), so shingle→signature→banding is ONE narrow map — the
        # LSH bucket join is the only exchange in the dedup path
        from n8n_tools_api_spark.operators.dedup import minhash_banded

        plan = minhash_banded(corpus) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_ngram_no_window_exchange_no_driver_count(self, spark, corpus,
                                                      monkeypatch):
        # round-1 verdict: the df-cap must not be a Window over every
        # (doc, shingle) row, and the cap must come from an in-plan agg;
        # the shingle cut would hide the df-cap behind a LogicalRDD
        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        monkeypatch.setattr(RoundMaterializer, "__call__",
                            lambda self, df, tag: df)
        plan = ngram_jaccard_pairs(corpus, threshold=0.3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_ngram_candidate_mode_scores_only_candidates(self, spark, corpus):
        full = {(r["doc_a"], r["doc_b"]): (r["n_shared"], r["jaccard"])
                for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()}
        cands = minhash_lsh_candidates(corpus).select("doc_a", "doc_b")
        cand_set = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
        scored = {(r["doc_a"], r["doc_b"]): (r["n_shared"], r["jaccard"])
                  for r in ngram_jaccard_pairs(
                      corpus, threshold=0.3, candidate_pairs=cands).collect()}
        # candidate mode = full mode restricted to the candidate set,
        # with identical shared-counts and jaccard values
        assert scored == {p: v for p, v in full.items() if p in cand_set}
        # and LSH recall covers the planted dups, so they survive scoring
        assert ("d0", "d0_copy") in scored and ("d1", "d1_near") in scored


class TestEmbeddingLsh:
    def test_buckets_match_numpy_replay(self, spark):
        import math
        import random

        from n8n_tools_api_spark.operators.dedup import (
            EMBEDDING_LSH_PLANES, _hyperplanes, embedding_lsh_signatures)

        dim = 16
        rng = random.Random(3)
        vecs = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)]
        emb = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
        got = {r["vec_id"]: r["lsh_bucket"]
               for r in embedding_lsh_signatures(emb, dim=dim).collect()}
        planes = _hyperplanes(EMBEDDING_LSH_PLANES, dim)
        for vid, v in vecs:
            expected = 0
            for i, plane in enumerate(planes):
                dot = math.fsum(x * p for x, p in zip(v, plane))
                if dot >= 0:
                    expected |= 1 << i
            assert got[vid] == expected, f"vec {vid}"

    def test_dim_1024_plan_stays_small(self, spark):
        import random

        from n8n_tools_api_spark.operators.dedup import embedding_lsh_signatures

        dim = 1024
        rng = random.Random(11)
        emb = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(8)],
            "vec_id int, embedding array<double>",
        )
        sig = embedding_lsh_signatures(emb, dim=dim)
        rows = sig.collect()
        assert len(rows) == 8 and all(r["lsh_bucket"] is not None for r in rows)
        # Mistral-sized vectors: the plan must carry ONE flattened
        # literal, not 12k per-dimension Literal expressions
        plan = sig._jdf.queryExecution().analyzed().toString()
        assert len(plan) < 200_000


class TestNearDupComponents:
    def test_transitive_closure(self, spark):
        from n8n_tools_api_spark.operators.dedup import (
            duplicate_clusters, near_dup_components)

        # chain a~b~c plus separate pair x~y: components must collapse
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("m", "n"), ("n", "o"),
             ("o", "p")],
            "doc_a string, doc_b string",
        )
        comp = {r["doc_id"]: r["component"]
                for r in near_dup_components(pairs).collect()}
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["x"] == comp["y"] == "x"
        assert comp["m"] == comp["n"] == comp["o"] == comp["p"] == "m"
        clusters = {r["component"]: r["doc_ids"]
                    for r in duplicate_clusters(pairs).collect()}
        assert clusters["a"] == ["a", "b", "c"]
        assert clusters["m"] == ["m", "n", "o", "p"]

    def test_driver_fast_path_matches_distributed_loop(self, spark):
        """The size-gated driver union-find (small_graph_max_edges) must
        agree exactly with the distributed min-label loop — same
        components, same canonical (minimum) labels — for both string
        and bigint id types, including multi-round chain closures."""
        from n8n_tools_api_spark.operators.dedup import near_dup_components

        chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(24)]
        pairs = spark.createDataFrame(
            chain + [("x", "y"), ("b9", "a1"), ("a1", "z9")],
            "doc_a string, doc_b string")
        fast = {r["doc_id"]: r["component"]
                for r in near_dup_components(pairs).collect()}
        loop = {r["doc_id"]: r["component"]
                for r in near_dup_components(
                    pairs, small_graph_max_edges=0).collect()}
        assert fast == loop
        ints = spark.createDataFrame(
            [(10, 3), (3, 7), (100, 200), (5, 3)],
            "doc_a bigint, doc_b bigint")
        fast_i = {r["doc_id"]: r["component"]
                  for r in near_dup_components(ints).collect()}
        loop_i = {r["doc_id"]: r["component"]
                  for r in near_dup_components(
                      ints, small_graph_max_edges=0).collect()}
        assert fast_i == loop_i
        assert fast_i[10] == fast_i[7] == fast_i[5] == 3

    def test_reliable_checkpoint_path_matches_local(self, spark,
                                                    reliable_cuts):
        """round-3 verdict #2: the parquet-round-trip mode must give
        byte-identical components, clean up superseded rounds, and
        leave the returned frame readable after the loop."""
        import os

        from n8n_tools_api_spark.operators.dedup import near_dup_components

        # 25-doc drifting chain: multiple pointer-jump rounds, so the
        # loop actually exercises round-file rotation + release
        chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(24)]
        pairs = spark.createDataFrame(
            chain + [("x", "y")], "doc_a string, doc_b string")
        local = {r["doc_id"]: r["component"]
                 for r in near_dup_components(pairs).collect()}
        # small_graph_max_edges=0 forces the distributed loop — this
        # test exercises the reliable round-file rotation, which the
        # size-gated driver fast path would skip entirely
        with reliable_cuts() as ck:
            reliable_df = near_dup_components(pairs,
                                              small_graph_max_edges=0)
            reliable = {r["doc_id"]: r["component"]
                        for r in reliable_df.collect()}
        assert reliable == local
        assert all(v == "c00" for k, v in reliable.items()
                   if k.startswith("c"))
        # superseded label rounds are deleted as the loop advances;
        # edges + the final round's labels are what survives, inside
        # <getCheckpointDir()>/<namespace>/
        ns_dirs = os.listdir(ck)
        assert len(ns_dirs) == 1, ns_dirs
        entries = set(os.listdir(os.path.join(ck, ns_dirs[0])))
        assert "edges" in entries
        label_rounds = {e for e in entries if e.startswith("labels_")}
        assert 1 <= len(label_rounds) <= 2, entries
        # the returned frame stays readable (its files were not released)
        assert reliable_df.count() == len(local)

    def test_materializer_runs_sharing_a_dir_do_not_clobber(
            self, spark, reliable_cuts):
        """Two invocations sharing one checkpoint dir
        (periodic reruns) used the same fixed tags with overwrite —
        run k+1's eager write deleted files run k's lazily-returned
        frame still referenced. Namespaced runs must coexist."""
        from pyspark.sql import functions as F

        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        df = spark.range(5).toDF("id")
        with reliable_cuts():
            m1 = RoundMaterializer()
            a = m1(df, "t")  # lazy consumer: collect AFTER the second run
            m2 = RoundMaterializer()
            m2(df.withColumn("id", F.col("id") + 100), "t")
            assert sorted(r["id"] for r in a.collect()) == list(range(5))
        assert m1.namespace != m2.namespace

    def test_lazy_cut_computes_upstream_once_per_consumer_set(self, spark):
        """The one cut rule (operators/materialize.py) rests on this: a
        lazy cut persists its RDD, so two consumers inside ONE job — a
        union of two filters, a self-join — compute each upstream row
        once, exactly like an eager cut would."""
        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        sc = spark.sparkContext
        n = 2000
        src = spark.range(0, n, 1, 4).select(
            "id", (F.col("id") % 7).alias("g"))

        def counted():
            seen = sc.accumulator(0)

            def body(batches):
                for b in batches:
                    seen.add(len(b))
                    yield b

            return seen, src.mapInPandas(body, schema=src.schema)

        seen, up = counted()
        cut = RoundMaterializer()(up, "probe_union")
        both = cut.where(F.col("g") < 3) \
            .unionByName(cut.where(F.col("g") >= 3))
        assert both.count() == n
        assert seen.value == n
        assert cut.alias("a").join(cut.alias("b"), "id").count() == n
        assert seen.value == n
        # a self-join as the FIRST consumer: both sides in one job
        seen, up = counted()
        cut = RoundMaterializer()(up, "probe_join")
        assert cut.alias("a").join(cut.alias("b"), "id").count() == n
        assert seen.value == n

    def test_lazy_cut_over_exchange_free_input_starts_no_job(self, spark):
        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        src = spark.range(0, 100, 1, 2).select((F.col("id") * 3).alias("x"))
        try:
            sc.setJobGroup("lazy_cut_build", "lazy_cut_build")
            cut = RoundMaterializer()(src, "no_job")
            sc.setJobGroup("eager_cut_build", "eager_cut_build")
            src.localCheckpoint(eager=True)  # control: the group is seen
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(tracker.getJobIdsForGroup("lazy_cut_build")) == []
        assert len(tracker.getJobIdsForGroup("eager_cut_build")) >= 1
        assert cut.count() == 100

    def test_cleared_checkpoint_dir_makes_cuts_local_again(
            self, spark, reliable_cuts, tmp_path):
        # the cut location is read per cut, not remembered: once Spark's
        # checkpoint dir is cleared, a cut is a lazy local cut again
        import os

        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        def files():
            return sorted(os.path.join(d, f)
                          for d, _, fs in os.walk(tmp_path) for f in fs)

        sc = spark.sparkContext
        tracker = sc.statusTracker()
        src = spark.range(0, 100, 1, 2).select((F.col("id") * 3).alias("x"))
        mat = RoundMaterializer()
        with reliable_cuts():
            assert mat(src, "reliable").count() == 100
        written = files()
        assert written  # the reliable leg wrote its parquet round
        try:
            sc.setJobGroup("cleared_cut_build", "cleared_cut_build")
            cut = mat(src, "local")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(tracker.getJobIdsForGroup("cleared_cut_build")) == []
        assert cut.count() == 100
        assert files() == written

    def test_every_lineage_cut_goes_through_round_materializer(self):
        # one cut rule, one home: no caller checkpoints or picks eager
        import pathlib

        pkg = pathlib.Path(__file__).resolve().parents[1] \
            / "n8n_tools_api_spark"
        touching = sorted(
            str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
            if any(s in p.read_text()
                   for s in ("localCheckpoint(", ".checkpoint(", "eager=")))
        assert touching == ["operators/materialize.py"]

    def test_cut_location_is_one_spark_setting(self):
        # where a cut lives is Spark's checkpoint dir, read by
        # operators/materialize.py alone; only the Structured Streaming
        # sinks take checkpoint_dir, their checkpointLocation
        import ast
        import inspect
        import pathlib

        from n8n_tools_api_spark.operators import curation
        from n8n_tools_api_spark.operators.materialize import (
            RoundMaterializer)

        pkg = pathlib.Path(__file__).resolve().parents[1] \
            / "n8n_tools_api_spark"
        takes, reads = set(), set()
        for p in pkg.rglob("*.py"):
            for node in ast.walk(ast.parse(p.read_text())):
                if isinstance(node, (ast.FunctionDef,
                                     ast.AsyncFunctionDef)):
                    a = node.args
                    if "checkpoint_dir" in {
                            x.arg for x in a.posonlyargs + a.args
                            + a.kwonlyargs}:
                        takes.add(node.name)
                elif isinstance(node, ast.Attribute) and node.attr in (
                        "getCheckpointDir", "setCheckpointDir"):
                    reads.add(str(p.relative_to(pkg)))
        assert takes == {"windowed_event_counts_stream", "sessionize_stream",
                         "incremental_extract"}
        assert reads == {"operators/materialize.py"}
        assert not inspect.signature(RoundMaterializer).parameters
        # the chains' oracle-replayed settings are module constants
        for chain in (curation.curation_keep_list,
                      curation.curation_with_quality,
                      curation.c4_curation_keep_list,
                      curation.classifier_curation_keep_list,
                      curation.web_curation_keep_list):
            assert not {"threshold", "k", "n_gram", "sample_seed",
                        "threshold_q16"} & set(
                inspect.signature(chain).parameters), chain.__name__

    def test_column_names_are_a_contract(self):
        # every settable value is pinned: a defaulted parameter on a
        # public module-level function stays only where some caller
        # sets a different value, and a defaulted column parameter only
        # where callers pass different names (the schema is read by
        # name); a new default shows up as a diff here
        import ast
        import importlib
        import inspect
        import pathlib

        from n8n_tools_api_spark.operators import curation, dedup
        from n8n_tools_api_spark.operators.textstats import dataset_card

        pinned = {
            "functions/text.py": {
                "words": {"lower"},
                "explode_grams": {"keep", "lower", "name"},
            },
            "operators/curation.py": {
                "curation_keep_list": {"use_lsh"},
                "curation_with_quality": {"use_lsh"},
                "per_host_cap": {"quality_col", "salt_buckets", "host_col"},
                "web_curation_keep_list": {
                    "host_cap", "sample_rate", "use_lsh"},
                "web_dedup_keep_list": {"min_doc_freq"},
            },
            "operators/decontaminate.py": {
                "benchmark_grams": {"n"},
                "ngram_decontaminate": {"n", "broadcast_hits"},
            },
            "operators/dedup.py": {
                "shingle_hash_array": {"keep_cols"},
                "minhash_signatures": {"keep_cols"},
                "minhash_banded": {"keep_cols"},
                "ngram_jaccard_pairs": {"threshold", "candidate_pairs"},
                "simhash_hamming_pairs": {"max_distance"},
                "near_dup_components": {"small_graph_max_edges"},
                "exact_substr_dedup": {"window"},
                "line_dedup": {"min_doc_freq"},
            },
            "operators/dsir.py": {
                "hashed_gram_buckets": {"bucket_hexlen"},
                "dsir_importance": {
                    "target", "target_filter", "bucket_hexlen"},
            },
            "operators/extract.py": {
                "salted_repartition": {"partition_cols"},
            },
            "operators/lineage.py": {
                "resumable_extract": {
                    "n_buckets", "group_size", "fail_after_groups"},
            },
            "operators/linkgraph.py": {
                "host_link_stats": {"iterations"},
            },
            "operators/lm_ppx.py": {
                "token_buckets": {"bucket_hexlen"},
                "lm_perplexity": {"bucket_hexlen", "group_col"},
            },
            "operators/packing.py": {
                "token_pack": {"count_col", "shard_col"},
                "shard_manifest": {"seed", "mode"},
                "write_training_shards": {"fmt"},
            },
            "operators/qualityclf.py": {
                "nb_quality_weights": {"bucket_hexlen"},
                "quality_classifier_scores": {
                    "threshold_q16", "bucket_hexlen"},
            },
            "operators/sampling.py": {
                "stratified_sample": {"seed", "default_rate"},
                "mixture_report": {"default_rate"},
            },
            "operators/similarity.py": {
                "ivf_assign": {"nlist"},
                "kmeans_refine": {"nlist", "iters"},
                "ann_recall_at_k": {"n_queries", "nlist", "nprobes"},
                "semdedup_keep_list": {"threshold", "nlist", "iters"},
            },
            "refsem/images.py": {
                "media_ref_for": {"prefix"},
                "classify_image_span": {"annotation"},
            },
            "refsem/pdfops.py": {
                "batch_windows": {"original_filename"},
                "sanitize_filename": {"fallback"},
            },
            "refsem/pdfparse.py": {
                "build_pdf": {"title", "author", "compress"},
            },
            "refsem/pipeline.py": {
                "extract_document": {"media_prefix", "image_limit"},
            },
            "session.py": {
                "get_spark": {
                    "app_name", "master", "shuffle_partitions", "extra"},
            },
            "sources/synthetic.py": {
                "generate_documents_interleaved": {"seed"},
                "generate_bench_doc": {"seed"},
                "interleaved_df": {"seed", "partitions"},
                "bench_corpus": {"seed", "partitions", "cache_dir"},
            },
            "sources/tables.py": {
                "read_sf_table": {"below"},
                "write_bucketed": {"n_buckets"},
            },
            "streaming/curation_stream.py": {
                "curation_stream": {"watermark"},
            },
            "streaming/dedup_stream.py": {
                "dedup_stream": {"watermark"},
                "url_dedup_stream": {"watermark"},
            },
            "streaming/neardup_stream.py": {
                "neardup_prefilter_stream": {
                    "watermark", "assume_watermarked"},
            },
            "streaming/windowed.py": {
                "windowed_event_counts_stream": {"watermark"},
            },
        }
        # values no caller set to anything but their default: module
        # constants or inlined literals now
        removed = {
            "operators/bpe.py": {"bpe_learn": {"min_count"}},
            "operators/curation.py": {
                "classifier_curation_keep_list": {"use_lsh"},
                "c4_curation_keep_list": {"use_lsh"},
            },
            "operators/dedup.py": {
                "shingle_hash_array": {"k"},
                "minhash_signatures": {"num_hashes", "k"},
                "minhash_banded": {"num_hashes", "bands", "k"},
                "minhash_lsh_candidates": {"num_hashes", "bands", "k"},
                "ngram_jaccard_pairs": {"k"},
                "embedding_lsh_signatures": {"seed", "n_planes"},
                "embedding_near_dups": {"threshold", "n_planes"},
                "near_dup_components": {"max_iters"},
            },
            "operators/dsir.py": {"dsir_importance": {"scale"}},
            "operators/extract.py": {
                "salted_repartition": {"heavy_threshold", "salt_buckets"},
            },
            "operators/linkgraph.py": {"host_link_stats": {"scale"}},
            "operators/lm_ppx.py": {
                "ccnet_keep_list": {
                    "train_seed", "train_rate", "tail_seed", "tail_rate"},
            },
            "operators/media.py": {"distinct_media_blobs": {"prefix"}},
            "operators/multimodal.py": {
                "resize_plan": {"max_width", "max_height"},
                "sample_frames": {"fps", "max_frames", "bytes_per_second"},
            },
            "operators/packing.py": {
                "write_training_shards": {"seed", "mode"},
            },
            "operators/sampling.py": {"mixture_report": {"seed"}},
            "operators/similarity.py": {
                "brute_force_topk": {"k"},
                "ann_recall_at_k": {"k"},
                "ivf_topk": {"k", "nlist", "nprobe"},
            },
            "operators/textstats.py": {
                "dataset_card": {"short_doc_tokens"},
            },
            "refsem/images.py": {"validate_base64_image": {"min_bytes"}},
            "session.py": {"get_spark": {"arrow_batch_rows"}},
            "streaming/curation_stream.py": {
                "curation_stream": {"num_hashes", "bands", "k"},
                "curation_stream_batch_twin": {"num_hashes", "bands", "k"},
            },
            "streaming/incremental.py": {
                "incremental_extract": {"max_files_per_trigger"},
            },
            "streaming/neardup_stream.py": {
                "neardup_prefilter_stream": {"num_hashes", "bands", "k"},
                "neardup_prefilter_batch_twin": {
                    "num_hashes", "bands", "k"},
            },
            "streaming/stateful.py": {"sessionize_batch": {"gap_minutes"}},
            "streaming/windowed.py": {
                "windowed_event_counts_batch": {"window_minutes"},
                "windowed_event_counts_stream": {"window_minutes"},
            },
        }

        def triples(spec):
            return {(m, f, a) for m, fns in spec.items()
                    for f, args in fns.items() for a in args}

        def defaulted(fn):
            a = fn.args
            pos = a.posonlyargs + a.args
            return pos[len(pos) - len(a.defaults):] + [
                k for k, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None]

        pkg = pathlib.Path(__file__).resolve().parents[1] \
            / "n8n_tools_api_spark"
        public, columns, shape_consts = set(), set(), set()
        for p in pkg.rglob("*.py"):
            mod = str(p.relative_to(pkg))
            tree = ast.parse(p.read_text())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                        and not node.name.startswith("_"):
                    public |= {(mod, node.name, k.arg)
                               for k in defaulted(node)}
                elif isinstance(node, ast.Assign):
                    shape_consts |= {
                        (mod, t.id) for t in node.targets
                        if isinstance(t, ast.Name)
                        and ("SHINGLE" in t.id or "MINHASH" in t.id
                             or t.id.startswith("NEAR_DUP_K"))}
            for fn in ast.walk(tree):
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    columns |= {(mod, fn.name, k.arg)
                                for k in defaulted(fn)
                                if k.arg.endswith(("_col", "_cols"))}
        assert public == triples(pinned)
        assert len(public) == 85
        assert columns == {
            ("operators/lm_ppx.py", "lm_perplexity", "group_col"),
            ("operators/curation.py", "per_host_cap", "quality_col"),
            ("operators/curation.py", "per_host_cap", "host_col"),
            ("operators/packing.py", "token_pack", "count_col"),
            ("operators/packing.py", "token_pack", "shard_col"),
            ("operators/dedup.py", "shingle_hash_array", "keep_cols"),
            ("operators/dedup.py", "minhash_signatures", "keep_cols"),
            ("operators/dedup.py", "minhash_banded", "keep_cols"),
            ("operators/extract.py", "salted_repartition", "partition_cols"),
        }
        assert columns <= public
        assert "dims" not in inspect.signature(dataset_card).parameters
        assert len(triples(removed)) == 59
        for mod, fn, arg in triples(removed):
            m = importlib.import_module(
                "n8n_tools_api_spark." + mod[:-3].replace("/", "."))
            assert arg not in inspect.signature(
                getattr(m, fn)).parameters, (mod, fn, arg)
        # one near-dup configuration: the shingle size and MinHash
        # shape live in dedup alone
        assert shape_consts == {
            ("operators/dedup.py", "SHINGLE_K"),
            ("operators/dedup.py", "MINHASH_NUM_HASHES"),
            ("operators/dedup.py", "MINHASH_BANDS"),
        }
        assert (dedup.SHINGLE_K, dedup.MINHASH_NUM_HASHES,
                dedup.MINHASH_BANDS) == (5, 64, 16)
        assert not hasattr(curation, "NEAR_DUP_K")

    def test_end_to_end_with_minhash(self, spark):
        from n8n_tools_api_spark.operators.dedup import duplicate_clusters

        docs = spark.createDataFrame(
            [("d1", " ".join(f"w{j}" for j in range(60))),
             ("d1_c1", " ".join(f"w{j}" for j in range(60))),
             ("d1_c2", " ".join(f"w{j}" for j in range(58))),
             ("solo", " ".join(f"z{j}" for j in range(60)))],
            "doc_id string, text string",
        )
        pairs = minhash_lsh_candidates(docs).select("doc_a", "doc_b")
        clusters = duplicate_clusters(pairs).collect()
        assert len(clusters) == 1
        assert clusters[0]["doc_ids"] == ["d1", "d1_c1", "d1_c2"]


class TestKMeansRefine:
    def test_refined_centroids_improve_or_hold_quality(self, spark, sf_dir):
        from n8n_tools_api_spark.operators.similarity import (
            cosine_similarity_col, ivf_assign, kmeans_refine)
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        def mean_best_sim(centroids):
            scored = emb.crossJoin(F.broadcast(centroids)).withColumn(
                "s", cosine_similarity_col(F.col("embedding"), F.col("centroid")))
            best = scored.groupBy("vec_id").agg(F.max("s").alias("best"))
            return best.agg(F.avg("best")).collect()[0][0]

        seed_centroids, _ = ivf_assign(emb, nlist=8)
        refined = kmeans_refine(emb, nlist=8, iters=2)
        assert refined.count() <= 8
        assert len(refined.first()["centroid"]) == 64
        # Lloyd iterations must not degrade mean best-assignment quality
        assert mean_best_sim(refined) >= mean_best_sim(seed_centroids) - 1e-9


    def test_kmeans_reliable_checkpoint_matches_local(self, spark, sf_dir,
                                                      reliable_cuts):
        from n8n_tools_api_spark.operators.similarity import kmeans_refine

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(64)
        local = {r["cluster_id"]: r["centroid"]
                 for r in kmeans_refine(emb, nlist=4, iters=2).collect()}
        with reliable_cuts():
            reliable = {r["cluster_id"]: r["centroid"]
                        for r in kmeans_refine(
                            emb, nlist=4, iters=2).collect()}
        assert reliable == local


class TestSimilarity:
    def test_ivf_recall_vs_brute_force(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        exact = [r["vec_id"] for r in brute_force_topk(emb, 0).collect()]
        approx = [r["vec_id"] for r in ivf_topk(emb, 0).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.5, f"IVF recall {recall} too low (exact={exact}, approx={approx})"

    def test_brute_force_is_sorted_and_bounded(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = brute_force_topk(emb, 0).collect()
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in sims)
        assert all(r["vec_id"] != 0 for r in rows)

    def test_ann_recall_evidence_floor_and_monotonicity(self, spark, sf_dir):
        # round-2 verdict #6: recall@10 floor pinned at (nlist=16,
        # nprobe=4); nprobe=nlist scans everything → exactly 1.0; more
        # probes never lose recall
        from n8n_tools_api_spark.operators.similarity import ann_recall_at_k

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = {r["nprobe"]: r["recall_at_k"]
                for r in ann_recall_at_k(emb, n_queries=8, nlist=16,
                                         nprobes=(1, 4, 16)).collect()}
        assert rows[4] >= 0.9, rows
        assert rows[16] == 1.0, rows
        assert rows[1] <= rows[4] <= rows[16], rows

    def test_ann_recall_denominator_on_tiny_corpus(self, spark):
        # review finding: with fewer than k+1 vectors the brute top-k
        # has <k rows per query; recall must divide by the actual brute
        # pair count so nprobe==nlist is still exactly 1.0
        from n8n_tools_api_spark.operators.similarity import ann_recall_at_k

        rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(8)])
                for i in range(5)]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>")
        got = {r["nprobe"]: r["recall_at_k"]
               for r in ann_recall_at_k(emb, n_queries=2, nlist=4,
                                        nprobes=(4,)).collect()}
        assert got[4] == 1.0, got


class TestSemDeDup:
    """SemDeDup keep-list (operators/similarity.py:semdedup_keep_list)."""

    def _run(self, spark, rows, **kw):
        from n8n_tools_api_spark.operators.similarity import semdedup_keep_list

        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>")
        return {r["vec_id"]: r for r in semdedup_keep_list(emb, **kw).collect()}

    def test_chain_groups_and_diversity_keep_rule(self, spark):
        # a~b (0.96) and b~c (0.986) chain into one group even though
        # a~c (0.90) is below the 0.93 threshold; the kept member is
        # the one FARTHEST from the cluster centroid — a, the extreme
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),        # a
            (2, [0.96, 0.28, 0.0, 0.0]),      # b
            (3, [0.90, 0.436, 0.0, 0.0]),     # c
            (4, [0.0, 0.0, 1.0, 0.0]),        # unrelated, orthogonal
            (5, [0.0, 0.0, 0.0, 1.0]),        # unrelated, orthogonal
        ]
        out = self._run(spark, rows, threshold=0.93, nlist=2, iters=1)
        assert out[1]["status"] == "kept"
        assert out[2]["status"] == "dropped_semdup"
        assert out[3]["status"] == "dropped_semdup"
        assert out[2]["canonical"] == 1 and out[3]["canonical"] == 1
        assert out[4]["status"] == "kept" and out[4]["canonical"] == 4
        assert out[5]["status"] == "kept" and out[5]["canonical"] == 5

    def test_exact_duplicates_keep_exactly_one(self, spark):
        rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)]
        rows += [(10 + i, [-4.0, 3.0, -2.0, 1.0]) for i in range(3)]
        out = self._run(spark, rows, threshold=0.999, nlist=2, iters=1)
        g1 = [v for v in out.values() if v["vec_id"] < 10]
        g2 = [v for v in out.values() if v["vec_id"] >= 10]
        assert sum(v["status"] == "kept" for v in g1) == 1
        assert sum(v["status"] == "kept" for v in g2) == 1
        # everyone in a group shares the kept member as canonical
        assert len({v["canonical"] for v in g1}) == 1
        assert len({v["canonical"] for v in g2}) == 1

    def test_partition_layout_invariance(self, spark):
        from n8n_tools_api_spark.operators.similarity import semdedup_keep_list

        rows = [(i, [float(1 + (i % 7)), float(2 + (i % 3)),
                     float(i % 5), 1.0]) for i in range(60)]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>")
        a = sorted(map(tuple, semdedup_keep_list(
            emb.repartition(2), threshold=0.999, nlist=4).collect()))
        b = sorted(map(tuple, semdedup_keep_list(
            emb.repartition(9), threshold=0.999, nlist=4).collect()))
        assert a == b

    def test_threshold_validation(self, spark):
        import pytest as _pytest

        from n8n_tools_api_spark.operators.similarity import semdedup_keep_list

        emb = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id bigint, embedding array<float>")
        with _pytest.raises(ValueError):
            semdedup_keep_list(emb, threshold=0.0)
        with _pytest.raises(ValueError):
            semdedup_keep_list(emb, threshold=1.5)
