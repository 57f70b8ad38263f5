"""Composed curation pipeline — the engine's end-to-end product story.

One flow: extract → clean (F1, inside extraction) → exact content-hash
dedup (A10) → near-dup pair generation → connected components →
canonical keep-list. Per input document the output says what the
curated corpus does with it::

    (doc_id, status 'kept' | 'exact_dup' | 'near_dup', canonical)

where ``canonical`` is the surviving representative (itself for kept
docs, the first-by-id exact twin, or the component minimum).

Two near-dup strategies share everything else:

* ``use_lsh=False`` — exact n-gram Jaccard over all survivor pairs.
  Fully DuckDB-replayable, so the whole composed flow is oracle-checked
  end-to-end (plans/catalog.py ``curation_keep_list``).
* ``use_lsh=True`` — the 100-TB path: MinHash-LSH candidates
  (zero-shuffle signatures, banded bucket join) prefilter the pair
  stream, exact Jaccard then scores only candidates. Same output shape;
  recall is LSH-approximate by design (rows-only query + bench suite).

Scale notes: the only wide stages are the content-hash window (narrow
key, map-side combine), the shingle/bucket self-join, and the
components rounds; extraction and cleaning stay shuffle-free. Media
bytes never enter this flow — it runs on extracted text only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cleaned_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text): run the real extraction stage over text
    docs wrapped as one-span interleaved documents — the same
    mapInPandas path the flagship pipeline uses (extraction applies the
    F1 cleaning pass, ocr_response_formatter.py:148-173)."""
    from n8n_tools_api_spark.operators import extract_spans

    inter = docs.select(
        "doc_id",
        F.array(F.struct(
            F.lit("text").alias("kind"),
            F.col("text").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
    )
    return extract_spans(inter).select(
        "doc_id",
        # try_element_at, not element_at: a NULL/blank-text doc extracts
        # to ZERO spans and ANSI-mode element_at throws on the empty
        # array (caught by the hostile-input test) — such docs clean to
        # '' and dedup among themselves, matching the oracle's COALESCE
        F.coalesce(F.try_element_at("spans", F.lit(1)).getField("text"),
                   F.lit("")).alias("clean_text"),
    )


def curation_keep_list(docs: DataFrame, use_lsh: bool = False,
                       threshold: float = 0.5, k: int = 5,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Full curation flow over (doc_id string, text string) documents.

    Returns (doc_id, status, canonical) for EVERY input document,
    ordered by the caller. See module docstring for the two strategies.

    ``checkpoint_dir`` makes every intermediate materialization
    reliable (parquet on shared storage instead of executor-local
    blocks — operators/materialize.py): the ranked frame, the LSH
    banded frame, the capped shingle stream, and every components
    round. Default localCheckpoint is right on local[k]; on a
    1000-executor cluster a lost executor would otherwise kill the
    multi-hour run mid-loop (round-3 verdict #2).
    """
    from n8n_tools_api_spark.operators.dedup import (
        minhash_lsh_candidates,
        near_dup_components,
        ngram_jaccard_pairs,
    )
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    mat = RoundMaterializer(checkpoint_dir)
    cleaned = cleaned_documents(docs)
    w = Window.partitionBy("h").orderBy("doc_id")
    # materialize the ranked frame ONCE: the survivor branch feeds the
    # jaccard self-join (and the LSH candidate join, and every
    # components round) while the exact_dup branch is unioned back at
    # the end — without this the pandas-UDF extraction + hash window
    # would execute once per consumer (measured: a full duplicate
    # extraction pass in the suite-3 bench)
    ranked = mat(
        cleaned.withColumn("h", F.md5(F.col("clean_text").cast("binary")))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("canon_exact", F.first("doc_id").over(w)),
        "ranked",
    )
    survivors = ranked.where(F.col("rn") == 1).select(
        "doc_id", F.col("clean_text").alias("text"))
    cands = (
        minhash_lsh_candidates(survivors, checkpoint_dir=checkpoint_dir)
        .where(F.col("n_shared_bands") >= 2)
        .select("doc_a", "doc_b")
    ) if use_lsh else None
    pairs = ngram_jaccard_pairs(survivors, k=k, threshold=threshold,
                                candidate_pairs=cands,
                                checkpoint_dir=checkpoint_dir)
    comp = near_dup_components(pairs.select("doc_a", "doc_b"),
                               checkpoint_dir=checkpoint_dir)
    surv_out = (
        survivors.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id")),
                F.lit("near_dup"),
            ).otherwise(F.lit("kept")).alias("status"),
            F.coalesce("component", F.col("doc_id")).alias("canonical"),
        )
    )
    exact_out = ranked.where(F.col("rn") > 1).select(
        "doc_id",
        F.lit("exact_dup").alias("status"),
        F.col("canon_exact").alias("canonical"),
    )
    return surv_out.unionByName(exact_out)


def curation_with_quality(docs: DataFrame, use_lsh: bool = False,
                          threshold: float = 0.5, k: int = 5,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Quality-first curation: the Gopher repetition gates
    (operators/textstats.py::gopher_repetition, Rae et al. 2021 A1.1)
    run on the RAW text BEFORE the expensive extraction/dedup stages —
    the order every large-scale pipeline uses, because a rejected doc
    costs one cheap aggregate instead of the full flow. Output adds a
    fourth status::

        (doc_id, 'rejected_quality' | 'kept' | 'exact_dup' | 'near_dup',
         canonical)   -- canonical NULL for quality rejections

    Rejected docs never reach the dedup stages, so a repetitive doc
    cannot become some cleaner doc's canonical. Oracle-checked
    end-to-end (``curation_quality_keep_list`` chains the Gopher
    DuckDB replay into the curation chain replay).
    """
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer
    from n8n_tools_api_spark.operators.textstats import gopher_repetition

    mat = RoundMaterializer(checkpoint_dir)
    gates = mat(gopher_repetition(docs).select("doc_id", "gopher_keep"),
                "gates")
    # materialize the joined frame before splitting: passed and rejected
    # both consume it, and without the cut the full upstream lineage of
    # ``docs`` (often an extraction chain) would execute once per branch
    # — the same duplicate-execution pattern the ranked-frame
    # materialization in curation_keep_list prevents (advice finding)
    flagged = mat(docs.join(gates, "doc_id"), "flagged")
    mat.release("gates")  # flagged is materialized; gates files are free
    passed = flagged.where(F.col("gopher_keep")).select("doc_id", "text")
    rejected = flagged.where(~F.col("gopher_keep")).select(
        "doc_id",
        F.lit("rejected_quality").alias("status"),
        F.lit(None).cast("string").alias("canonical"),
    )
    return curation_keep_list(passed, use_lsh=use_lsh, threshold=threshold,
                              k=k, checkpoint_dir=checkpoint_dir) \
        .unionByName(rejected)


def classifier_curation_keep_list(docs: DataFrame, positive: DataFrame,
                                  negative: DataFrame, *,
                                  use_lsh: bool = False,
                                  threshold: float = 0.5, k: int = 5,
                                  threshold_q16: int = 0,
                                  checkpoint_dir: str | None = None,
                                  ) -> DataFrame:
    """Dedup-then-classify curation — the DCLM / FineWeb-Edu stage
    order: the full curation chain (extract-clean → exact dedup →
    near-dup components) runs FIRST, and the trained quality
    classifier (operators/qualityclf.py, the NB log-odds model) scores
    only the surviving canonicals as the FINAL selection stage —
    DCLM-Baseline applies its fastText filter after heuristics+dedup,
    and FineWeb-Edu scores the already-deduplicated FineWeb. Scoring
    after dedup means the expensive model pass runs once per unique
    document, not once per copy.

    ``positive`` / ``negative`` are the labeled training frames
    (text column ``text``), typically a curated reference slice vs a
    raw-crawl sample — the classifier trains in the same plan (two
    bounded-key aggregations; see qualityclf.py).

    Output: (doc_id, status, canonical, score_q16) — statuses
    ``exact_dup`` / ``near_dup`` (from the dedup chain, score NULL:
    duplicates are never scored) and ``kept`` /
    ``rejected_classifier`` (scored survivors; canonical NULL for
    rejections, like the other rejected_* statuses). A near_dup's
    canonical may itself be classifier-rejected — the public pipelines
    accept this (selection happens after clustering; the cluster
    pointer records provenance, not survival).
    """
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer
    from n8n_tools_api_spark.operators.qualityclf import (
        quality_classifier_scores)

    mat = RoundMaterializer(checkpoint_dir)
    # the curation disposition feeds the kept-branch split AND the
    # pass-through union — cut it once or the whole dedup chain
    # (components loop included) executes per consumer
    cur = mat(curation_keep_list(docs, use_lsh=use_lsh,
                                 threshold=threshold, k=k,
                                 checkpoint_dir=checkpoint_dir),
              "classifier_cur")
    kept = cur.where(F.col("status") == "kept") \
        .select("doc_id", "canonical")
    kept_docs = kept.select("doc_id").join(
        docs.select("doc_id", "text"), "doc_id")
    scored = quality_classifier_scores(
        kept_docs, positive, negative, threshold_q16=threshold_q16)
    kept_out = (
        kept.join(scored.select("doc_id", "score_q16", "decision"),
                  "doc_id")
        .select(
            "doc_id",
            F.when(F.col("decision"), F.lit("kept"))
            .otherwise(F.lit("rejected_classifier")).alias("status"),
            F.when(F.col("decision"), F.col("canonical"))
            .otherwise(F.lit(None).cast("string")).alias("canonical"),
            "score_q16",
        )
    )
    others = cur.where(F.col("status") != "kept").select(
        "doc_id", "status", "canonical",
        F.lit(None).cast("bigint").alias("score_q16"))
    return kept_out.unionByName(others)


def c4_curation_keep_list(docs: DataFrame, use_lsh: bool = False,
                          threshold: float = 0.5, k: int = 5,
                          checkpoint_dir: str | None = None) -> DataFrame:
    """C4-first curation — the full public-pipeline stage order
    (C4 / RefinedWeb: clean lines → quality-filter → dedup):

    1. the C4 cleaning rules (operators/textstats.py::c4_line_filter,
       Raffel et al. 2020 §2.2) drop boilerplate lines and reject
       lorem-ipsum / brace / fragment pages → status ``rejected_c4``
       (canonical NULL);
    2. every downstream stage consumes the C4-CLEANED text, not the raw
       page: the Gopher repetition gates (``rejected_quality``) and the
       exact + near-dup curation chain all run on ``clean_text`` — so a
       page whose only differences were dropped boilerplate lines
       dedups against its clean twin (the reason real pipelines clean
       first).

    Output: (doc_id, 'rejected_c4' | 'rejected_quality' | 'kept' |
    'exact_dup' | 'near_dup', canonical). Oracle-checked end-to-end
    (plans/catalog.py ``c4_curation_keep_list`` chains the C4 replay →
    Gopher replay → curation replay in one DuckDB query).
    """
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer
    from n8n_tools_api_spark.operators.textstats import c4_line_filter

    mat = RoundMaterializer(checkpoint_dir)
    # materialized once: the rated frame feeds both the rejected branch
    # and the downstream quality/dedup chain
    rated = mat(c4_line_filter(docs).select("doc_id", "clean_text",
                                            "c4_keep"), "c4_rated")
    rejected = rated.where(~F.col("c4_keep")).select(
        "doc_id",
        F.lit("rejected_c4").alias("status"),
        F.lit(None).cast("string").alias("canonical"),
    )
    passed = rated.where(F.col("c4_keep")).select(
        "doc_id", F.col("clean_text").alias("text"))
    return curation_with_quality(passed, use_lsh=use_lsh,
                                 threshold=threshold, k=k,
                                 checkpoint_dir=checkpoint_dir) \
        .unionByName(rejected)


HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def canonical_host(url) -> "F.Column":
    """Canonical host of a URL column, pinned (oracle-replayed):
    lowercase the whole URL, take the authority of a scheme://
    match, strip one leading ``www.`` and a trailing ``:port``;
    scheme-less / unparseable URLs (and NULLs) canonicalize to ``''``
    and participate in capping as one pseudo-host."""
    u = F.lower(F.coalesce(url, F.lit("")))
    host = F.regexp_extract(u, HOST_PATTERN, 1)
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":\d+$", "")


def per_host_cap(docs: DataFrame, cap: int, quality_col: str | None = None,
                 salt_buckets: int = 16,
                 host_col: str | None = None) -> DataFrame:
    """Cap the corpus at ``cap`` documents per canonical host, keeping
    the best — the host-balancing stage of the public web-curation
    canon (CCNet/RefinedWeb/FineWeb all bound per-domain volume so a
    handful of giant hosts can't dominate the training mix).

    Ranking within a host is a pinned total order: ``quality_col``
    DESCENDING (NULLs last) when given, then ``doc_id`` ASCENDING as
    the tiebreak; with no quality column, plain ``doc_id`` order.
    Output: the kept rows only — all input columns plus ``host`` and
    ``host_rank`` (1-based within the host's kept set).

    Scale shape — the naive formulation (one row_number window keyed
    by host) sorts EVERY row of a giant host in one task; a single
    100M-page host stalls the stage. This runs the classic two-phase
    top-k instead: a first window keyed by (host, salt) — salt =
    crc32(id) % ``salt_buckets``, deterministic — cuts each host to at
    most salt_buckets*cap rows (any global top-``cap`` row is
    necessarily in its bucket's top-``cap``, so the cut is lossless),
    then the global per-host window ranks the bounded survivors. Both
    exchanges carry slim rows; no host key ever exceeds
    salt_buckets*cap rows in the second sort.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = [F.col("_hq").desc_nulls_last(), F.col("doc_id").asc()] \
        if quality_col is not None else [F.col("doc_id").asc()]
    if host_col is not None:
        # caller already holds a canonical host (e.g. from
        # url_blocklist_filter) — grouping by it verbatim avoids the
        # double-canonicalization trap (a second pass would strip a
        # second 'www.' / ':port' and merge distinct hosts)
        with_host = docs.withColumn("host", F.col(host_col))
    else:
        with_host = docs.withColumn("host", canonical_host(F.col("url")))
    if quality_col is not None:
        with_host = with_host.withColumn("_hq", F.col(quality_col))
    else:
        with_host = with_host.withColumn("_hq", F.lit(None))
    with_host = with_host.withColumn(
        "_salt", F.crc32(F.col("doc_id").cast("string")) % salt_buckets)
    local_w = Window.partitionBy("host", "_salt").orderBy(*order)
    pre = with_host.withColumn("_lr", F.row_number().over(local_w)) \
        .where(F.col("_lr") <= cap)
    global_w = Window.partitionBy("host").orderBy(*order)
    return (
        pre.withColumn("host_rank", F.row_number().over(global_w))
        .where(F.col("host_rank") <= cap)
        .drop("_lr", "_salt", "_hq")
    )


def url_blocklist_filter(docs: DataFrame, blocked_domains: DataFrame,
                         blocked_terms: list[str]) -> DataFrame:
    """URL-level corpus filtering — the first gate of the public
    web-curation canon (C4, Raffel et al. 2020 §2.2 drops pages whose
    URL hits a word blocklist; RefinedWeb, Penedo et al. 2023 §3.1
    filters by a curated domain blocklist plus URL term scoring;
    FineWeb keeps the same two-tier shape).

    Pinned semantics (replayed by the ``url_blocklist`` oracle):

    * ``host`` is :func:`canonical_host` of the URL (lowercase,
      authority, one leading ``www.`` stripped, trailing ``:port``
      stripped; unparseable/NULL → ``''``);
    * a document is ``blocked_domain`` when the host OR any of its
      dot-suffixes (``a.b.c`` → ``a.b.c``, ``b.c``, ``c``) appears in
      ``blocked_domains`` — subdomains of a blocked domain are blocked,
      exactly like a registrable-domain denylist;
    * otherwise ``blocked_term`` when the lowercased raw URL contains
      any entry of ``blocked_terms`` as a substring;
    * otherwise ``kept``. ``matched`` reports the lexicographically
      smallest matching domain (or term) so ties are deterministic.

    Scale shape: ``blocked_terms`` is a small curated list (hundreds)
    and is evaluated PER ROW as a literal-array ``exists`` — zero
    shuffle, rides the scan. ``blocked_domains`` can be millions of
    entries (UT1-class lists), so it is a broadcast hash join against
    the exploded suffix frame (≤ #labels ≈ 5 slim rows per doc); the
    single exchange is the doc-keyed map-side-combined rollup of those
    slim (id, url, host, suffix-match) rows — no fat column ever moves,
    and the output itself is a slim disposition frame.
    """
    u = F.lower(F.coalesce(F.col("url"), F.lit("")))
    terms = sorted(set(blocked_terms))
    if terms:
        term_hits = F.sort_array(F.filter(
            F.array(*[F.lit(t) for t in terms]),
            lambda t: F.contains(u, t),
        ))
        matched_term = F.when(F.size(term_hits) > 0, term_hits[0])
    else:
        matched_term = F.lit(None).cast("string")
    base = docs.select(
        "doc_id", "url",
        canonical_host(F.col("url")).alias("host"),
        matched_term.alias("_term"),
    )
    parts = F.split(F.col("host"), r"\.")
    suffixes = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(parts)),
            lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
        ),
        lambda s: s != "",
    )
    exploded = base.select(
        "doc_id", "url", "host", "_term",
        F.explode_outer(suffixes).alias("_suffix"),
    )
    joined = exploded.join(
        F.broadcast(blocked_domains.select(
            F.col("domain").alias("_suffix")).distinct()
         .withColumn("_dhit", F.lit(1))),
        "_suffix", "left",
    )
    rolled = (
        joined.groupBy("doc_id", "url", "host", "_term")
        .agg(F.min(F.when(F.col("_dhit") == 1, F.col("_suffix")))
             .alias("_domain"))
    )
    status = (
        F.when(F.col("_domain").isNotNull(), F.lit("blocked_domain"))
        .when(F.col("_term").isNotNull(), F.lit("blocked_term"))
        .otherwise(F.lit("kept"))
    )
    return rolled.select(
        "doc_id", "url", "host",
        status.alias("status"),
        F.coalesce(F.col("_domain"), F.col("_term")).alias("matched"),
    )


def web_curation_keep_list(docs: DataFrame, blocked_domains: DataFrame,
                           blocked_terms: list[str], bench: DataFrame,
                           host_cap: int = 1000, sample_rate: float = 1.0,
                           sample_seed: int = 42, use_lsh: bool = False,
                           threshold: float = 0.5, k: int = 5,
                           n_gram: int = 13,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """The COMPLETE public web-curation pipeline in canon stage order —
    what C4/RefinedWeb/FineWeb actually run end-to-end, one disposition
    per input page::

        (doc_id, status, canonical)

    1. URL gate (:func:`url_blocklist_filter`) — cheapest first, before
       any text is touched → ``rejected_url``;
    2. C4 line cleaning + page gate on survivors → ``rejected_c4``;
       every later stage consumes the C4-CLEANED text;
    3. Gopher repetition gate → ``rejected_quality``;
    4. exact + near dedup (the oracle-checked curation chain) →
       ``exact_dup`` / ``near_dup`` with their canonicals;
    5. per-host cap (:func:`per_host_cap`, rank = doc_id ascending) on
       the kept canonicals → ``rejected_host_cap``;
    6. benchmark decontamination
       (:func:`~n8n_tools_api_spark.operators.decontaminate.ngram_decontaminate`
       on the cleaned text, paper constant n=13) → ``contaminated``;
    7. deterministic mixture downsampling (md5-prefix keys from
       operators/sampling.py) → ``sampled_out`` vs final ``kept``
       (canonical = the doc itself).

    Oracle-checked end-to-end: plans/catalog.py ``web_curation_keep_list``
    chains the URL replay → C4 replay → Gopher replay → curation replay
    → host-cap window → decontamination grams → md5 sampling in ONE
    DuckDB query.

    Scale shape: stage order IS the scale argument — each gate runs on
    the cheapest possible frame (URL gate on slim (id, url) rows before
    any text stage; quality gates per-row on text; dedup on hashes and
    shingles; cap/decontam/sampling on slim survivor frames). Fat text
    crosses a join only where a stage genuinely needs it (C4 input,
    decontam input), always keyed by doc_id with a slim other side —
    broadcast when it fits, AQE otherwise. Every multiply-consumed
    frame is cut via RoundMaterializer so no upstream stage executes
    twice; ``checkpoint_dir`` upgrades all of them to cluster-reliable
    parquet rounds.
    """
    from n8n_tools_api_spark.operators.decontaminate import (
        ngram_decontaminate,
    )
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer
    from n8n_tools_api_spark.operators.sampling import (
        sample_key, sample_threshold_hex,
    )
    from n8n_tools_api_spark.operators.textstats import c4_line_filter

    def _status(frame, status):
        return frame.select(
            "doc_id", F.lit(status).alias("status"),
            F.lit(None).cast("string").alias("canonical"))

    mat = RoundMaterializer(checkpoint_dir)
    urlstat = mat(url_blocklist_filter(
        docs.select("doc_id", "url"), blocked_domains, blocked_terms)
        .select("doc_id", "host", "status"), "urlstat")
    rejected_url = _status(
        urlstat.where(F.col("status") != "kept"), "rejected_url")

    survivors = docs.select("doc_id", "text").join(
        urlstat.where(F.col("status") == "kept").select("doc_id"), "doc_id")
    rated = mat(c4_line_filter(survivors)
                .select("doc_id", "clean_text", "c4_keep"), "c4_rated")
    rejected_c4 = _status(rated.where(~F.col("c4_keep")), "rejected_c4")

    passed = rated.where(F.col("c4_keep")).select(
        "doc_id", F.col("clean_text").alias("text"))
    cur = mat(curation_with_quality(passed, use_lsh=use_lsh,
                                    threshold=threshold, k=k,
                                    checkpoint_dir=checkpoint_dir), "cur")
    dup_or_rejected = cur.where(F.col("status") != "kept")

    hostkept = cur.where(F.col("status") == "kept").select("doc_id").join(
        urlstat.select("doc_id", "host"), "doc_id")
    # the host from url_blocklist_filter is already canonical — pass it
    # through the host_col seam so per_host_cap can't strip a second
    # 'www.' / ':port' and merge hosts the oracle keeps distinct
    capped = per_host_cap(hostkept, cap=host_cap, host_col="host")
    rejected_cap = _status(
        hostkept.join(capped.select("doc_id"), "doc_id", "left_anti"),
        "rejected_host_cap")

    capped_text = capped.select("doc_id").join(
        rated.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
    dec = mat(ngram_decontaminate(capped_text, bench, n=n_gram), "decontam")
    contaminated = _status(dec.where(F.col("contaminated")), "contaminated")

    survivors_final = dec.where(~F.col("contaminated")).select("doc_id")
    keep = sample_key(F.col("doc_id"), sample_seed) < \
        F.lit(sample_threshold_hex(sample_rate))
    kept = survivors_final.where(keep).select(
        "doc_id", F.lit("kept").alias("status"),
        F.col("doc_id").alias("canonical"))
    sampled_out = _status(survivors_final.where(~keep), "sampled_out")

    return (rejected_url
            .unionByName(rejected_c4)
            .unionByName(dup_or_rejected)
            .unionByName(rejected_cap)
            .unionByName(contaminated)
            .unionByName(sampled_out)
            .unionByName(kept))


TRACKING_PARAM_NAMES = ["fbclid", "gclid", "mc_cid", "mc_eid", "msclkid",
                        "ref"]


def canonical_url(url) -> "F.Column":
    """Canonical form of a URL column — the normalization behind
    URL-level dedup, the FIRST dedup stage of the public web-curation
    canon (RefinedWeb, Penedo et al. 2023 §3.2 deduplicates fetched
    URLs before any text processing; CCNet and FineWeb keep the same
    stage so recrawls and tracking-decorated links don't multiply a
    page).  Every rule is engine-portable (Java regex and RE2 agree on
    these patterns; ASCII assumed) and replayed byte-exactly by the
    ``url_canonical_dedup`` oracle:

    * NULL → ``''``;
    * a URL *parses* iff it matches ``scheme://authority`` with a
      non-empty authority (``^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+``);
      non-parsing strings canonicalize to THEMSELVES (identity), so
      junk collapses only when byte-equal;
    * scheme: lowercased;
    * host: authority lowercased, userinfo (``user:pw@``) stripped,
      one leading ``www.`` stripped, the scheme's DEFAULT port
      stripped (``:80`` iff http, ``:443`` iff https — any other
      port is identity-bearing and kept);
    * path: case PRESERVED, trailing ``/``-runs stripped (so
      ``/a/b/`` ≡ ``/a/b`` and a bare ``/`` ≡ empty);
    * query: split on ``&``; empty params dropped; tracking params
      dropped (name starts with ``utm_`` or name ∈
      ``TRACKING_PARAM_NAMES``; the name is the text before the first
      ``=``); survivors SORTED ascending (full ``k=v`` string) and
      re-joined — param order never distinguishes pages;
    * fragment (``#…``): dropped.

    Scale shape: pure per-row string expressions — zero shuffle, rides
    the scan at 100 TB.
    """
    u = F.coalesce(url, F.lit(""))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(F.lower(auth), "^[^@]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
        "/+$", "")
    qraw = F.regexp_extract(u, r"\?([^#]*)", 1)
    name = lambda p: F.regexp_replace(p, "=.*$", "")  # noqa: E731
    tracked = F.array(*[F.lit(t) for t in TRACKING_PARAM_NAMES])
    params = F.array_sort(F.filter(
        F.split(qraw, "&"),
        lambda p: (p != "")
        & (F.substring(name(p), 1, 4) != "utm_")
        & ~F.array_contains(tracked, name(p)),
    ))
    q = F.array_join(params, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(auth != "", canon).otherwise(u)


def url_dedup(docs: DataFrame) -> DataFrame:
    """URL-level exact dedup over :func:`canonical_url` keys — emits a
    full disposition frame (one row per input doc)::

        (doc_id, url, canonical_url,
         status 'kept' | 'url_dup', first_doc, group_size)

    ``first_doc`` is the ascending-``doc_id`` minimum of the canonical
    group (the kept representative — a crawler's "first fetch wins"),
    ``group_size`` the group's total count.  All-NULL / unparseable
    URLs keep their raw string as the key, so only byte-equal junk
    collapses; NULLs canonicalize to ``''`` and form one pseudo-group
    (documented, like :func:`canonical_host`'s ``''`` pseudo-host).

    Scale shape: canonicalization rides the scan; the ONLY exchange is
    the window over ``canonical_url`` carrying slim (id, url-length)
    rows — at 10^12 docs this is the cheapest possible dedup, which is
    exactly why the canon runs it before any text stage.  Canonical
    keys are high-cardinality and near-uniform (hosts × paths), so no
    skew handling is needed beyond AQE defaults; the ``''``
    pseudo-group is the one engineered hot key, and a corpus with many
    NULL URLs should pre-filter them (they carry no fetch identity).
    """
    # unordered-frame window: min/count need no in-partition sort
    w = Window.partitionBy("canonical_url")
    base = docs.select(
        "doc_id", "url",
        canonical_url(F.col("url")).alias("canonical_url"),
    )
    return base.select(
        "doc_id", "url", "canonical_url",
        F.min("doc_id").over(w).alias("first_doc"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    ).withColumn(
        "status",
        F.when(F.col("doc_id") == F.col("first_doc"), F.lit("kept"))
        .otherwise(F.lit("url_dup")),
    ).select("doc_id", "url", "canonical_url", "status", "first_doc",
             "group_size")


def web_dedup_keep_list(docs: DataFrame, min_doc_freq: int = 2,
                        checkpoint_dir: str | None = None) -> DataFrame:
    """The dedup LADDER of the public web-curation canon composed in
    its published stage order — cheapest gate first, each stage seeing
    only the previous stage's survivors (RefinedWeb §3.2 runs exactly
    this ladder: URL dedup at fetch time, then line-wise corrections,
    then document-level exact/fuzzy dedup):

    1. :func:`url_dedup` — canonical-URL dedup (no text touched; a
       recrawl costs one slim window row);
    2. :func:`~n8n_tools_api_spark.operators.dedup.strip_repeated_lines`
       — within-doc repeated-line removal (zero shuffle);
    3. :func:`~n8n_tools_api_spark.operators.dedup.line_dedup` —
       cross-doc boilerplate-line removal over the CLEANED text;
    4. exact full-text dedup on the post-cleaning text (md5 window,
       min-id canonical) — two pages that differed only by nav chrome
       and repeated headers collapse HERE, which is the reason the
       line stages run first.

    Output, one row per input doc::

        (doc_id, status 'url_dup' | 'exact_dup' | 'kept', canonical,
         lines_dropped_within, lines_dropped_boiler)

    ``canonical`` is the stage-appropriate survivor (URL group first
    doc / exact-text group min doc / itself); the line counters are
    NULL for url_dup rows (their text was never processed — that IS
    the saving).  Docs whose text cleans to ``''`` (boilerplate-only
    pages) form one exact-dup group of the empty text, min-id kept —
    the documented pseudo-group, same convention as url_dedup's NULL
    URLs.

    Scale shape: stage 1 exchanges only (id, canonical-url) rows;
    stage 2 rides the scan; stage 3 exchanges slim (doc_id, q, h)
    line-key rows (AQE-split hot boilerplate keys); stage 4 exchanges
    (doc_id, md5) pairs.  Full text never rides a key-keyed shuffle
    in any stage.

    Both multiply-consumed frames are cut (lazily in local mode;
    parquet rounds under ``checkpoint_dir`` on a cluster): the
    url_dedup window feeds the url_dup branch AND the survivors join,
    and strip_repeated_lines feeds line_dedup AND the counters join —
    without the cut each consumer re-executes the upstream stage.
    """
    from n8n_tools_api_spark.operators.dedup import (
        line_dedup, strip_repeated_lines)
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    mat = RoundMaterializer(checkpoint_dir)
    u = mat(url_dedup(docs.select("doc_id", "url")), "url_dedup")
    url_dups = u.where(F.col("status") == "url_dup").select(
        "doc_id", F.lit("url_dup").alias("status"),
        F.col("first_doc").alias("canonical"),
        F.lit(None).cast("int").alias("lines_dropped_within"),
        F.lit(None).cast("int").alias("lines_dropped_boiler"),
    )
    survivors = docs.select("doc_id", "text") \
        .join(u.where(F.col("status") == "kept").select("doc_id"), "doc_id")
    within = mat(strip_repeated_lines(survivors), "within")
    boiler = line_dedup(
        within.select("doc_id", F.col("clean_text").alias("text")),
        min_doc_freq=min_doc_freq)
    cleaned = (
        within.select("doc_id",
                      F.col("n_removed").alias("lines_dropped_within"))
        .join(boiler.select(
            "doc_id", "clean_text",
            F.col("n_removed").alias("lines_dropped_boiler")), "doc_id")
    )
    w = Window.partitionBy("h")
    exact = cleaned.withColumn(
        "h", F.md5(F.col("clean_text").cast("binary"))
    ).withColumn("canonical", F.min("doc_id").over(w)).select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("canonical"), F.lit("kept"))
        .otherwise(F.lit("exact_dup")).alias("status"),
        "canonical", "lines_dropped_within", "lines_dropped_boiler",
    )
    return url_dups.unionByName(exact)
