"""Host-level link graph — outlink extraction, degrees, and an
integer-quantized PageRank over hosts.

Web-curation pipelines rank HOSTS by link centrality to seed crawls and
weight domains (Common Crawl publishes harmonic-centrality /
PageRank-ranked host lists its crawl frontier is seeded from; CCNet and
RefinedWeb both inherit that host-quality prior through their crawl
source).  This module gives the engine that stage: extract ``href``
targets from page HTML, collapse them to canonical hosts, aggregate the
distinct host→host edge set, and score hosts with a FIXED number of
all-integer PageRank iterations so the result is bit-exact on any
engine and any partitioning.

The reference service has no link stage (it is a per-file PDF/OCR API);
north_rule's web-scale extraction tier is what makes host ranking a
first-class operator here.  HTML shape knowledge reuses the same regex
conventions as refsem/boilerplate.py (double-quoted attributes).

Pinned semantics (replayed exactly by the ``host_link_stats`` oracle in
plans/catalog.py):

* outlinks are the group-1 matches of ``href="([^"]*)"`` over the
  null-coalesced HTML — double-quoted hrefs only (the boilerplate
  walker's convention; single-quoted/bare attrs are out of scope and
  documented here);
* a link contributes an edge iff BOTH its canonical host
  (:func:`~n8n_tools_api_spark.operators.curation.canonical_host` —
  lowercase authority, www/port strip, ``''`` for relative or
  unparseable targets) and the page's own canonical host are non-empty
  and DIFFERENT (self-links and relative links carry no cross-host
  signal);
* the graph is the DISTINCT edge set — a page linking a host five
  times counts once, and so does a host with a thousand such pages
  (host-level degrees are link-EXISTENCE degrees, the same collapse
  the Common Crawl host graph applies);
* nodes are every host appearing on either side of an edge;
* PageRank is the textbook damped iteration with ALL-INTEGER
  arithmetic: with ``N`` nodes and rank scale ``S`` (default 10^12),

      r_0[h]   = S div N
      r_k+1[h] = (15 * (S div N) + 85 * Σ_{e: src→h} (r_k[src] div
                 out_deg[src])) div 100

  i.e. damping 0.85 as the exact rational 85/100, every division a
  BIGINT floor-div — deterministic under any aggregation order since
  the summands are exact integers.  Dangling hosts (inlinks only)
  contribute nothing — the classic mass-leak simplification, pinned
  rather than redistributed.  Headroom: sums of r div out_deg are
  bounded by S + N, astronomically inside int64 for S = 10^12 and any
  real host count (ANSI mode would raise on overflow, not wrap).

Scale shape: extraction and host mapping are per-row projections that
ride the scan (the HTML never enters a shuffle — only slim
(src_host, dst_host) pairs leave the page rows).  The distinct-edge
aggregation is map-side combined on the edge key; host degrees and
each PageRank round shuffle only (host, int64) rows on a key space of
#hosts ≪ #pages (the web is ~10^8 hosts vs ~10^12 pages).  Iterations
are a fixed small constant (2 by default); at production depth (~20+
rounds to convergence) materialize rounds via
operators/materialize.RoundMaterializer exactly like the
connected-components loop, and break supernode skew (everyone links
google.com) with AQE skew-join on the dst-keyed aggregation — only
8-byte ranks ride those hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.curation import canonical_host
from n8n_tools_api_spark.operators.materialize import RoundMaterializer

HREF_PATTERN = r'href="([^"]*)"'


def extract_host_edges(pages: DataFrame) -> DataFrame:
    """Distinct (src_host, dst_host) edges from page HTML.

    Per-row: regexp-extract all double-quoted hrefs, canonicalize each
    to a host, keep absolute cross-host targets, explode, distinct.
    The HTML column never survives past the per-row projection.
    """
    src = canonical_host(F.col("url"))
    hrefs = F.regexp_extract_all(
        F.coalesce(F.col("html"), F.lit("")), F.lit(HREF_PATTERN), 1)
    return (
        pages.select(src.alias("src_host"),
                     F.explode_outer(hrefs).alias("href"))
        .select("src_host", canonical_host(F.col("href")).alias("dst_host"))
        .where((F.col("src_host") != "") & (F.col("dst_host") != "")
               & (F.col("src_host") != F.col("dst_host")))
        .distinct()
    )


def host_link_stats(pages: DataFrame, iterations: int = 2,
                    scale: int = 10 ** 12,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Per-host degrees + integer PageRank after ``iterations`` rounds.

    Output: (host, out_deg, in_deg, pr) — ``pr`` on the ``scale``
    integer grid.  Construction is fully declarative (the node count
    is a broadcast 1-row aggregate, never a driver ``collect``), so
    the whole computation is one lazy plan.

    The edge set and each round's ranks are cut from the lineage via
    RoundMaterializer, the same convention as the components loop:
    default = LAZY ``localCheckpoint`` (first action materializes the
    distinct edges ONCE; nodes, both degree frames, and every rank
    round then share the blocks instead of re-running the page scan
    per reference), ``checkpoint_dir`` = reliable parquet rounds that
    survive executor loss on a multi-hour web-graph run.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    mat = RoundMaterializer(checkpoint_dir)
    edges = mat(extract_host_edges(pages), "edges")
    nodes = (edges.select(F.col("src_host").alias("host"))
             .unionByName(edges.select(F.col("dst_host").alias("host")))
             .distinct())
    out_deg = edges.groupBy(F.col("src_host").alias("host")) \
        .agg(F.count(F.lit(1)).alias("out_deg"))
    in_deg = edges.groupBy(F.col("dst_host").alias("host")) \
        .agg(F.count(F.lit(1)).alias("in_deg"))
    n_frame = nodes.agg(F.count(F.lit(1)).alias("_n"))  # 1 row — broadcast

    base = (
        nodes.crossJoin(F.broadcast(n_frame))
        .withColumn("_r0", F.expr(f"cast({scale} as bigint) div _n"))
    )
    ranks = base.select("host", F.col("_r0").alias("pr"), "_r0")
    # degree/rank frames are #hosts-sized (≪ #pages but potentially
    # 10^8 rows at web scale) — no forced broadcast; AQE picks the
    # join strategy from runtime sizes (broadcast at report scale,
    # shuffled hash at web scale)
    for _round in range(iterations):
        contrib = (
            edges
            .join(ranks.select(F.col("host").alias("src_host"),
                               "pr"), "src_host")
            .join(out_deg.select(
                F.col("host").alias("src_host"), "out_deg"), "src_host")
            .groupBy(F.col("dst_host").alias("host"))
            .agg(F.sum(F.expr("pr div out_deg")).alias("_in_mass"))
        )
        ranks = (
            base.select("host", "_r0")
            .join(contrib, "host", "left")
            .select(
                "host",
                F.expr("(15 * _r0 + 85 * coalesce(_in_mass, 0)) div 100")
                .alias("pr"),
                "_r0",
            )
        )
        # unique tag per round: the NEXT round's plan references this
        # round's files — never overwrite a live tag. Local mode cuts
        # too: at production depth (~20+ rounds) an un-cut loop nests
        # every prior round's joins into one ever-deeper plan (round-5
        # review finding)
        ranks = mat(ranks, f"ranks_{_round:03d}")
        mat.release(f"ranks_{_round - 2:03d}")  # ≥2 rounds back only
    return (
        ranks.join(out_deg, "host", "left")
        .join(in_deg, "host", "left")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("bigint").alias("in_deg"),
            F.col("pr").cast("bigint").alias("pr"),
        )
    )
