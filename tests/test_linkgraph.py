"""Host link graph (operators/linkgraph.py) — hand-computed integer
PageRank, edge-collapse rules, dangling-host behavior. The full DuckDB
replay over 320 planted pages is the host_link_stats oracle."""

import pytest
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.linkgraph import (
    extract_host_edges, host_link_stats)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, url string, "
                                       "html string")


TRIANGLE = [
    ("1", "https://a.com/p", '<a href="https://b.com/x">b</a>'),
    ("2", "https://b.com/p",
     '<a href="https://a.com/x">a</a><a href="https://c.com/y">c</a>'),
]


class TestEdges:
    def test_relative_self_and_duplicate_links_collapse(self, spark):
        rows = [
            ("1", "https://a.com/p",
             '<a href="/rel">r</a>'
             '<a href="https://a.com/self">s</a>'
             '<a href="https://b.com/x">b</a>'
             '<a href="https://B.com:443/other">b2</a>'),
            ("2", "https://www.a.com:8443/q",  # same canonical src host
             '<a href="https://b.com/z">b3</a>'),
        ]
        edges = extract_host_edges(_pages(spark, rows)).collect()
        assert [(e.src_host, e.dst_host) for e in edges] == [("a.com", "b.com")]

    def test_null_html_and_unparseable_url_yield_nothing(self, spark):
        rows = [("1", "https://a.com/p", None),
                ("2", "junk", '<a href="https://b.com/x">b</a>')]
        assert extract_host_edges(_pages(spark, rows)).count() == 0


class TestPageRank:
    def test_hand_computed_two_rounds(self, spark):
        """a→b, b→{a,c}: N=3, S=10^12, r0 = S div 3 = 333333333333.
        Round 1: base = 15*r0 = 4999999999995;
          a: (base + 85*(r0 div 2)) div 100 = 191666666666
          b: (base + 85*(r0 div 1)) div 100 = 333333333333
          c: = a's value (same single inlink from b)     = 191666666666
        Round 2: b's rank unchanged feeds a/c the same mass;
          b: (base + 85*191666666666) div 100            = 212916666666
        """
        out = {r.host: r for r in
               host_link_stats(_pages(spark, TRIANGLE), iterations=2)
               .collect()}
        assert out["a.com"].pr == 191666666666
        assert out["b.com"].pr == 212916666666
        assert out["c.com"].pr == 191666666666
        assert (out["a.com"].out_deg, out["a.com"].in_deg) == (1, 1)
        assert (out["b.com"].out_deg, out["b.com"].in_deg) == (2, 1)
        # dangling host: inlinks only, contributes no mass
        assert (out["c.com"].out_deg, out["c.com"].in_deg) == (0, 1)

    def test_layout_invariance(self, spark):
        pages = _pages(spark, TRIANGLE)
        a = sorted(map(tuple, host_link_stats(pages.repartition(7),
                                              iterations=2).collect()))
        b = sorted(map(tuple, host_link_stats(
            pages.repartition(2, "doc_id"), iterations=2).collect()))
        assert a == b

    def test_invalid_iterations_raises(self, spark):
        with pytest.raises(ValueError):
            host_link_stats(_pages(spark, TRIANGLE), iterations=0)

    def test_html_never_enters_a_shuffle(self, spark):
        """Fat page HTML must be projected away before any Exchange —
        only slim host pairs may ride the wire."""
        df = host_link_stats(_pages(spark, TRIANGLE), iterations=1)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "html" not in line


def test_reliable_checkpoint_mode_matches_local(spark, reliable_cuts):
    """Reliable mode (parquet rounds, executor-loss survivable) must
    produce byte-identical ranks to the default lazy mode."""
    pages = _pages(spark, TRIANGLE)
    a = sorted(map(tuple, host_link_stats(pages, iterations=3).collect()))
    with reliable_cuts():
        b = sorted(map(tuple, host_link_stats(
            pages, iterations=3).collect()))
    assert a == b
