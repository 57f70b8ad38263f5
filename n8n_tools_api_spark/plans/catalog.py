"""Query catalog — the driver-checked operator surface (SURVEY.md §2 + the
training-data-pipeline operators).

Every entry is a (spark_fn, oracle_sql) pair. The spark side is
DataFrame-API (Catalyst-optimized, broadcast hints on dims); the oracle
is ANSI SQL for DuckDB over the same parquet views. Determinism rules
used throughout so the driver's value-hash can't drift:

* money aggregates go through exact DECIMAL(18,6) sums, then cast to
  double and round(2) — float partial-agg order can't jitter them;
* every float output is rounded; every top-k has a total tiebreaker;
* counts / regexp counts are cast to bigint on both sides (DuckDB
  ``len()``/``count`` are BIGINT, DuckDB ``sum(int)`` is HUGEINT —
  always CAST in the oracle);
* timestamps are cast to DATE before output.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from n8n_tools_api_spark.functions.text import words
from n8n_tools_api_spark.sources.tables import read_sf_table as _t


# exact-decimal money sum: deterministic under any partitioning
def _money(expr):
    return F.round(F.sum(expr.cast("decimal(18,6)")).cast("double"), 2)


# Planted fixtures: a documents slice plus branches of rows derived from
# its low ids, built the same way on both engines.
def _branch(docs, prefix, n, text):
    """The ``docs`` rows with doc_id < n as (prefix || doc_id, text);
    ``text`` is a column name or a Column."""
    did = F.col("doc_id").cast("string")
    return docs.where(F.col("doc_id") < n).select(
        F.concat(F.lit(prefix), did).alias("doc_id"),
        text if isinstance(text, str) else text.alias("text"))


def _planted(docs, *branches):
    """``docs`` as (doc_id string, text), then each branch frame."""
    corpus = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                         "text")
    for b in branches:
        corpus = corpus.unionByName(b)
    return corpus


def _planted_sql(below: int, text: str, branches) -> str:
    """DuckDB twin of ``_planted``: the union body of documents<below
    as (doc_id, ``text``) and one (prefix, n, text SQL) branch each."""
    out = ("  SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
           f"{text} AS text\n  FROM documents WHERE doc_id < {below}")
    for prefix, n, expr in branches:
        out += (f"\n  UNION ALL\n  SELECT '{prefix}' || CAST(doc_id AS VARCHAR),"
                f"\n         {expr}\n  FROM documents WHERE doc_id < {n}")
    return out


# Python's str.strip() charset: DuckDB's bare trim() strips only spaces
_WS_CHARSET = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def _host_sql(url: str) -> str:
    """Canonical host of a URL expression (operators/curation.py):
    lower-cased authority of a scheme://… URL, one leading 'www.' and
    a trailing :port stripped; '' when the URL has no authority."""
    return (r"regexp_replace(regexp_replace(regexp_extract("
            f"lower(COALESCE({url}, '')), "
            r"'^[a-z][a-z0-9+.-]*://([^/?#]+)', 1), '^www\.', ''), "
            r"':\d+$', '')")


# ---------------------------------------------------------------------------
# TPC-H-ish relational queries (SURVEY.md §2.3 J4, §2.4)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analog: scan-heavy groupBy with decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.col("l_quantity")).alias("sum_qty"),
            _money(F.col("l_extendedprice")).alias("sum_base_price"),
            _money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                    / F.count("*"), 2).alias("avg_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                    / F.count("*"), 2).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base_price,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 analog: 3-way join, top-10 revenue with total tiebreak."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-06-01")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-06-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                 "o_orderpriority")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """TPC-H Q5 analog: star join through region/nation, broadcast dims."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              (orders.o_custkey == cust.c_custkey)
              & (supplier.s_nationkey == cust.c_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 analog: returned-item revenue per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def top_orders_by_price(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
                F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


TOP_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       ROUND(o_totalprice, 2) AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM orders
ORDER BY ROUND(o_totalprice, 2) DESC, o_orderkey
LIMIT 10
"""


def customer_acctbal_rank(spark, sf_dir):
    """Window ranking (SURVEY.md §2.5): top-3 customers per nation."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("bal_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("bal_rank") <= 3)
        .select("c_nationkey", "bal_rank", "c_custkey",
                F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_nationkey", "bal_rank")
    )


RANK_SQL = """
SELECT c_nationkey, bal_rank, c_custkey, ROUND(c_acctbal, 2) AS c_acctbal
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS bal_rank
  FROM customer
)
WHERE bal_rank <= 3
ORDER BY c_nationkey, bal_rank
"""


def nation_revenue_rollup(spark, sf_dir):
    """ROLLUP aggregate (SURVEY.md §2.4 note): region → nation subtotals."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(_money(F.col("o_totalprice")).alias("total_revenue"),
             F.count("*").alias("n_orders"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


ROLLUP_SQL = """
SELECT r_name, n_name,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def part_type_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(F.count("*").alias("n_parts"),
             F.round(F.sum(F.col("p_retailprice").cast("decimal(18,6)")).cast("double")
                     / F.count("*"), 2).alias("avg_price"),
             F.sum(F.col("p_size").cast("bigint")).alias("total_size"))
        .orderBy("p_type")
    )


PART_SQL = """
SELECT p_type, COUNT(*) AS n_parts,
       ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
       CAST(SUM(p_size) AS BIGINT) AS total_size
FROM part
GROUP BY p_type
ORDER BY p_type
"""


def order_priority_counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# events (time-series aggregates)
# ---------------------------------------------------------------------------

def events_daily(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"),
             _money(F.col("value")).alias("total_value"),
             F.countDistinct("user_id").alias("n_users"))
        .orderBy("day")
    )


EVENTS_DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY strftime(ts, '%Y-%m-%d')
ORDER BY day
"""


def events_type_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                     / F.count("*"), 4).alias("avg_value"))
        .orderBy("event_type")
    )


EVENTS_TYPE_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# documents: text analysis (training-data-pipeline operators)
# ---------------------------------------------------------------------------

def lang_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
             F.countDistinct("source").alias("n_sources"))
        .orderBy("lang")
    )


LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
"""


def doc_token_counts(spark, sf_dir):
    """Token counting (whitespace tokens + estimated words, F13)."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.regexp_count("text", F.lit(r"\S+")).cast("bigint").alias("n_tokens"),
            F.length("text").cast("bigint").alias("n_chars_actual"),
            F.floor(F.length("text") / F.lit(5)).cast("bigint").alias("est_words"),
        )
        .orderBy("doc_id")
    )


TOKENS_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(floor(length(text) / 5) AS BIGINT) AS est_words
FROM documents
ORDER BY doc_id
"""


def doc_quality_scores(spark, sf_dir):
    """Quality scoring: alpha/digit/punct/space ratios per document."""
    length = F.length("text").cast("double")
    n = lambda pat: F.regexp_count("text", F.lit(pat)).cast("double")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.round(n(r"[A-Za-z]") / length, 4).alias("alpha_ratio"),
            F.round(n(r"[0-9]") / length, 4).alias("digit_ratio"),
            F.round(n(r"[.,;:!?]") / length, 4).alias("punct_ratio"),
            F.round(n(r"\s") / length, 4).alias("space_ratio"),
            F.round(
                n(r"(?i)\b(the|a|an|and|or|of|to|in|is|it)\b")
                / F.greatest(F.regexp_count("text", F.lit(r"\S+")).cast("double"),
                             F.lit(1.0)), 4,
            ).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


QUALITY_SQL = r"""
SELECT doc_id,
       ROUND(len(regexp_extract_all(text, '[A-Za-z]')) / CAST(length(text) AS DOUBLE), 4) AS alpha_ratio,
       ROUND(len(regexp_extract_all(text, '[0-9]')) / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
       ROUND(len(regexp_extract_all(text, '[.,;:!?]')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
       ROUND(len(regexp_extract_all(text, '\s')) / CAST(length(text) AS DOUBLE), 4) AS space_ratio,
       ROUND(len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|it)\b'))
             / GREATEST(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0),
             4) AS stopword_ratio
FROM documents
ORDER BY doc_id
"""


def doc_fingerprints(spark, sf_dir):
    """Document fingerprinting (A10 analog: content-hash identity)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint"),
                F.substring(F.sha2(F.col("text").cast("binary"), 256), 1, 16).alias("shard_key"))
        .orderBy("doc_id")
    )


FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS fingerprint,
       substring(sha256(text), 1, 16) AS shard_key
FROM documents
ORDER BY doc_id
"""


def exact_dedup_stats(spark, sf_dir):
    """Exact dedup (hash-groupBy): corpus-level duplication summary."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("distinct_texts"),
        (F.count("*") - F.countDistinct(F.md5(F.col("text").cast("binary")))).alias("n_duplicates"),
    )


DEDUP_SQL = """
SELECT COUNT(*) AS total_docs,
       COUNT(DISTINCT md5(text)) AS distinct_texts,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_duplicates
FROM documents
"""


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

from n8n_tools_api_spark.operators.similarity import _dot  # single source of truth


def cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector.

    The baseline ANN path: exact scan, JVM-side higher-order functions
    (no UDF). At scale this becomes the per-bucket scorer under an LSH/
    IVF pre-filter (see ann_ivf_topk).
    """
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    dot = _dot(F.col("embedding"), F.col("q_embedding"))
    norm_e = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    norm_q = F.sqrt(_dot(F.col("q_embedding"), F.col("q_embedding")))
    return (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label",
                F.round(dot / (norm_e * norm_q), 4).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), "vec_id")
        .limit(10)
    )


COSINE_SQL = """
WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(q_embedding AS DOUBLE[]))
             / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_inner_product(CAST(q_embedding AS DOUBLE[]), CAST(q_embedding AS DOUBLE[])))),
             4) AS cosine_sim
FROM embeddings, q
WHERE vec_id != 0
ORDER BY cosine_sim DESC, vec_id
LIMIT 10
"""


def embedding_label_stats(spark, sf_dir):
    """Per-label L2-norm statistics over the embedding column."""
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    return (
        _t(spark, sf_dir, "embeddings")
        .select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vectors"),
             F.round(F.sum(F.col("norm").cast("decimal(18,9)")).cast("double")
                     / F.count("*"), 4).alias("avg_norm"))
        .orderBy("label")
    )


NORM_SQL = """
SELECT label, COUNT(*) AS n_vectors,
       ROUND(CAST(SUM(CAST(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                   CAST(embedding AS DOUBLE[]))) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 4) AS avg_norm
FROM embeddings
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# additional TPC-H-style shapes (filter-agg, conditional agg, subquery,
# having, cube) — SURVEY.md §2.4 coverage
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 analog: pure filter + single aggregate (scan-bound)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= "1997-01-01")
                 & (F.col("l_shipdate") < "1998-01-01")
                 & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.09)
                 & (F.col("l_quantity") < 25))
        .agg(_money(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
             F.count("*").alias("n_items"))
    )


Q6_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 25
"""


def q12_priority_shipmode(spark, sf_dir):
    """TPC-H Q12 analog: join + conditional (CASE) aggregation."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "N")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(high).cast("bigint").alias("high_priority_count"),
             F.sum(1 - high).cast("bigint").alias("low_priority_count"))
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'N'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q14_brand_revenue_share(spark, sf_dir):
    """TPC-H Q14 analog: conditional revenue share (promo = one brand)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brand_rev = F.when(F.col("p_brand") == "Brand#1", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(brand_rev.cast("decimal(18,6)")).cast("double")
                / F.sum(rev.cast("decimal(18,6)")).cast("double"), 4,
            ).alias("brand1_revenue_percent")
        )
    )


Q14_SQL = """
SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_brand = 'Brand#1'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
             4) AS brand1_revenue_percent
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q17_small_quantity_parts(spark, sf_dir):
    """TPC-H Q17 analog: per-part average-quantity subquery join."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg((F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
              / F.count("*")).alias("avg_qty"))
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.ap_partkey)
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(_money(F.col("l_extendedprice")).alias("total_price"),
             F.count("*").alias("n_small"))
    )


Q17_SQL = """
WITH avg_q AS (
  SELECT l_partkey AS ap_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price,
       COUNT(*) AS n_small
FROM lineitem JOIN avg_q ON l_partkey = ap_partkey
WHERE l_quantity < 0.5 * avg_qty
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 analog: groupBy + HAVING on a sum, top-k tiebroken."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)"))
                     .cast("double"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .select("o_orderkey", "o_custkey", "total_qty",
                F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(15)
    )


Q18_SQL = """
SELECT o_orderkey, o_custkey, total_qty, ROUND(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT l_orderkey,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
) JOIN orders ON l_orderkey = o_orderkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 15
"""


def orders_with_returns_semi(spark, sf_dir):
    """Semi-join (EXISTS): orders having at least one returned lineitem."""
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"),
             _money(F.col("o_totalprice")).alias("total_price"))
        .orderBy("o_orderstatus")
    )


SEMI_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def customers_without_orders_anti(spark, sf_dir):
    """Anti-join (NOT EXISTS): customers who never placed an order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey",
                F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 analog: OR-of-AND predicate blocks across a join —
    exercises Catalyst's CNF pushdown of the shared join condition."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    block1 = (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) \
        & (F.col("l_quantity") >= 10)
    block2 = (F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) \
        & (F.col("l_quantity") >= 5)
    block3 = (F.col("p_type").startswith("STANDARD")) & (F.col("l_discount") < 0.05)
    return joined.where(block1 | block2 | block3).agg(
        _money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


Q19_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 5)
   OR (p_type LIKE 'STANDARD%' AND l_discount < 0.05)
"""


def part_brand_size_cube(spark, sf_dir):
    """CUBE aggregate over part brand x size bucket (SURVEY.md §2.4)."""
    part = _t(spark, sf_dir, "part")
    size_bucket = (F.floor(F.col("p_size") / 10) * 10).cast("int")
    return (
        part.select("p_brand", size_bucket.alias("size_bucket"), "p_retailprice")
        .cube("p_brand", "size_bucket")
        .agg(F.count("*").alias("n_parts"),
             _money(F.col("p_retailprice")).alias("total_price"))
        .orderBy(F.asc_nulls_first("p_brand"), F.asc_nulls_first("size_bucket"))
    )


CUBE_SQL = """
SELECT p_brand, CAST(FLOOR(p_size / 10) * 10 AS INT) AS size_bucket,
       COUNT(*) AS n_parts,
       ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_price
FROM part
GROUP BY CUBE (p_brand, CAST(FLOOR(p_size / 10) * 10 AS INT))
ORDER BY p_brand ASC NULLS FIRST, size_bucket ASC NULLS FIRST
"""


def events_user_sessions(spark, sf_dir):
    """Window lag: per-user session starts (>30 min gaps) — SURVEY §2.5."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; route via timestamp_ltz (session tz is
    # pinned UTC) to epoch seconds — matches DuckDB's epoch(ts)
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("is_start", is_start)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum("is_start").cast("bigint").alias("n_sessions"))
        .orderBy("user_id")
    )


SESSIONS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(is_start) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
)
GROUP BY user_id
ORDER BY user_id
"""


def event_sessions_full(spark, sf_dir):
    """Gap-based sessionization (batch twin of the stateful streaming
    operator): full session records with epoch-microsecond bounds."""
    from n8n_tools_api_spark.streaming.stateful import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    s = sessionize_batch(ev)
    return s.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp_ltz")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp_ltz")).alias("end_us"),
        "n_events",
        "total_value",
    ).orderBy("user_id", "start_us")


SESSIONS_FULL_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              OR LAG(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
), sess AS (
  SELECT user_id, ts, value,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) AS end_us,
       CAST(COUNT(*) AS INT) AS n_events,
       ROUND(CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, start_us
"""


def extract_clean_fingerprints(spark, sf_dir):
    """END-TO-END PIPELINE ORACLE: the real mapInPandas extraction over
    the documents table (each row wrapped as a one-span interleaved
    doc), fingerprinted per output span.

    The DuckDB oracle replays the F1 cleaning pass
    (ocr_response_formatter.py:148-173) as six nested RE2
    regexp_replace calls — verified byte-identical to Python ``re`` on
    this corpus (ASCII-regex surface), so the driver's value-hash
    checks the pandas-UDF pipeline itself, not just relational algebra.
    """
    from n8n_tools_api_spark.operators import extract_spans
    from n8n_tools_api_spark.sources import interleaved_from_documents_table

    docs = interleaved_from_documents_table(spark, sf_dir)
    out = extract_spans(docs)
    span = F.explode("spans").alias("s")
    return (
        out.select("doc_id", span)
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.length("s.text").cast("bigint").alias("clean_chars"),
            F.md5(F.col("s.text").cast("binary")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


EXTRACT_CLEAN_SQL = r"""
WITH cleaned AS (
  SELECT 'tdoc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
         trim(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '\n\s*\n\s*\n', '\n\n', 'g'),
                   '[ \t]+', ' ', 'g'),
                 '([a-z])([A-Z])', '\1 \2', 'g'),
               '([0-9]+)([A-Za-z])', '\1 \2', 'g'),
             '\s+([.!?,:;])', '\1', 'g'),
           '([.!?])\s*([A-Z])', '\1 \2', 'g')
         ) AS cleaned
  FROM documents
)
SELECT doc_id, 'text' AS kind,
       CAST(length(cleaned) AS BIGINT) AS clean_chars,
       md5(cleaned) AS clean_md5
FROM cleaned
WHERE cleaned != ''
ORDER BY doc_id
"""


def doc_chain_components(spark, sf_dir):
    """ITERATIVE-ALGORITHM ORACLE: connected components over a
    deterministic edge list derived from the documents table (edges
    (i, i+1) where i % 10 < 3 → 4-node chains), computed by the
    engine's label-propagation operator and cross-checked against a
    DuckDB recursive-CTE transitive closure.
    """
    from n8n_tools_api_spark.operators.dedup import near_dup_components

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # max_id folded into the plan as a broadcast 1-row agg — no separate
    # driver job (round-1 verdict)
    max_1row = docs.agg(F.max("doc_id").alias("max_id"))
    edges = (
        docs.crossJoin(F.broadcast(max_1row))
        .where((F.col("doc_id") % 10 < 3) & (F.col("doc_id") < F.col("max_id")))
        .select(F.col("doc_id").alias("doc_a"),
                (F.col("doc_id") + 1).alias("doc_b"))
    )
    return (
        near_dup_components(edges)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("component").cast("bigint").alias("component"))
        .orderBy("doc_id")
    )


CHAIN_COMPONENTS_SQL = """
WITH RECURSIVE
edges AS (
  SELECT doc_id AS a, doc_id + 1 AS b
  FROM documents
  WHERE doc_id % 10 < 3 AND doc_id < (SELECT MAX(doc_id) FROM documents)
),
undirected AS (
  SELECT a, b FROM edges UNION SELECT b, a FROM edges
),
reach(src, dst) AS (
  SELECT a, b FROM undirected
  UNION
  SELECT r.src, u.b FROM reach r JOIN undirected u ON r.dst = u.a
)
SELECT src AS doc_id,
       LEAST(src, MIN(dst)) AS component
FROM reach
GROUP BY src
ORDER BY doc_id
"""


def q4_late_shipment_orders(spark, sf_dir):
    """TPC-H Q4 analog: EXISTS semi-join per order. The testdata lacks
    l_commitdate/l_receiptdate, so "late" = shipped >90 days after the
    order date (same plan shape: dated order scan, left_semi to a
    filtered lineitem join, priority rollup)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    late = (
        o.join(li, o.o_orderkey == li.l_orderkey, "inner")
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("o_orderkey").distinct()
    )
    return (
        o.join(late, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 analog: bidirectional nation-pair trade volume by year
    (two broadcast nation joins under different aliases)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1996-12-31"))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <= TIMESTAMP '1996-12-31'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 analog: NATION_3's share of PROMO-part volume sold to
    ASIA customers, by order year (conditional sum over a 6-way join;
    exact-decimal numerator and denominator)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_nk"), F.col("n_regionkey").alias("cn_rk"))
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_nk"))
        .join(F.broadcast(r), F.col("cn_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nation_vol.cast("decimal(18,6)")).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"), 4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 4) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 analog: LEFT OUTER join so zero-order customers are
    counted, then the count-of-counts histogram."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 analog: quarterly revenue per supplier, suppliers at
    the maximum (scalar-subquery equality, ties kept — deterministic)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def doc_language_scores(spark, sf_dir):
    """PANDAS-UDF ORACLE (A6): the reference language detector — run as
    the real Arrow-batched refsem UDF — against a DuckDB replay of its
    char-coverage scoring. A pattern's findall-length sum over a
    char-class+ regex equals the characters it removes, so each score
    is length(text) - length(regexp_replace(text, pat, '', 'g')) over
    length(text); ties resolve to the FIRST maximal pattern in
    reference order (ocr_response_formatter.py:667-713)."""
    from n8n_tools_api_spark.operators.textstats import detect_language

    docs = _t(spark, sf_dir, "documents", below=300)
    return (
        detect_language(docs)
        .select("doc_id", "detected", "confidence")
        .orderBy("doc_id")
    )


_LANG_PATTERNS_SQL = [
    ("english", r"[a-zA-Z\s]+"),
    ("spanish", r"[a-zA-ZñÑáéíóúüÁÉÍÓÚÜ\s]+"),
    ("french", r"[a-zA-ZàâäéèêëïîôöùûüÿñçÀÂÄÉÈÊËÏÎÔÖÙÛÜŸÑÇ\s]+"),
    ("german", r"[a-zA-ZäöüßÄÖÜ\s]+"),
    ("chinese", r"[一-鿿]+"),
    ("arabic", r"[؀-ۿ]+"),
    ("russian", r"[а-яёА-ЯЁ\s]+"),
]


def _lang_detect_ctes(src: str, keys: str) -> str:
    """The A6 detector replay over the ``text`` of ``src``:
    ``langdet(<keys>, detected, confidence)``. Confidence is
    floor-truncated to 6dp, reproducible on both engines."""
    scores = ",\n".join(
        f"         (length(text) - length(regexp_replace(text, '{pat}', '', 'g')))"
        f" / CAST(length(text) AS DOUBLE) AS s_{lang}"
        for lang, pat in _LANG_PATTERNS_SQL)
    best = "greatest(" + ", ".join(f"s_{l}" for l, _ in _LANG_PATTERNS_SQL) + ")"
    pick = "\n".join(f"              WHEN s_{lang} = best THEN '{lang}'"
                     for lang, _ in _LANG_PATTERNS_SQL)
    return f"""langscored AS (
  SELECT {keys},
{scores},
         -- (Unicode-whitespace-only texts would still diverge: RE2 \\s
         -- is ASCII; documented oracle limit, absent from the corpus.)
         text IS NULL OR trim(text, {_WS_CHARSET}) = '' AS is_blank
  FROM {src}
),
langdet AS (
  SELECT {keys},
         CASE WHEN is_blank OR best <= 0.5 THEN 'unknown'
{pick}
         END AS detected,
         CASE WHEN is_blank THEN 0.0
              ELSE floor(least(best, 1.0) * 1000000) / 1000000
         END AS confidence
  FROM (SELECT *, {best} AS best FROM langscored)
)"""


DOC_LANGUAGE_SQL = f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
{_lang_detect_ctes("docs", "doc_id")}
SELECT doc_id, detected, confidence FROM langdet
ORDER BY doc_id
"""


def language_id_agreement(spark, sf_dir):
    """DETECTOR-AGREEMENT ORACLE (upgraded from rows-only, round 3):
    the A6 Arrow-UDF detector over EVERY document, rolled up per
    (generator lang, detected) cell. The rollup is hash-safe because
    the per-doc confidence is floor-truncated to 6dp and SUMMED as
    DECIMAL(18,6) — order-independent, unlike a float average — then
    cast back for display (CLAUDE.md determinism rules)."""
    from n8n_tools_api_spark.operators.textstats import detect_language

    docs = _t(spark, sf_dir, "documents")
    return (
        detect_language(docs)
        .groupBy("lang", "detected")
        .agg(F.count("*").cast("bigint").alias("n_docs"),
             F.round(F.sum(F.col("confidence").cast("decimal(18,6)"))
                     .cast("double"), 6).alias("sum_confidence"))
        .orderBy("lang", "detected")
    )


LANGUAGE_ID_SQL = f"""
WITH {_lang_detect_ctes("documents", "lang")}
SELECT lang, detected,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(CAST(SUM(CAST(confidence AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS sum_confidence
FROM langdet
GROUP BY lang, detected
ORDER BY lang, detected
"""


def ngram_jaccard_dups(spark, sf_dir):
    """LLM-PIPELINE ORACLE: exact n-gram Jaccard over documents ∪
    deterministic truncated mutations, cross-checked against a DuckDB
    replay of the whole flow (list-comprehension shingles, df-cap via
    in-query count, distinct-shingle self-join). The sf corpus plus
    25 planted 90%-truncations — every mut_ pair MUST surface."""
    from n8n_tools_api_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    mutated = (
        docs.where(F.col("doc_id").cast("bigint") < 25)
        .select(F.concat(F.lit("mut_"), "doc_id").alias("doc_id"),
                F.expr("substring(text, 1, cast(length(text) * 0.9 as int))")
                .alias("text"))
    )
    corpus = docs.unionByName(mutated)
    return ngram_jaccard_pairs(corpus, threshold=0.5).orderBy("doc_a", "doc_b")


def _jaccard_pairs_ctes(src: str) -> str:
    """Exact 5-gram-shingle Jaccard replay (operators/dedup.py::
    ngram_jaccard_pairs) over the (doc_id, text) rows of ``src``:
    regexp_split + list-comprehension shingles, >1%-of-docs (min 100)
    document-frequency cap, distinct-shingle self-join →
    ``pairs(doc_a, doc_b, n_shared, jaccard)`` at jaccard >= 0.5."""
    return rf"""words AS (
  -- COALESCE mirrors Spark's concat_ws, which maps a NULL word array
  -- to the '' shingle instead of dropping the doc (review finding)
  SELECT doc_id, regexp_split_to_array(trim(COALESCE(text, '')), '\s+') AS w
  FROM {src}
),
sh_all AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 5
    THEN [array_to_string(w[i:i+4], ' ') for i in generate_series(1, len(w) - 4)]
    ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM words
),
sh_distinct AS (SELECT DISTINCT doc_id, shingle FROM sh_all),
n_docs AS (SELECT COUNT(*) AS n FROM {src}),
over_cap AS (
  SELECT shingle FROM sh_distinct, n_docs
  GROUP BY shingle, n
  HAVING COUNT(*) > greatest(floor(n * 0.01), 100)
),
sh AS (
  SELECT * FROM sh_distinct WHERE shingle NOT IN (SELECT shingle FROM over_cap)
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, n_shared,
         round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 4) >= 0.5
)"""


# the 25 planted 90%-truncations: floor() mirrors Spark's truncating
# int cast on the mutation length (CLAUDE.md determinism rules)
_MUT_TEXT_SQL = "substring(text, 1, CAST(floor(length(text) * 0.9) AS INT))"

NGRAM_JACCARD_SQL = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'mut_' || CAST(doc_id AS VARCHAR), {_MUT_TEXT_SQL}
  FROM documents WHERE doc_id < 25
),
""" + _jaccard_pairs_ctes("corpus") + """
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, jaccard
FROM pairs
ORDER BY doc_a, doc_b
"""


def stream_dedup_first_seen(spark, sf_dir):
    """STREAMING BATCH-TWIN ORACLE: the ingest-time exact-dedup stage
    (streaming/dedup_stream.py) — first arrival per content hash wins —
    replayed by DuckDB over documents ∪ planted later-arriving dups.
    The streaming path itself is pinned by tests/test_dedup_stream.py
    (same content-hash key, dropDuplicatesWithinWatermark)."""
    from n8n_tools_api_spark.streaming import dedup_batch_twin

    base_ts = F.to_timestamp(F.lit("2024-06-01 12:00:00"))
    docs = _t(spark, sf_dir, "documents", below=200).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (base_ts + F.make_interval(mins=F.col("doc_id").cast("int")))
        .alias("event_time"),
        "text",
    )
    dups = _t(spark, sf_dir, "documents", below=50).select(
        F.concat(F.lit("dup_"), F.col("doc_id").cast("string")).alias("doc_id"),
        (base_ts + F.make_interval(mins=(F.col("doc_id") + 500).cast("int")))
        .alias("event_time"),
        "text",
    )
    corpus = docs.unionByName(dups)
    return (
        dedup_batch_twin(corpus)
        .select("doc_id",
                F.date_format("event_time", "yyyy-MM-dd HH:mm:ss")
                .alias("event_time"),
                "content_hash")
        .orderBy("doc_id")
    )


STREAM_DEDUP_SQL = """
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         TIMESTAMP '2024-06-01 12:00:00'
           + to_minutes(CAST(doc_id AS INT)) AS event_time,
         text
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT 'dup_' || CAST(doc_id AS VARCHAR),
         TIMESTAMP '2024-06-01 12:00:00'
           + to_minutes(CAST(doc_id + 500 AS INT)),
         text
  FROM documents WHERE doc_id < 50
),
hashed AS (
  SELECT doc_id, event_time, sha256(text) AS content_hash,
         ROW_NUMBER() OVER (
           PARTITION BY COALESCE(sha256(text), '__nulltext__:' || doc_id)
           ORDER BY event_time, doc_id) AS rn
  FROM corpus
)
SELECT doc_id,
       strftime(event_time, '%Y-%m-%d %H:%M:%S') AS event_time,
       content_hash
FROM hashed WHERE rn = 1
ORDER BY doc_id
"""


def ocr_enhanced_images(spark, sf_dir):
    """Official-format normalization + F8/F10 image enrichment over a
    deterministic ocr_responses fixture (FIXTURES.md §5 shape) — the
    DuckDB oracle regenerates the same d/p/k fixture via
    generate_series and replays the coordinate/quadrant/size math.
    """
    from n8n_tools_api_spark.operators.ocr_normalize import enhanced_images

    schema = (
        "doc_id string, "
        "pages array<struct<index:int, markdown:string, "
        "images:array<struct<id:string,top_left_x:int,top_left_y:int,"
        "bottom_right_x:int,bottom_right_y:int,image_base64:string,"
        "image_annotation:string>>, "
        "dimensions:struct<dpi:int,height:int,width:int>>>, "
        "model string, "
        "usage_info struct<pages_processed:int, doc_size_bytes:bigint>, "
        "document_annotation string"
    )
    rows = []
    for d in range(20):
        pages = []
        for p in range(1 + d % 3):
            images = [
                (f"img_{p}_{k}", 30 * k + d, 40 * k, 30 * k + d + 150,
                 40 * k + 180, "b64==" if k % 2 == 0 else "",
                 f"note {k}" if k % 3 == 0 else "")
                for k in range(d % 4)
            ]
            pages.append((p, f"page {p} of doc {d}", images, (200, 792, 612)))
        rows.append((f"ocr_{d:03d}", pages, "mistral-ocr-latest",
                     (len(pages), 1000 + d), ""))
    df = spark.createDataFrame(rows, schema)
    return (
        enhanced_images(df)
        .select("doc_id", "sequence_number", "page_number", "image_id",
                "width", "height",
                F.round("width_percent", 4).alias("width_percent"),
                "quadrant", "relative_size", "position_type",
                "has_annotation", "has_base64_data")
        .orderBy("doc_id", "sequence_number")
    )


# Every arithmetic step mirrors enhanced_images (ocr_normalize.py):
# int/int division is double in both engines, and the percent math keeps
# the exact expression order ((a/dim)*100) so IEEE results are identical.
OCR_ENHANCED_SQL = """
WITH docs AS (
  SELECT unnest(generate_series(0, 19)) AS d
),
pages AS (
  SELECT d, unnest(generate_series(0, d % 3)) AS p FROM docs
),
imgs AS (
  SELECT d, p, unnest(generate_series(0, d % 4 - 1)) AS k FROM pages
),
coords AS (
  SELECT d, p, k,
         30 * k + d AS tlx, 40 * k AS tly,
         30 * k + d + 150 AS brx, 40 * k + 180 AS bry,
         (30 * k + d) / 612 * 100 AS tlx_pct,
         (40 * k) / 792 * 100 AS tly_pct,
         (30 * k + d + 150) / 612 * 100 AS brx_pct,
         (40 * k + 180) / 792 * 100 AS bry_pct
  FROM imgs
),
enriched AS (
  SELECT d, p, k, tlx, tly, brx, bry,
         brx_pct - tlx_pct AS width_pct,
         (tlx_pct + brx_pct) / 2 AS center_x,
         (tly_pct + bry_pct) / 2 AS center_y,
         (brx_pct - tlx_pct) * (bry_pct - tly_pct) / 100 AS area_pct
  FROM coords
)
SELECT 'ocr_' || lpad(CAST(d AS VARCHAR), 3, '0') AS doc_id,
       CAST(row_number() OVER (PARTITION BY d ORDER BY p, k) AS INT)
         AS sequence_number,
       CAST(p + 1 AS INT) AS page_number,
       'img_' || p || '_' || k AS image_id,
       CAST(brx - tlx AS INT) AS width,
       CAST(bry - tly AS INT) AS height,
       round(width_pct, 4) AS width_percent,
       CASE WHEN center_x < 50 AND center_y < 50 THEN 'top-left'
            WHEN center_x >= 50 AND center_y < 50 THEN 'top-right'
            WHEN center_x < 50 AND center_y >= 50 THEN 'bottom-left'
            ELSE 'bottom-right' END AS quadrant,
       CASE WHEN area_pct > 25 THEN 'large'
            WHEN area_pct > 5 THEN 'medium'
            ELSE 'small' END AS relative_size,
       CASE WHEN center_x > 20 AND center_x < 80 THEN 'centered-horizontal'
            WHEN center_x <= 20 THEN 'left-aligned'
            ELSE 'right-aligned' END AS position_type,
       (k % 3 = 0) AS has_annotation,
       (k % 2 = 0) AS has_base64_data
FROM enriched
ORDER BY doc_id, sequence_number
"""


def processing_info_rollup(spark, sf_dir):
    """Per-request processing_info (ocr_response_formatter.py:752-810)
    over metrics derived from the documents table — duration is an
    input column in batch-land, so the tiers/ratios are deterministic
    and DuckDB-replayable. Covers the tier taxonomy incl. the zero-
    duration 'unknown' path and the model default."""
    from n8n_tools_api_spark.operators.formatter import processing_info

    docs = _t(spark, sf_dir, "documents", below=200)
    metrics = docs.select(
        F.col("doc_id").alias("req_id"),
        ((F.col("doc_id") % 40) * 1000).cast("double").alias("processing_time_ms"),
        F.when(F.col("doc_id") % 2 == 0, "pdf_upload").otherwise("image_url")
        .alias("source_type"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("mistral-ocr-latest")).alias("model"),
        (1 + F.col("doc_id") % 12).cast("int").alias("pages_processed"),
        F.length("text").cast("bigint").alias("total_text_length"),
    )
    return processing_info(metrics).orderBy("req_id")


PROCESSING_INFO_SQL = """
WITH metrics AS (
  SELECT doc_id AS req_id,
         CAST((doc_id % 40) * 1000 AS DOUBLE) AS ms,
         CASE WHEN doc_id % 2 = 0 THEN 'pdf_upload'
              ELSE 'image_url' END AS source_type,
         CASE WHEN doc_id % 5 = 0 THEN NULL
              ELSE 'mistral-ocr-latest' END AS model,
         CAST(1 + doc_id % 12 AS INT) AS pages_processed,
         CAST(length(text) AS BIGINT) AS total_text_length
  FROM documents WHERE doc_id < 200
)
SELECT req_id,
       round(ms, 2) AS processing_time_ms,
       source_type,
       COALESCE(model, 'mistral-ocr-latest') AS ai_model_used,
       'mistral-ai' AS service_provider,
       pages_processed,
       CASE WHEN ms > 0 THEN round(total_text_length / (ms / 1000), 2)
            ELSE 0.0 END AS characters_per_second,
       CASE WHEN ms > 0 THEN round(pages_processed / (ms / 1000), 2)
            ELSE 0.0 END AS pages_per_second,
       CASE WHEN ms IS NULL OR ms <= 0 THEN 'unknown'
            WHEN ms < 5000 THEN 'excellent'
            WHEN ms < 15000 THEN 'good'
            WHEN ms < 30000 THEN 'average'
            ELSE 'slow' END AS processing_efficiency
FROM metrics
ORDER BY req_id
"""


def url_landing(spark, sf_dir):
    """URL-LANDING ORACLE (S3's deterministic core, reclaimed from
    documented-n/a): the reference's post-download classification —
    filename derivation, gate order, extension → content-type → magic
    type ladder, magic validation, exact messages
    (ocr_utils.py:257-371) — as the pure-column-expression
    operators/landing.py plan over a deterministic request corpus.
    The 12 branches plant every disposition, including the reference's
    quirks: the extensionless-PNG → 'Invalid PDF' rejection, the
    hidden-file '.pdf' path that makes the ladder reachable
    ('.pdf.pdf'), and the sniff path labeling JPEG bytes 'jpg' while
    the extension path says 'jpeg'. DuckDB independently replays the
    whole ladder on hex strings."""
    from n8n_tools_api_spark.operators.landing import url_landing_plan

    docs = _t(spark, sf_dir, "documents", below=240)
    m = (F.col("doc_id") % 12).cast("int")
    did = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://cdn.example.com/docs/f"), did,
                                F.lit(".pdf?sig=1")))
        .when(m == 1, F.concat(F.lit("https://img.example.com/i"), did,
                               F.lit(".png")))
        .when(m == 2, F.concat(F.lit("https://h.example.com/photos/p"), did,
                               F.lit(".JPG")))
        .when(m == 3, F.concat(F.lit("https://h.example.com/scans/t"), did,
                               F.lit(".tiff")))
        .when(m == 4, F.concat(F.lit("https://dl.example.com/report"), did))
        .when(m == 5, F.concat(F.lit("https://dl.example.com/x"), did))
        .when(m == 6, F.concat(F.lit("https://h.example.com/a"), did,
                               F.lit(".pdf")))
        .when(m == 7, F.concat(F.lit("https://h.example.com/big"), did,
                               F.lit(".pdf")))
        .when(m == 8, F.concat(F.lit("https://h.example.com/empty"), did,
                               F.lit(".png")))
        .when(m == 9, F.concat(F.lit("https://h.example.com/d"), did,
                               F.lit("/.pdf")))
        .when(m == 10, F.concat(F.lit("https://h.example.com/d"), did,
                                F.lit("/.png")))
        .otherwise(F.concat(F.lit("https://h.example.com/d"), did,
                            F.lit("/.tiff")))
    )
    status = F.when(m == 6, 404).otherwise(200).cast("int")
    ct = (
        F.when(m.isin(0, 4, 7, 9), "application/pdf")
        .when(m.isin(1, 8), "image/png")
        .when(m == 2, "image/jpeg")
        .when(m.isin(5, 10), "application/octet-stream")
        .when(m == 11, "text/plain")
        .otherwise(F.lit(None).cast("string"))
    )
    clh = (
        F.when(m == 1, 2048)
        .when(m == 7, 62914560)
        .otherwise(F.lit(None)).cast("bigint")
    )
    hexp = (
        F.when(m == 0, "255044462D312E34")
        .when(m.isin(1, 5), "89504E470D0A1A0A00")
        .when(m == 2, "FFD8FFE0")
        .when(m == 3, "4D4D002A00")
        .when(m.isin(4, 6, 7, 9), "25504446")
        .when(m == 8, "")
        .when(m == 10, "FFD8FFDB")
        .otherwise("DEADBEEF")
    )
    reqs = docs.select(
        url.alias("url"), status.alias("http_status"),
        ct.alias("content_type"), clh.alias("content_length_header"),
        F.unhex(hexp).alias("payload"),
    )
    return url_landing_plan(reqs).orderBy("url")


# Independent DuckDB replay of the classification ladder on hex
# strings (ocr_utils.py:272-343 semantics incl. splitext's leading-dot
# rule; 52428800 = MAX_FILE_SIZE).
URL_LANDING_SQL = r"""
WITH reqs AS (
  SELECT
    CASE m
      WHEN 0 THEN 'https://cdn.example.com/docs/f' || d || '.pdf?sig=1'
      WHEN 1 THEN 'https://img.example.com/i' || d || '.png'
      WHEN 2 THEN 'https://h.example.com/photos/p' || d || '.JPG'
      WHEN 3 THEN 'https://h.example.com/scans/t' || d || '.tiff'
      WHEN 4 THEN 'https://dl.example.com/report' || d
      WHEN 5 THEN 'https://dl.example.com/x' || d
      WHEN 6 THEN 'https://h.example.com/a' || d || '.pdf'
      WHEN 7 THEN 'https://h.example.com/big' || d || '.pdf'
      WHEN 8 THEN 'https://h.example.com/empty' || d || '.png'
      WHEN 9 THEN 'https://h.example.com/d' || d || '/.pdf'
      WHEN 10 THEN 'https://h.example.com/d' || d || '/.png'
      ELSE 'https://h.example.com/d' || d || '/.tiff' END AS url,
    CASE WHEN m = 6 THEN 404 ELSE 200 END AS status,
    CASE WHEN m IN (0, 4, 7, 9) THEN 'application/pdf'
         WHEN m IN (1, 8) THEN 'image/png'
         WHEN m = 2 THEN 'image/jpeg'
         WHEN m IN (5, 10) THEN 'application/octet-stream'
         WHEN m = 11 THEN 'text/plain' END AS ct,
    CASE WHEN m = 1 THEN 2048 WHEN m = 7 THEN 62914560 END AS clh,
    CASE m
      WHEN 0 THEN '255044462D312E34'
      WHEN 1 THEN '89504E470D0A1A0A00'
      WHEN 2 THEN 'FFD8FFE0'
      WHEN 3 THEN '4D4D002A00'
      WHEN 5 THEN '89504E470D0A1A0A00'
      WHEN 8 THEN ''
      WHEN 10 THEN 'FFD8FFDB'
      WHEN 11 THEN 'DEADBEEF'
      ELSE '25504446' END AS hexp
  FROM (SELECT CAST(doc_id AS VARCHAR) AS d, CAST(doc_id % 12 AS INT) AS m
        FROM documents WHERE doc_id < 240)
),
parsed AS (
  SELECT *,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)', 1)
      AS path
  FROM reqs
),
f1 AS (
  SELECT *, CASE WHEN lower(b) LIKE '%.pdf' OR lower(b) LIKE '%.png'
                   OR lower(b) LIKE '%.jpg' OR lower(b) LIKE '%.jpeg'
                   OR lower(b) LIKE '%.tiff'
                 THEN b ELSE b || '.pdf' END AS fname1
  FROM (SELECT *,
          COALESCE(NULLIF(regexp_extract(path, '([^/]*)$', 1), ''),
                   'remote_document') AS b
        FROM parsed)
),
typed AS (
  SELECT *, CASE WHEN e IN ('.jpg', '.jpeg') THEN 'jpeg'
                 WHEN e = '.png' THEN 'png'
                 WHEN e = '.tiff' THEN 'tiff'
                 WHEN e = '.pdf' THEN 'pdf'
                 ELSE 'unknown' END AS ext_type
  FROM (SELECT *,
          lower(regexp_extract(regexp_replace(fname1, '^\.+', ''),
                               '(\.[^.]*)$', 1)) AS e
        FROM f1)
),
laddered AS (
  SELECT *,
    CASE WHEN ext_type != 'unknown' THEN ext_type ELSE ladder_type END
      AS ftype,
    CASE WHEN ext_type = 'unknown' AND ladder_type != 'unknown'
         THEN fname1 || '.' ||
              CASE WHEN ladder_type = 'jpeg' THEN 'jpg'
                   ELSE ladder_type END
         ELSE fname1 END AS fname2
  FROM (SELECT *,
          CASE WHEN ctl LIKE '%pdf%' THEN 'pdf'
               WHEN ctl LIKE '%png%' THEN 'png'
               WHEN ctl LIKE '%jpeg%' OR ctl LIKE '%jpg%' THEN 'jpeg'
               WHEN ctl LIKE '%tiff%' THEN 'tiff'
               WHEN starts_with(hexp, '25504446') THEN 'pdf'
               WHEN starts_with(hexp, '89504E470D0A1A0A') THEN 'png'
               WHEN starts_with(hexp, 'FFD8FF') THEN 'jpg'
               WHEN starts_with(hexp, '49492A00')
                 OR starts_with(hexp, '4D4D002A') THEN 'tiff'
               ELSE 'unknown' END AS ladder_type
        FROM (SELECT *, lower(COALESCE(ct, '')) AS ctl FROM typed))
),
checked AS (
  SELECT *,
    CASE WHEN status != 200
         THEN 'Failed to download file: HTTP ' || status
         WHEN clh IS NOT NULL AND clh > 52428800
         THEN 'Remote file too large. Max size: 50.0MB'
         WHEN len(hexp) / 2 > 52428800
         THEN 'Remote file too large. Max size: 50.0MB'
         WHEN len(hexp) = 0 THEN 'Empty file downloaded from URL'
         WHEN ftype != 'unknown' AND NOT (
              CASE WHEN ftype = 'pdf' THEN starts_with(hexp, '25504446')
                   WHEN ftype = 'png' THEN starts_with(hexp, '89504E470D0A1A0A')
                   WHEN ftype IN ('jpg', 'jpeg') THEN starts_with(hexp, 'FFD8FF')
                   WHEN ftype = 'tiff' THEN starts_with(hexp, '49492A00')
                     OR starts_with(hexp, '4D4D002A')
                   ELSE FALSE END)
         THEN 'Invalid ' || upper(ftype)
              || ' file format - incorrect file signature'
         WHEN ftype = 'unknown'
         THEN 'Unable to determine file type from URL' END AS reason,
    (status != 200 OR (clh IS NOT NULL AND clh > 52428800)
     OR len(hexp) / 2 > 52428800 OR len(hexp) = 0) AS pre_reject
  FROM laddered
)
SELECT url,
       CASE WHEN pre_reject THEN fname1 ELSE fname2 END AS filename,
       CASE WHEN pre_reject THEN 'unknown' ELSE ftype END AS file_type,
       CASE WHEN reason IS NULL THEN 'accept' ELSE 'reject' END AS action,
       reason
FROM checked
ORDER BY url
"""


def media_resize_plan(spark, sf_dir):
    """MULTIMODAL RESIZE ORACLE: the REAL stdlib PNG header codec
    (operators/multimodal.py — struct-parsed IHDR) under the fit-in-box
    resize plan, cross-checked end-to-end: the corpus is genuine PNG
    headers BUILT IN-QUERY (dims/color type derived from doc_id, hex →
    unhex), Spark decodes them with the actual mapInPandas codec, and
    DuckDB computes the expected dims/channels/scale closed-form from
    the same doc_id arithmetic — so a codec regression (byte offsets,
    endianness, the color-type channel map) breaks the hash."""
    from n8n_tools_api_spark.operators.multimodal import (
        decode_media,
        resize_plan,
    )

    docs = _t(spark, sf_dir, "documents", below=300)
    w = (64 + (F.col("doc_id") * 37) % 1200).cast("bigint")
    h = (48 + (F.col("doc_id") * 53) % 900).cast("bigint")
    color = F.element_at(F.array(F.lit(0), F.lit(2), F.lit(3), F.lit(4),
                                 F.lit(6)),
                         (F.col("doc_id") % 5 + 1).cast("int"))
    payload_hex = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        F.lpad(F.hex(w), 8, "0"), F.lpad(F.hex(h), 8, "0"),
        F.lit("08"), F.lpad(F.hex(color), 2, "0"),
        F.lit("00000000000000"),
    )
    assets = docs.select(
        F.concat(F.lit("m"),
                 F.lpad(F.col("doc_id").cast("string"), 4, "0"))
        .alias("media_key"),
        F.lit("image").alias("kind"),
        F.unhex(payload_hex).alias("media_bytes"),
    )
    return resize_plan(decode_media(assets)).orderBy("media_key")


# Closed-form replay: dims/channels from the doc_id arithmetic the
# Spark side encoded into real PNG headers; resize math in the same
# expression order (scale = least(1, 512/w, 512/h), floor + 1px guard).
MEDIA_RESIZE_SQL = """
WITH dims AS (
  SELECT 'm' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS media_key,
         CAST(64 + (doc_id * 37) % 1200 AS INT) AS width,
         CAST(48 + (doc_id * 53) % 900 AS INT) AS height,
         CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3
           WHEN 3 THEN 2 ELSE 4 END AS n_channels
  FROM documents WHERE doc_id < 300
),
scaled AS (
  SELECT *, LEAST(1.0, 512.0 / width, 512.0 / height) AS scale FROM dims
)
SELECT media_key, 'image' AS kind, width, height, n_channels,
       CAST(GREATEST(1, floor(width * scale)) AS INT) AS out_width,
       CAST(GREATEST(1, floor(height * scale)) AS INT) AS out_height,
       round(scale * 100, 4) AS scale_pct,
       scale < 1.0 AS resized
FROM scaled
ORDER BY media_key
"""


def media_frame_samples(spark, sf_dir):
    """MULTIMODAL FRAME-SAMPLE ORACLE: the frame-sampling plan
    (operators/multimodal.py::sample_frames — documented deterministic
    duration fake at 1024 B/s, real 2-fps sampling grid with a
    16-frame cap) over audio/video payloads built in-query; DuckDB
    replays duration → frame count → timestamps closed-form, including
    the cap's frames_dropped accounting."""
    from n8n_tools_api_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents", below=200)
    n_bytes = (256 + (F.col("doc_id") * 97) % 16384).cast("int")
    assets = docs.select(
        F.concat(F.lit("m"),
                 F.lpad(F.col("doc_id").cast("string"), 4, "0"))
        .alias("media_key"),
        F.when(F.col("doc_id") % 2 == 0, "video").otherwise("audio")
        .alias("kind"),
        F.unhex(F.repeat(F.lit("AB"), n_bytes)).alias("media_bytes"),
    )
    return sample_frames(assets).orderBy("media_key", "frame_idx")


MEDIA_FRAMES_SQL = """
WITH assets AS (
  SELECT 'm' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS media_key,
         CASE WHEN doc_id % 2 = 0 THEN 'video' ELSE 'audio' END AS kind,
         CAST(256 + (doc_id * 97) % 16384 AS INT) AS n_bytes
  FROM documents WHERE doc_id < 200
),
counted AS (
  SELECT *,
         CAST(floor(n_bytes / 1024.0 * 1000 / 1000 * 2.0) AS INT) + 1
           AS n_total
  FROM assets
),
kept AS (
  SELECT *, LEAST(16, n_total) AS n_kept FROM counted
)
SELECT media_key, kind,
       CAST(unnest(generate_series(0, n_kept - 1)) AS INT) AS frame_idx,
       round(CAST(unnest(generate_series(0, n_kept - 1)) AS INT)
             / 2.0 * 1000, 4) AS ts_ms,
       CAST(n_total - n_kept AS INT) AS frames_dropped
FROM kept
ORDER BY media_key, frame_idx
"""


def gopher_repetition_q(spark, sf_dir):
    """GOPHER-REPETITION ORACLE: the Rae et al. 2021 (Appendix A1.1)
    repetition filters — duplicate-line fraction/char-fraction and
    top-2/3-gram char coverage with the paper's gates — over
    documents<300 plus planted pathological docs: 30 ``rep_`` docs
    (one 40-char line repeated 5×, unique tail → dup_line_frac 4/6)
    and 20 ``gram_`` docs ('spam ham '×40 → top-2-gram ≈0.85). DuckDB
    replays lines/grams/windows exactly (same trim and \\s+ split,
    ties broken (count DESC, gram ASC))."""
    from n8n_tools_api_spark.operators.textstats import gopher_repetition

    docs = _t(spark, sf_dir, "documents", below=300)
    did = F.col("doc_id").cast("string")
    line40 = F.regexp_replace(F.substring(F.col("text"), 1, 40), "\n", " ")
    corpus = _planted(
        docs,
        _branch(docs, "rep_", 30, F.concat(
            F.repeat(F.concat(line40, F.lit("\n")), 5), F.lit("tail "), did)),
        _branch(docs, "gram_", 20, F.concat(
            F.repeat(F.lit("spam ham "), 40), F.lit("unique"), did)))
    return gopher_repetition(corpus).orderBy("doc_id")


def _gopher_gate_ctes(src: str) -> str:
    """Gopher repetition replay over the (doc_id, text) rows of ``src``:
    duplicate-line fraction/char-fraction and the top-2/3-gram char
    coverage (most-frequent REPEATED word n-gram: count × gram length /
    total chars, >=2 floor, (count DESC, gram ASC) tie-break) with the
    paper's gates → ``q_rep`` (every gopher_repetition column),
    ``q_gate(doc_id, keep)`` and ``qcorpus``, the rows of ``src`` it
    keeps. Same trim and whitespace split as the operator."""
    tops = ",\n".join(rf"""q_g{n}top AS (
  SELECT doc_id, round(cnt * length(gram) / total_chars, 6) AS top{n}
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, gram ASC) AS rn
        FROM (SELECT doc_id, total_chars, gram, COUNT(*) AS cnt
              FROM (SELECT doc_id, total_chars,
                           unnest(CASE WHEN len(ws) >= {n} THEN
                             [array_to_string(ws[i:i+{n - 1}], ' ')
                              for i in generate_series(1, len(ws) - {n - 1})]
                           ELSE [] END) AS gram
                    FROM q_words)
              GROUP BY doc_id, total_chars, gram HAVING COUNT(*) >= 2))
  WHERE rn = 1
)""" for n in (2, 3))
    return rf"""q_lines AS (
  SELECT doc_id, trim(l) AS line
  FROM {src}, unnest(string_split(COALESCE(text, ''), chr(10))) AS t(l)
  WHERE trim(l) != ''
),
q_line_groups AS (
  SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS len
  FROM q_lines GROUP BY doc_id, line
),
q_line_stats AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
           AS dup_lines,
         CAST(SUM(cnt * len) AS BIGINT) AS line_chars,
         CAST(SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * len ELSE 0 END)
              AS BIGINT) AS dup_line_chars
  FROM q_line_groups GROUP BY doc_id
),
q_words AS (
  SELECT doc_id, length(COALESCE(text, '')) AS total_chars,
         [w for w in regexp_split_to_array(trim(COALESCE(text, '')), '\s+')
          if w != ''] AS ws
  FROM {src}
),
{tops},
q_rep AS (
  SELECT *,
         (dup_line_frac <= 0.30 AND top2gram_char_frac <= 0.20
          AND top3gram_char_frac <= 0.18) AS gopher_keep
  FROM (
    SELECT c.doc_id,
           COALESCE(n_lines, 0) AS n_lines,
           round(COALESCE(CAST(dup_lines AS DOUBLE) / n_lines, 0), 6)
             AS dup_line_frac,
           round(COALESCE(CAST(dup_line_chars AS DOUBLE) / line_chars, 0), 6)
             AS dup_line_char_frac,
           COALESCE(top2, 0.0) AS top2gram_char_frac,
           COALESCE(top3, 0.0) AS top3gram_char_frac
    FROM {src} c
    LEFT JOIN q_line_stats USING (doc_id)
    LEFT JOIN q_g2top USING (doc_id)
    LEFT JOIN q_g3top USING (doc_id))
),
q_gate AS (SELECT doc_id, gopher_keep AS keep FROM q_rep),
qcorpus AS (
  SELECT c.doc_id, c.text FROM {src} c JOIN q_gate g USING (doc_id)
  WHERE g.keep
)"""


GOPHER_REPETITION_SQL = """
WITH corpus AS (
""" + _planted_sql(300, "COALESCE(text, '')", [
    ("rep_", 30, r"""COALESCE(repeat(regexp_replace(substring(text, 1, 40), '\n', ' ')
                         || chr(10), 5)
                  || 'tail ' || CAST(doc_id AS VARCHAR), '')"""),
    ("gram_", 20,
     "repeat('spam ham ', 40) || 'unique' || CAST(doc_id AS VARCHAR)"),
]) + """
),
""" + _gopher_gate_ctes("corpus") + """
SELECT * FROM q_rep
ORDER BY doc_id
"""


def lineage_health(spark, sf_dir):
    """The A9/O3 health-score model (error_metrics.py:421-458 weighted
    score + 5-tier status, :460-520 fixed-priority recommendations,
    ocr.py:225 top-3 slice) over a deterministic operations log derived
    from the documents table. The 8 service groups are tuned to plant
    every status tier (critical/excellent/fair/good/poor), the
    no-recommendation fallback (group 1), a single-rec group (group 2),
    the low-volume branch (group 0 has 4 ops), and both error-code-
    specific recommendations inside AND cut off by the top-3 slice.
    All ms values are integer-valued doubles so the sums are exact and
    the DuckDB replay is bit-identical."""
    from n8n_tools_api_spark.operators.health import health_rollup

    docs = _t(spark, sf_dir, "documents", below=400)
    svc = (
        F.when(F.col("doc_id") < 4, F.lit(0))
        .otherwise(1 + F.col("doc_id") % 7)
        .cast("int")
    )
    base = docs.select("doc_id", svc.alias("svc_group"))
    g = F.col("svc_group")
    err_mod = (
        F.when(g == 0, 2).when(g == 3, 6).when(g == 4, 8)
        .when(g == 5, 9).when(g == 6, 10).when(g == 7, 29)
    )
    is_err = err_mod.isNotNull() & (F.col("doc_id") % err_mod == 0)
    code = (
        F.when(~is_err, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 3 == 0, "FILE_TOO_LARGE")
        .when(F.col("doc_id") % 3 == 1, "API_AUTHENTICATION_FAILED")
        .otherwise("PROCESSING_FAILED")
    )
    ms_factor = (
        F.when(g == 0, 20000).when(g == 2, 1200).when(g == 7, 100)
        .otherwise(g * 100)
    )
    ops = base.select(
        "svc_group",
        code.alias("error_code"),
        ((F.col("doc_id") % 50) * ms_factor).cast("double")
        .alias("processing_time_ms"),
    )
    return health_rollup(ops).orderBy("svc_group")


# Mirrors operators/health.py exactly: same expression order for the
# weighted score (ers*0.5 + ls*0.3 + vs*0.2, left-assoc), status tiers
# on the UNROUNDED score, fixed-priority recommendation list sliced to
# three. Integer sums wrapped in CAST(.. AS BIGINT) (DuckDB HUGEINT).
LINEAGE_HEALTH_SQL = """
WITH grouped AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id < 4 THEN 0 ELSE 1 + doc_id % 7 END AS INT)
           AS svc_group
  FROM documents WHERE doc_id < 400
),
ops AS (
  SELECT svc_group,
         CASE WHEN err_mod IS NOT NULL AND doc_id % err_mod = 0 THEN
              CASE WHEN doc_id % 3 = 0 THEN 'FILE_TOO_LARGE'
                   WHEN doc_id % 3 = 1 THEN 'API_AUTHENTICATION_FAILED'
                   ELSE 'PROCESSING_FAILED' END
         END AS error_code,
         CAST((doc_id % 50) *
              CASE svc_group WHEN 0 THEN 20000 WHEN 2 THEN 1200
                             WHEN 7 THEN 100 ELSE svc_group * 100 END
              AS DOUBLE) AS processing_time_ms
  FROM (SELECT doc_id, svc_group,
               CASE svc_group WHEN 0 THEN 2 WHEN 3 THEN 6 WHEN 4 THEN 8
                              WHEN 5 THEN 9 WHEN 6 THEN 10 WHEN 7 THEN 29
               END AS err_mod
        FROM grouped)
),
agg AS (
  SELECT svc_group,
         CAST(COUNT(*) AS BIGINT) AS total_requests,
         CAST(COUNT(error_code) AS BIGINT) AS total_errors,
         CAST(SUM(CASE WHEN error_code = 'API_AUTHENTICATION_FAILED'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_auth,
         CAST(SUM(CASE WHEN error_code = 'FILE_TOO_LARGE'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_too_large,
         CAST(SUM(processing_time_ms) AS DOUBLE) AS sum_ms
  FROM ops GROUP BY svc_group
),
rated AS (
  SELECT *,
         CAST(total_errors AS DOUBLE) / total_requests AS error_rate,
         sum_ms / total_requests AS avg_ms
  FROM agg
),
scored AS (
  SELECT *,
         GREATEST(0.0, 100.0 - error_rate * 500.0) AS ers,
         GREATEST(0.0, 100.0 - avg_ms / 100.0) AS ls,
         CASE WHEN total_requests > 0
              THEN LEAST(100.0, CAST(total_requests * 2 AS DOUBLE))
              ELSE 0.0 END AS vs
  FROM rated
),
health AS (
  SELECT *, ers * 0.5 + ls * 0.3 + vs * 0.2 AS h FROM scored
),
recs AS (
  SELECT *,
    list_filter([
      CASE WHEN error_rate > 0.1 THEN
        'High error rate detected - review error logs and fix common issues' END,
      CASE WHEN avg_ms > 15000 THEN
        'Slow processing times - consider optimizing document processing' END,
      CASE WHEN total_requests < 10 THEN
        'Low request volume - verify service availability and monitoring' END,
      CASE WHEN h < 50 THEN
        'Critical health score - immediate investigation required' END,
      CASE WHEN n_auth > 0 THEN
        'Authentication failures detected - verify API key configuration' END,
      CASE WHEN n_too_large > 0 THEN
        'File size errors - consider implementing better size validation' END
    ], x -> x IS NOT NULL) AS rl
  FROM health
)
SELECT svc_group, total_requests, total_errors,
       round(error_rate, 4) AS error_rate,
       round(1.0 - error_rate, 4) AS success_rate,
       round(avg_ms, 2) AS avg_processing_time_ms,
       round(ers, 1) AS error_rate_score,
       round(ls, 1) AS latency_score,
       round(vs, 1) AS volume_score,
       round(h, 1) AS health_score,
       CASE WHEN h >= 90 THEN 'excellent' WHEN h >= 75 THEN 'good'
            WHEN h >= 50 THEN 'fair' WHEN h >= 25 THEN 'poor'
            ELSE 'critical' END AS status,
       CASE WHEN len(rl) = 0
            THEN 'System operating normally - continue monitoring'
            ELSE rl[1] END AS rec_1,
       CASE WHEN len(rl) = 0 THEN NULL ELSE rl[2] END AS rec_2,
       CASE WHEN len(rl) = 0 THEN NULL ELSE rl[3] END AS rec_3
FROM recs
ORDER BY svc_group
"""


def _paged_format_corpus(spark, sf_dir):
    """Deterministic multi-page interleaved corpus from the documents
    table: 4 consecutive rows become one parent document's pdf_page
    spans. Parent-keyed variations exercise every formatted-response
    branch: parents %5∈{3,4} get 5×-inflated pages (bodies cross the
    5000-char TOC gate), %5==4 parents add two extra ## headers per
    page (>10 headers → the '... and K more sections' tail), %3==0/1
    parents plant exactly one confidence/accuracy marker (A7's verbatim
    and percentage branches; %3==2 parents exercise the None path).
    One marker per parent by construction — the corpus has zero natural
    markers (probed) — so the A7 average is a single value and immune
    to float-sum ordering.
    """
    docs = _t(spark, sf_dir, "documents", below=400)
    did = F.col("doc_id").cast("string")
    parent = F.floor(F.col("doc_id") / 4).cast("bigint")
    page_idx = (F.col("doc_id") % 4).cast("int")
    extra_headers = F.when(
        parent % 5 == 4,
        F.concat(F.lit("## Sub "), did, F.lit("a\n"),
                 F.lit("## Sub "), did, F.lit("b\n")),
    ).otherwise(F.lit(""))
    body = F.when(parent % 5 >= 3,
                  F.repeat(F.concat(F.col("text"), F.lit(" ")), 5)) \
        .otherwise(F.col("text"))
    marker = (
        F.when((page_idx == 0) & (parent % 3 == 0),
               F.lit("\nconfidence: 87.5"))
        .when((page_idx == 2) & (parent % 3 == 1), F.lit("\naccuracy: 42"))
        .otherwise(F.lit(""))
    )
    raw = F.concat(F.lit("# Sec "), did, F.lit("\n"),
                   extra_headers, body, marker)
    pages = docs.select(parent.alias("parent"), page_idx.alias("page_idx"),
                        raw.alias("raw"))
    return pages.groupBy("parent").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("page_idx").alias("offset"), F.col("raw").alias("page_text")
        ))).alias("ps")
    ).select(
        F.concat(F.lit("fdoc_"),
                 F.lpad(F.col("parent").cast("string"), 4, "0")).alias("doc_id"),
        F.transform("ps", lambda p: F.struct(
            F.lit("pdf_page").alias("kind"),
            p["page_text"].alias("text"),
            F.lit("").alias("media_ref"),
            p["offset"].cast("int").alias("offset"),
        )).alias("spans"),
    )


def formatted_fingerprints(spark, sf_dir):
    """FORMATTED-RESPONSE ORACLE (F2/F3 + A5-A7 combined — round-2
    verdict #1): the real mapInPandas formatter stage
    (operators/formatter.py, semantics ocr_response_formatter.py:
    105-195 banners/TOC, 641-713 density/language, 715-750 confidence)
    over a deterministic sf-derived multi-page corpus, md5-fingerprinted
    per document and replayed end-to-end in DuckDB: the six F1 cleaning
    regexes, PAGE banners + End-of-Page rails, strip, header scan, TOC
    assembly (both the plain and '... and K more' branches), char-
    coverage language scoring, and confidence-marker mining.
    """
    from n8n_tools_api_spark.operators.formatter import format_documents

    out = format_documents(_paged_format_corpus(spark, sf_dir))
    return out.select(
        "doc_id",
        F.md5(F.col("extracted_text").cast("binary")).alias("text_md5"),
        F.col("extracted_text").startswith("\n📋").alias("has_toc"),
        "total_characters",
        "estimated_words",
        "text_density",       # int/4: exact in binary on both sides
        "image_density",
        "content_ratio",
        "language",
        # floor-truncate: reproducible in DuckDB (same rule as A6)
        (F.floor(F.col("language_confidence") * 1e6) / 1e6)
        .alias("language_confidence"),
        "confidence_score",   # single planted marker per parent: exact
    ).orderBy("doc_id")


# the six F1 cleaning regexes as nested DuckDB RE2 replaces (the same
# replay EXTRACT_CLEAN_SQL verified byte-identical to Python `re` on
# this corpus), followed by a full-whitespace-charset trim (= .strip())
def _clean6_sql(expr: str) -> str:
    return (
        "trim("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(regexp_replace("
        f"{expr}"
        r", '\n\s*\n\s*\n', '\n\n', 'g')"
        r", '[ \t]+', ' ', 'g')"
        r", '([a-z])([A-Z])', '\1 \2', 'g')"
        r", '([0-9]+)([A-Za-z])', '\1 \2', 'g')"
        r", '\s+([.!?,:;])', '\1', 'g')"
        r", '([.!?])\s*([A-Z])', '\1 \2', 'g')"
        f", {_WS_CHARSET})"
    )


FORMATTED_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         doc_id // 4 AS parent,
         CAST(doc_id % 4 AS INT) AS page_idx,
         '# Sec ' || CAST(doc_id AS VARCHAR) || chr(10)
         || CASE WHEN (doc_id // 4) % 5 = 4
                 THEN '## Sub ' || CAST(doc_id AS VARCHAR) || 'a' || chr(10)
                   || '## Sub ' || CAST(doc_id AS VARCHAR) || 'b' || chr(10)
                 ELSE '' END
         || CASE WHEN (doc_id // 4) % 5 >= 3 THEN repeat(text || ' ', 5)
                 ELSE text END
         || CASE WHEN doc_id % 4 = 0 AND (doc_id // 4) % 3 = 0
                 THEN chr(10) || 'confidence: 87.5'
                 WHEN doc_id % 4 = 2 AND (doc_id // 4) % 3 = 1
                 THEN chr(10) || 'accuracy: 42'
                 ELSE '' END AS raw
  FROM documents WHERE doc_id < 400
),
cleaned AS (
  SELECT parent, page_idx, raw, {_clean6_sql('raw')} AS clean
  FROM base
),
assembled AS (
  SELECT parent,
         string_agg(
           chr(10) || repeat('=', 50) || chr(10) || '📄 PAGE '
             || CAST(page_idx + 1 AS VARCHAR) || ' of 4'
             || chr(10) || repeat('=', 50) || chr(10)
           || chr(10) || clean
           || CASE WHEN page_idx < 3
                   THEN chr(10) || chr(10) || repeat('-', 30)
                     || ' End of Page ' || repeat('-', 30) || chr(10)
                   ELSE '' END,
           chr(10) ORDER BY page_idx) AS joined,
         string_agg(raw, ' ' ORDER BY page_idx) AS all_raw,
         CAST(SUM(length(raw)) AS BIGINT) AS total_page_chars
  FROM cleaned
  GROUP BY parent
),
body AS (
  SELECT parent, total_page_chars, all_raw,
         trim(joined, {_WS_CHARSET}) AS body0
  FROM assembled
),
toc AS (
  SELECT parent, total_page_chars, all_raw, body0,
         regexp_extract_all(body0, '(?m)^#+\s+(.+)$', 1) AS headers
  FROM body
),
final_text AS (
  SELECT parent, total_page_chars, all_raw,
         CASE WHEN length(body0) > 5000 AND len(headers) > 3 THEN
           chr(10) || '📋 **Table of Contents**' || chr(10)
           || array_to_string([('• ' || h) for h in headers[1:10]], chr(10))
           || CASE WHEN len(headers) > 10
                   THEN chr(10) || '• ... and '
                     || CAST(len(headers) - 10 AS VARCHAR) || ' more sections'
                   ELSE '' END
           || chr(10) || chr(10) || repeat('-', 50) || chr(10) || chr(10)
           || body0
         ELSE body0 END AS extracted,
         length(body0) > 5000 AND len(headers) > 3 AS has_toc
  FROM toc
),
fmtlang AS (SELECT parent, all_raw AS text FROM final_text),
{_lang_detect_ctes("fmtlang", "parent")},
conf AS (
  SELECT parent, AVG(v) AS confidence_score
  FROM (
    SELECT parent, CASE WHEN s <= 1 THEN s ELSE s / 100 END AS v
    FROM (
      SELECT parent, TRY_CAST(m AS DOUBLE) AS s
      FROM base,
           UNNEST(regexp_extract_all(raw, '(?i)confidence[:\s]*([0-9.]+)', 1)
               || regexp_extract_all(raw, '(?i)accuracy[:\s]*([0-9.]+)', 1)
               || regexp_extract_all(raw, '(?i)certainty[:\s]*([0-9.]+)', 1))
             AS t(m)
    )
    WHERE s IS NOT NULL AND s >= 0 AND s <= 100
  )
  GROUP BY parent
)
SELECT 'fdoc_' || lpad(CAST(f.parent AS VARCHAR), 4, '0') AS doc_id,
       md5(f.extracted) AS text_md5,
       f.has_toc,
       CAST(length(f.extracted) AS BIGINT) AS total_characters,
       CAST(length(f.extracted) // 5 AS BIGINT) AS estimated_words,
       CAST(f.total_page_chars AS DOUBLE) / 4 AS text_density,
       0.0 AS image_density,
       CAST(f.total_page_chars AS DOUBLE) AS content_ratio,
       b.detected AS language,
       b.confidence AS language_confidence,
       c.confidence_score
FROM final_text f
JOIN langdet b USING (parent)
LEFT JOIN conf c USING (parent)
ORDER BY doc_id
"""


def extract_documents_stats_q(spark, sf_dir):
    """FLAGSHIP ORACLE (upgraded from rows-only, round 3): the entry()
    query — real mapInPandas extraction over every documents row
    wrapped as a one-span interleaved doc, rolled up to per-document
    span statistics — replayed in DuckDB via the proven clean6 mapping
    (extract_clean_fingerprints established byte-parity of the span
    text; this adds the span-count/char rollup on top)."""
    from n8n_tools_api_spark.plans.pipeline_queries import (
        extract_documents_stats)

    return extract_documents_stats(spark, sf_dir)


EXTRACT_STATS_SQL = rf"""
WITH cleaned AS (
  SELECT 'tdoc_' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
         {_clean6_sql("text")} AS ct
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN ct != '' THEN 1 ELSE 0 END AS INT) AS n_spans,
       CAST(CASE WHEN ct != '' THEN 1 ELSE 0 END AS INT) AS n_text_spans,
       CAST(0 AS INT) AS n_image_spans,
       CAST(0 AS INT) AS n_media_refs,
       CAST(CASE WHEN ct != '' THEN length(ct) ELSE 0 END AS BIGINT)
         AS text_chars
FROM cleaned
ORDER BY doc_id
"""


def _curation_corpus(spark, sf_dir):
    """documents<300 ∪ 40 planted exact copies ∪ 25 planted 90%-truncated
    near-dups — the deterministic corpus both curation queries share."""
    docs = _t(spark, sf_dir, "documents", below=300).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    copies = docs.where(F.col("doc_id").cast("bigint") < 40).select(
        F.concat(F.lit("copy_"), "doc_id").alias("doc_id"), "text")
    muts = docs.where(F.col("doc_id").cast("bigint") < 25).select(
        F.concat(F.lit("mut_"), "doc_id").alias("doc_id"),
        F.expr("substring(text, 1, cast(length(text) * 0.9 as int))")
        .alias("text"))
    return docs.unionByName(copies).unionByName(muts)


def curation_keep_list(spark, sf_dir):
    """COMPOSED-PIPELINE ORACLE (round-2 verdict #4): the engine's full
    curation flow — extract → F1 clean → exact content-hash dedup →
    n-gram-Jaccard near-dups → connected components → canonical
    keep-list — as ONE query, replayed end-to-end in DuckDB by chaining
    the already-proven replays (clean6 regexes, md5 window dedup, the
    ngram_jaccard_dups shingle replay incl. df-cap, and the recursive-CTE
    transitive closure from doc_chain_components).

    The LSH-prefiltered twin of this flow (the 100-TB path) is the
    rows-only ``curation_pipeline`` entry + BENCH suite 3.
    """
    from n8n_tools_api_spark.operators.curation import curation_keep_list as flow

    return flow(_curation_corpus(spark, sf_dir), use_lsh=False) \
        .orderBy("doc_id")


# Shared CTE chain for the curation replays: clean6 → md5 window dedup
# → shingle Jaccard w/ df-cap → recursive-CTE closure → keep-list.
_CURATION_CORPUS_CTE = "corpus AS (\n" + _planted_sql(300, "text", [
    ("copy_", 40, "text"), ("mut_", 25, _MUT_TEXT_SQL)]) + "\n)"


def _curation_tail(src: str) -> str:
    """cleaned→ranked→…→final CTE chain reading its input from
    ``src`` — 'corpus' for the plain flow, 'qcorpus' for the
    quality-gated composition."""
    return rf"""cleaned AS (
  SELECT doc_id, {_clean6_sql("COALESCE(text, '')")} AS ct FROM {src}
),
ranked AS (
  SELECT doc_id, ct,
         ROW_NUMBER() OVER (PARTITION BY md5(ct) ORDER BY doc_id) AS rn,
         FIRST_VALUE(doc_id) OVER (PARTITION BY md5(ct) ORDER BY doc_id)
           AS canon
  FROM cleaned
),
survivors AS (SELECT doc_id, ct AS text FROM ranked WHERE rn = 1),
""" + _jaccard_pairs_ctes("survivors") + rf""",
undirected AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM undirected
  UNION
  SELECT r.src, u.b FROM reach r JOIN undirected u ON r.dst = u.a
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
  FROM reach GROUP BY src
),
final AS (
  SELECT s.doc_id,
         CASE WHEN c.component IS NOT NULL AND c.component != s.doc_id
              THEN 'near_dup' ELSE 'kept' END AS status,
         COALESCE(c.component, s.doc_id) AS canonical
  FROM survivors s LEFT JOIN comp c ON c.doc_id = s.doc_id
  UNION ALL
  SELECT doc_id, 'exact_dup', canon FROM ranked WHERE rn > 1
)
"""


_CURATION_CHAIN_SQL = ("WITH RECURSIVE " + _CURATION_CORPUS_CTE + ",\n"
                       + _curation_tail("corpus"))

CURATION_SQL = (_CURATION_CHAIN_SQL
                + "SELECT doc_id, status, canonical FROM final"
                  " ORDER BY doc_id\n")


def gopher_word_stats_q(spark, sf_dir):
    """GOPHER WORD-RULES ORACLE: the word/line-level half of the Rae
    et al. 2021 A1.1 filter set (word count, mean word length,
    symbol ratio, bullet/ellipsis line fractions, alphabetic-word
    fraction, stop-word floor) as a pure per-row projection, over
    documents<300 plus planted pathologies per rule: 15 ``bul_``
    all-bullet docs, 15 ``ell_`` all-ellipsis docs (which pass every
    OTHER gate, isolating the ellipsis rule), 10 ``num_`` all-numeric
    docs. DuckDB replays the list comprehensions exactly."""
    from n8n_tools_api_spark.operators.textstats import gopher_word_stats

    docs = _t(spark, sf_dir, "documents", below=300)
    did = F.col("doc_id").cast("string")
    corpus = _planted(
        docs,
        _branch(docs, "bul_", 15, F.repeat(
            F.concat(F.lit("• item one two "), did, F.lit("\n")), 20)),
        _branch(docs, "ell_", 15, F.repeat(
            F.lit("the words of and that have trail on and on more...\n"), 10)),
        _branch(docs, "num_", 10, F.repeat(F.lit("11 22 33 44 55 66 "), 10)),
        # the synthetic corpus's invented vocabulary carries almost no
        # real English stop words, so natural docs fail the stop-word
        # floor — plant 20 docs that PASS every gate so the oracle pins
        # both sides
        _branch(docs, "eng_", 20, F.concat(F.repeat(
            F.lit("the value of data and methods that have grown with time "),
            8), F.lit("tail"), did)))
    return gopher_word_stats(corpus).orderBy("doc_id")


GOPHER_WORD_SQL = """
WITH corpus AS (
""" + _planted_sql(300, "COALESCE(text, '')", [
    ("bul_", 15,
     "repeat('• item one two ' || CAST(doc_id AS VARCHAR) || chr(10), 20)"),
    ("ell_", 15, "repeat('the words of and that have trail on and on more...'"
                 " || chr(10), 10)"),
    ("num_", 10, "repeat('11 22 33 44 55 66 ', 10)"),
    ("eng_", 20, """repeat('the value of data and methods that have grown with time ',
                8) || 'tail' || CAST(doc_id AS VARCHAR)"""),
]) + r"""
),
arrs AS (
  SELECT doc_id, text,
         [w for w in regexp_split_to_array(trim(text), '\s+') if w != '']
           AS ws,
         [l for l in [trim(x) for x in string_split(text, chr(10))]
          if l != ''] AS ls
  FROM corpus
),
counted AS (
  SELECT doc_id,
         len(ws) AS n_words, len(ls) AS n_lines,
         CAST(list_sum([length(w) for w in ws]) AS BIGINT) AS sum_len,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
         len([l for l in ls if starts_with(l, '•')
              OR starts_with(l, '- ') OR starts_with(l, '* ')])
           AS n_bullet,
         len([l for l in ls if ends_with(l, '...') OR ends_with(l, '…')])
           AS n_ell_lines,
         len([w for w in ws if regexp_matches(w, '[A-Za-z]')]) AS n_alpha,
         len(list_intersect([lower(w) for w in ws],
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
           AS n_stop
  FROM arrs
),
rated AS (
  SELECT doc_id,
         CAST(n_words AS INT) AS n_words,
         round(COALESCE(sum_len / NULLIF(n_words, 0), 0), 6)
           AS mean_word_len,
         round(COALESCE((n_hash + n_ell) / NULLIF(n_words, 0), 0), 6)
           AS symbol_word_ratio,
         round(COALESCE(CAST(n_bullet AS DOUBLE) / NULLIF(n_lines, 0), 0), 6)
           AS bullet_line_frac,
         round(COALESCE(CAST(n_ell_lines AS DOUBLE) / NULLIF(n_lines, 0),
                        0), 6) AS ellipsis_line_frac,
         round(COALESCE(CAST(n_alpha AS DOUBLE) / NULLIF(n_words, 0), 0), 6)
           AS alpha_word_frac,
         CAST(n_stop AS INT) AS n_stopwords
  FROM counted
)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stopwords >= 2) AS gopher_word_keep
FROM rated
ORDER BY doc_id
"""


def c4_line_filter_q(spark, sf_dir):
    """C4 CLEANING ORACLE (Raffel et al. 2020 §2.2): terminal-
    punctuation + ≥5-word + no-'javascript' line retention, lorem-
    ipsum / curly-brace page rejection, ≥3-sentence floor — over
    documents<300 plus planted docs per rule: 15 ``js_`` (the
    javascript line drops, the page survives), 10 ``lor_`` / 10
    ``brc_`` page rejections, 10 ``frg_`` no-terminal-punctuation
    docs. DuckDB replays the line comprehensions and the sentence
    split exactly."""
    from n8n_tools_api_spark.operators.textstats import c4_line_filter

    docs = _t(spark, sf_dir, "documents", below=300)
    did = F.col("doc_id").cast("string")
    good = "The good line stays with enough words today.\n"
    corpus = _planted(
        docs,
        _branch(docs, "js_", 15, F.concat(
            F.repeat(F.lit(good), 4),
            F.lit("Enable javascript to view this page properly.\n"),
            F.lit("Tail words for doc "), did, F.lit("."))),
        _branch(docs, "lor_", 10, F.concat(
            F.repeat(F.lit(good), 4),
            F.lit("Lorem Ipsum dolor sit amet filler text."))),
        _branch(docs, "brc_", 10, F.concat(
            F.repeat(F.lit(good), 4), F.lit("if (x) { return y; }"))),
        _branch(docs, "frg_", 10, F.repeat(
            F.concat(F.lit("fragment without terminal punctuation "),
                     did, F.lit("\n")), 5)))
    return c4_line_filter(corpus).orderBy("doc_id")


def _c4_gate_ctes(src: str) -> str:
    """C4 cleaning-rule replay (line retention → page gate) over the
    (doc_id, text) rows of ``src``: ``c4gate`` holds every c4_line_filter
    column, ``c4corpus(doc_id, text)`` the kept pages' cleaned text."""
    return rf"""c4kept AS (
  SELECT doc_id, text,
         [l for l in [trim(x) for x in string_split(text, chr(10))]
          if l != ''
             AND (ends_with(l, '.') OR ends_with(l, '!')
                  OR ends_with(l, '?') OR ends_with(l, '"'))
             AND len([w for w in regexp_split_to_array(l, '\s+')
                      if w != '']) >= 5
             AND NOT regexp_matches(lower(l), '\bjavascript\b')]
           AS kl
  FROM {src}
),
c4rated AS (
  -- COALESCE: DuckDB's array_to_string over an EMPTY list is NULL,
  -- Spark's concat_ws is ''
  SELECT doc_id, clean_text,
         CAST(len(kl) AS INT) AS n_lines_kept,
         CAST(len([s for s in regexp_split_to_array(clean_text, '[.!?]+')
                   if trim(s) != '']) AS INT) AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_brace
  FROM (SELECT *, COALESCE(array_to_string(kl, chr(10)), '') AS clean_text
        FROM c4kept)
),
c4gate AS (
  SELECT *,
         (NOT has_lorem_ipsum AND NOT has_brace AND n_sentences >= 3)
           AS c4_keep
  FROM c4rated
),
c4corpus AS (SELECT doc_id, clean_text AS text FROM c4gate WHERE c4_keep)"""


_C4_GOOD_LINES = ("repeat('The good line stays with enough words today.'"
                  " || chr(10), 4)")

C4_SQL = """
WITH corpus AS (
""" + _planted_sql(300, "COALESCE(text, '')", [
    ("js_", 15, _C4_GOOD_LINES + """
         || 'Enable javascript to view this page properly.' || chr(10)
         || 'Tail words for doc ' || CAST(doc_id AS VARCHAR) || '.'"""),
    ("lor_", 10,
     _C4_GOOD_LINES + " || 'Lorem Ipsum dolor sit amet filler text.'"),
    ("brc_", 10, _C4_GOOD_LINES + " || 'if (x) { return y; }'"),
    ("frg_", 10, """repeat('fragment without terminal punctuation '
                || CAST(doc_id AS VARCHAR) || chr(10), 5)"""),
]) + """
),
""" + _c4_gate_ctes("corpus") + """
SELECT * FROM c4gate
ORDER BY doc_id
"""


def c4_span_dedup_q(spark, sf_dir):
    """C4 SPAN-DEDUP ORACLE (Raffel et al. 2020 §2.2's corpus-level
    rule: discard all but one occurrence of any duplicated
    three-sentence span) — over documents<250 plus planted branches:
    20 ``spn_a_``/``spn_b_`` pairs sharing exactly one interior
    3-sentence block (the b copy loses it, intro/outro survive), 15
    ``rep_`` docs repeating their own 3-sentence block (internal
    occurrence dedups against position 0), 25 ``cpy_`` verbatim copies
    of base docs (fully span-covered copies empty out; <3-sentence
    bases pass through whole). DuckDB replays sentence extraction,
    span hashing, global first-occurrence ranking, and the covered-
    sentence rebuild exactly."""
    from n8n_tools_api_spark.operators.dedup import c4_span_dedup

    docs = _t(spark, sf_dir, "documents", below=250)
    did = F.col("doc_id").cast("string")
    shared = F.concat(
        F.lit("Shared first sentence number "), did, F.lit(" stays. "),
        F.lit("Shared second sentence number "), did, F.lit(" stays. "),
        F.lit("Shared third sentence number "), did, F.lit(" stays. "))
    corpus = _planted(
        docs,
        _branch(docs, "spn_a_", 20, F.concat(
            F.lit("Alpha intro sentence for document "), did, F.lit(". "),
            shared, F.lit("Alpha outro sentence for document "), did,
            F.lit("."))),
        _branch(docs, "spn_b_", 20, F.concat(
            F.lit("Beta intro sentence for document "), did, F.lit("! "),
            shared, F.lit("Beta outro sentence for document "), did,
            F.lit("?"))),
        _branch(docs, "rep_", 15, F.repeat(F.concat(
            F.lit("Repeat one sentence number "), did, F.lit(" here. "),
            F.lit("Repeat two sentence number "), did, F.lit(" here. "),
            F.lit("Repeat three sentence number "), did,
            F.lit(" here. ")), 2)),
        _branch(docs, "cpy_", 25, "text"))
    return c4_span_dedup(corpus).orderBy("doc_id")


_SPAN_SHARED_SQL = " || ".join(
    f"'Shared {nth} sentence number ' || CAST(doc_id AS VARCHAR) || ' stays. '"
    for nth in ("first", "second", "third"))

C4_SPAN_SQL = """
WITH corpus AS (
""" + _planted_sql(250, "text", [
    ("spn_a_", 20, "'Alpha intro sentence for document ' || CAST(doc_id AS VARCHAR)"
                   f" || '. ' || {_SPAN_SHARED_SQL}"
                   " || 'Alpha outro sentence for document '"
                   " || CAST(doc_id AS VARCHAR) || '.'"),
    ("spn_b_", 20, "'Beta intro sentence for document ' || CAST(doc_id AS VARCHAR)"
                   f" || '! ' || {_SPAN_SHARED_SQL}"
                   " || 'Beta outro sentence for document '"
                   " || CAST(doc_id AS VARCHAR) || '?'"),
    ("rep_", 15, """repeat('Repeat one sentence number ' || CAST(doc_id AS VARCHAR)
                || ' here. '
                || 'Repeat two sentence number ' || CAST(doc_id AS VARCHAR)
                || ' here. '
                || 'Repeat three sentence number ' || CAST(doc_id AS VARCHAR)
                || ' here. ', 2)"""),
    ("cpy_", 25, "text"),
]) + r"""
),
sent AS (
  SELECT doc_id,
         [s for s in
          [trim(x) for x in
           regexp_extract_all(COALESCE(text, ''), '[^.!?]+[.!?]+')]
          if s != ''] AS ss
  FROM corpus
),
occ AS (
  SELECT doc_id, i - 1 AS q,
         md5(ss[i] || chr(31) || ss[i+1] || chr(31) || ss[i+2]) AS h
  FROM sent, UNNEST(generate_series(1, greatest(len(ss) - 2, 0))) AS t(i)
),
ranked AS (
  SELECT doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, q) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS cnt
  FROM occ
),
rem AS (
  SELECT doc_id, list(q) AS qs, COUNT(*) AS n_dup
  FROM ranked WHERE cnt > 1 AND rn > 1 GROUP BY doc_id
),
rebuilt AS (
  SELECT s.doc_id, ss,
         [ss[j] for j in generate_series(1, len(ss))
          if len([q for q in COALESCE(qs, [])
                  if q <= j - 1 AND j - 1 <= q + 2]) = 0] AS kept,
         COALESCE(n_dup, 0) AS n_dup
  FROM sent s LEFT JOIN rem r USING (doc_id)
)
SELECT doc_id,
       COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       CAST(len(ss) AS INT) AS n_sentences,
       CAST(len(ss) - len(kept) AS INT) AS n_removed,
       CAST(n_dup AS INT) AS n_dup_spans
FROM rebuilt
ORDER BY doc_id
"""


def pii_redaction_q(spark, sf_dir):
    """PII-REDACTION ORACLE (Dolma-style masking, operators/pii.py) —
    over documents<400 with planted PII per doc_id % 5: 0 email, 1
    parenthesized phone, 2 dotted-quad IP, 3 ALL THREE in one line
    with a digits-only email local part (pins the sequential stage
    order: the phone-shaped digit run inside the email must be masked
    as EMAIL, never double-counted as PHONE), 4 untouched; plus 8
    ``nul_`` NULL-text rows. DuckDB replays the same Java∩RE2 regex
    subset with 'g'-flag replaces in the same order."""
    from n8n_tools_api_spark.operators.pii import redact_pii

    docs = _t(spark, sf_dir, "documents", below=400)
    did = F.col("doc_id").cast("string")
    b = F.col("doc_id") % 5
    planted = (
        F.when(b == 0, F.concat(
            F.lit(" Contact alice"), did, F.lit("@example.com now.")))
        .when(b == 1, F.concat(
            F.lit(" Call (555) 123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" today.")))
        .when(b == 2, F.concat(
            F.lit(" Server 192.168."), (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 is up.")))
        .when(b == 3, F.concat(
            F.lit(" Reach 123.456.7890@mail.test or 555-867-5309 at 10.0.0."),
            (F.col("doc_id") % 9).cast("string"), F.lit(" soon.")))
        .otherwise(F.lit("")))
    base = docs.select(
        did.alias("doc_id"), F.concat("text", planted).alias("text"))
    nulls = docs.where(F.col("doc_id") < 8).select(
        F.concat(F.lit("nul_"), did).alias("doc_id"),
        F.lit(None).cast("string").alias("text"))
    return (redact_pii(base.unionByName(nulls))
            .select("doc_id", F.md5(F.col("redacted_text").cast("binary"))
                    .alias("redacted_md5"),
                    "n_emails", "n_phones", "n_ips", "pii_total", "has_pii")
            .orderBy("doc_id"))


PII_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         text || CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN ' Contact alice' || CAST(doc_id AS VARCHAR)
                       || '@example.com now.'
           WHEN 1 THEN ' Call (555) 123-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' today.'
           WHEN 2 THEN ' Server 192.168.' || CAST(doc_id % 250 AS VARCHAR)
                       || '.7 is up.'
           WHEN 3 THEN ' Reach 123.456.7890@mail.test or 555-867-5309 at 10.0.0.'
                       || CAST(doc_id % 9 AS VARCHAR) || ' soon.'
           ELSE ''
         END AS text
  FROM documents WHERE doc_id < 400
  UNION ALL
  SELECT 'nul_' || CAST(doc_id AS VARCHAR), NULL
  FROM documents WHERE doc_id < 8
),
s0 AS (SELECT doc_id, COALESCE(text, '') AS t FROM corpus),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[A-Za-z]{2,}'))
           AS n_emails,
         regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9][A-Za-z0-9.-]*\.[A-Za-z]{2,}',
             '|||EMAIL_ADDRESS|||', 'g') AS t
  FROM s0
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t, '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}'))
           AS n_phones,
         regexp_replace(t, '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}',
             '|||PHONE_NUMBER|||', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_phones,
         len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
         regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b',
             '|||IP_ADDRESS|||', 'g') AS t
  FROM s2
)
SELECT doc_id, md5(t) AS redacted_md5,
       CAST(n_emails AS INT) AS n_emails,
       CAST(n_phones AS INT) AS n_phones,
       CAST(n_ips AS INT) AS n_ips,
       CAST(n_emails + n_phones + n_ips AS INT) AS pii_total,
       (n_emails + n_phones + n_ips) > 0 AS has_pii
FROM s3
ORDER BY doc_id
"""


def host_cap_keep_list(spark, sf_dir):
    """PER-HOST CAP ORACLE (operators/curation.py::per_host_cap) —
    documents<400 with url = https://<source>.example.com/doc/<id>
    (20 hosts competing under cap=7 on n_chars quality), plus planted
    canonicalization branches: 40 ``w_`` docs whose UPPERCASE
    WWW.<source>:8443 urls canonicalize INTO the same host pool, 20
    ``x_`` unparseable urls and 10 ``n_`` NULL urls (both → the ''
    pseudo-host, capped like any host). The two-phase salted cut is
    semantically invisible (lossless); DuckDB replays the single
    global window."""
    from n8n_tools_api_spark.operators.curation import per_host_cap

    docs = _t(spark, sf_dir, "documents", below=400)
    did = F.col("doc_id").cast("string")
    base = docs.select(
        did.alias("doc_id"),
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"), did).alias("url"),
        F.col("n_chars").cast("bigint").alias("quality"))
    www = docs.where(F.col("doc_id") < 40).select(
        F.concat(F.lit("w_"), did).alias("doc_id"),
        F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                 F.lit(".EXAMPLE.COM:8443/alt/"), did).alias("url"),
        (F.col("n_chars").cast("bigint") + 10000).alias("quality"))
    bad = docs.where(F.col("doc_id") < 20).select(
        F.concat(F.lit("x_"), did).alias("doc_id"),
        F.concat(F.lit("not a url "), did).alias("url"),
        F.col("n_chars").cast("bigint").alias("quality"))
    nul = docs.where(F.col("doc_id") < 10).select(
        F.concat(F.lit("n_"), did).alias("doc_id"),
        F.lit(None).cast("string").alias("url"),
        F.col("n_chars").cast("bigint").alias("quality"))
    corpus = base.unionByName(www).unionByName(bad).unionByName(nul)
    kept = per_host_cap(corpus, cap=7, quality_col="quality", salt_buckets=4)
    return kept.select("doc_id", "host", "host_rank", "quality")         .orderBy("host", "host_rank")


HOST_CAP_SQL = rf"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'https://' || source || '.example.com/doc/'
           || CAST(doc_id AS VARCHAR) AS url,
         CAST(n_chars AS BIGINT) AS quality
  FROM documents WHERE doc_id < 400
  UNION ALL
  SELECT 'w_' || CAST(doc_id AS VARCHAR),
         'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:8443/alt/'
           || CAST(doc_id AS VARCHAR),
         CAST(n_chars AS BIGINT) + 10000
  FROM documents WHERE doc_id < 40
  UNION ALL
  SELECT 'x_' || CAST(doc_id AS VARCHAR),
         'not a url ' || CAST(doc_id AS VARCHAR),
         CAST(n_chars AS BIGINT)
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 'n_' || CAST(doc_id AS VARCHAR), NULL, CAST(n_chars AS BIGINT)
  FROM documents WHERE doc_id < 10
),
hosted AS (
  SELECT doc_id, quality,
         {_host_sql("url")} AS host
  FROM corpus
),
ranked AS (
  SELECT doc_id, host, quality,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY quality DESC NULLS LAST, doc_id)
           AS host_rank
  FROM hosted
)
SELECT doc_id, host, CAST(host_rank AS INT) AS host_rank, quality
FROM ranked WHERE host_rank <= 7
ORDER BY host, host_rank
"""



def curation_quality_keep_list(spark, sf_dir):
    """QUALITY-FIRST CURATION ORACLE: the Gopher gates run on raw text
    BEFORE the curation flow (the order real pipelines use — a
    rejected doc costs one aggregate, not the full extract/dedup
    chain); survivors run the unchanged oracle-checked curation chain,
    rejections surface as ``rejected_quality`` with NULL canonical.
    DuckDB chains the Gopher replay into the curation replay in ONE
    query."""
    from n8n_tools_api_spark.operators.curation import curation_with_quality

    return curation_with_quality(_curation_corpus(spark, sf_dir),
                                 use_lsh=False).orderBy("doc_id")


def _gated_curation_sql(src: str) -> str:
    """The Gopher gate over ``src`` feeding the curation chain, closed
    by the keep-list SELECT with the gate's rejections."""
    return (_gopher_gate_ctes(src) + ",\n"
            + _curation_tail("qcorpus")
            + "SELECT doc_id, status, canonical FROM final\n"
              "UNION ALL\n"
              "SELECT doc_id, 'rejected_quality' AS status,"
              " CAST(NULL AS VARCHAR) AS canonical FROM q_gate"
              " WHERE NOT keep\n")


CURATION_QUALITY_SQL = ("WITH RECURSIVE " + _CURATION_CORPUS_CTE + ",\n"
                        + _gated_curation_sql("corpus") + "ORDER BY doc_id\n")


# DSIR's hashed unigram+bigram feature space (operators/dsir.py):
# lower-cased words, md5-prefix buckets (hexlen 3 → 4096)
_DSIR_WORDS = (r"[w for w in regexp_split_to_array("
               r"lower(trim(COALESCE(text, ''))), '\s+') if w <> '']")
_DSIR_BUCKETS = r"""[substring(md5('dsir:' || g), 1, 3) for g in
          list_concat(ws,
            CASE WHEN len(ws) >= 2
                 THEN [ws[i] || ' ' || ws[i + 1]
                       for i in generate_series(1, len(ws) - 1)]
                 ELSE CAST([] AS VARCHAR[]) END)]"""


def _q16_sql(n: str, d: str) -> str:
    """-log2(n / d) in sixteenths for integer 0 < n <= d
    (operators/lm_ppx.py): bin-length floor(log2) plus an integer
    linear mantissa — no transcendentals, bit-identical to Spark."""
    return (f"(16 * (len(bin({d} // {n})) - 1)"
            f" + ({d} * 16)"
            f" // ({n} * (CAST(1 AS BIGINT) << (len(bin({d} // {n})) - 1)))"
            " - 16)")


def _qclf_cte(train_src: str, pos_cond: str, neg_cond: str,
              score_src: str) -> str:
    """NB log-odds classifier replay chain (operators/qualityclf.py):
    tokenize → shared DSIR gram buckets → Laplace class counts over
    the ``train_src`` rows matching ``pos_cond`` / ``neg_cond`` →
    sixteenth-bit integer log-odds weights (the lm_ppx quantization) →
    baseline-adjusted broadcast table → exact BIGINT scores for every
    ``score_src`` row, surfaced as ``qrep(doc_id, n_grams,
    score_q16)``. Both sources must provide (doc_id, text)."""
    w_expr = (_q16_sql("nnum", "nden") + "\n         - "
              + _q16_sql("pnum", "pden"))
    wun_expr = (_q16_sql("CAST(1 AS BIGINT)", "nden") + "\n         - "
                + _q16_sql("CAST(1 AS BIGINT)", "pden"))
    return rf"""qfeats_t AS MATERIALIZED (
  SELECT t.*, {_DSIR_BUCKETS} AS bs
  FROM (SELECT s.*, {_DSIR_WORDS} AS ws FROM {train_src} s) t
),
qfeats_s AS MATERIALIZED (
  SELECT doc_id, {_DSIR_BUCKETS} AS bs
  FROM (SELECT doc_id, {_DSIR_WORDS} AS ws FROM {score_src}) t
),
qpcounts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cp
  FROM (SELECT unnest(bs) AS bucket FROM qfeats_t WHERE {pos_cond})
  GROUP BY bucket
),
qncounts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cn
  FROM (SELECT unnest(bs) AS bucket FROM qfeats_t WHERE {neg_cond})
  GROUP BY bucket
),
qtots AS (
  SELECT (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) FROM qpcounts)
           AS ptot,
         (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) FROM qncounts)
           AS ntot
),
qwt AS (
  SELECT bucket,
         {w_expr} AS w_q16
  FROM (SELECT bucket,
               CAST(COALESCE(cp, 0) + 1 AS BIGINT) AS pnum,
               CAST(ptot + 4096 AS BIGINT) AS pden,
               CAST(COALESCE(cn, 0) + 1 AS BIGINT) AS nnum,
               CAST(ntot + 4096 AS BIGINT) AS nden
        FROM qpcounts FULL JOIN qncounts USING (bucket), qtots)
),
qbase AS (
  SELECT {wun_expr} AS wun
  FROM (SELECT CAST(ptot + 4096 AS BIGINT) AS pden,
               CAST(ntot + 4096 AS BIGINT) AS nden FROM qtots)
),
qwadj AS (
  SELECT bucket, CAST(w_q16 - wun AS BIGINT) AS w_adj
  FROM qwt, qbase
  WHERE w_q16 - wun <> 0
),
qscores AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(COALESCE(w_adj, 0)) AS BIGINT) AS adj
  FROM (SELECT doc_id, unnest(bs) AS bucket FROM qfeats_s) d
  LEFT JOIN qwadj USING (bucket)
  GROUP BY doc_id
),
qrep AS (
  SELECT f.doc_id,
         CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(adj, 0) + COALESCE(n_grams, 0) * wun AS BIGINT)
           AS score_q16
  FROM qfeats_s f LEFT JOIN qscores s USING (doc_id), qbase
)"""


def c4_badwords_q(spark, sf_dir):
    """C4 BAD-WORDS PAGE-FILTER ORACLE (operators/textstats.py::
    c4_badwords_filter — Raffel et al. 2020 §2.2's LDNOOBW page gate,
    the one §2.2 rule c4_line_filter doesn't carry): documents<300
    plus planted branch docs under a neutral three-entry demo list
    (production passes the published list): a punctuation-adjacent
    word hit (`Badterm!`), a multi-word phrase hit, a superstring
    near-miss that must NOT fire (token equality is the boundary
    rule), the list word in final position, non-adjacent phrase words
    (kept), an upper-case variant, and NULL/empty text (kept
    trivially). `matched` reports the lexicographically smallest
    entry. DuckDB replays the strip → token-equality → sentinel-space
    phrase scan closed-form."""
    from n8n_tools_api_spark.operators.textstats import c4_badwords_filter

    base = _t(spark, sf_dir, "documents", below=300).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = spark.createDataFrame([
        ("bw_punct", "contains Badterm! mid sentence"),
        ("bw_phrase", "the zoo zebra phrase spans tokens"),
        ("bw_super", "nearmiss superbadterm inside a longer word"),
        ("bw_final", "ends with badterm"),
        ("bw_split", "zoo alone and zebra alone but not adjacent zoo"),
        ("bw_upper", "SHOUTED OBSCENITY IN CAPS"),
        ("bw_both", "obscenity before badterm picks the smaller"),
        ("bw_null", None),
        ("bw_empty", ""),
    ], "doc_id string, text string")
    return c4_badwords_filter(
        base.unionByName(planted),
        ["badterm", "obscenity", "zoo zebra"]).orderBy("doc_id")


C4_BADWORDS_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM documents WHERE doc_id < 300
  UNION ALL SELECT 'bw_punct', 'contains Badterm! mid sentence'
  UNION ALL SELECT 'bw_phrase', 'the zoo zebra phrase spans tokens'
  UNION ALL SELECT 'bw_super',
                   'nearmiss superbadterm inside a longer word'
  UNION ALL SELECT 'bw_final', 'ends with badterm'
  UNION ALL SELECT 'bw_split',
                   'zoo alone and zebra alone but not adjacent zoo'
  UNION ALL SELECT 'bw_upper', 'SHOUTED OBSCENITY IN CAPS'
  UNION ALL SELECT 'bw_both', 'obscenity before badterm picks the smaller'
  UNION ALL SELECT 'bw_null', NULL
  UNION ALL SELECT 'bw_empty', ''
),
tok AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                   '\s+'),
             x -> regexp_replace(x, '^[^a-z0-9]+|[^a-z0-9]+$', '', 'g')),
           x -> x <> '') AS toks
  FROM corpus
),
hits AS (
  SELECT doc_id,
         list_sort(list_concat(
           list_intersect(toks, ['badterm', 'obscenity']),
           list_filter(['zoo zebra'],
             p -> contains(' ' || array_to_string(toks, ' ') || ' ',
                           ' ' || p || ' ')))) AS h
  FROM tok
)
SELECT doc_id,
       CASE WHEN len(h) > 0 THEN h[1] END AS matched,
       len(h) = 0 AS c4_badwords_keep
FROM hits
ORDER BY doc_id
"""


def corpus_expectations_q(spark, sf_dir):
    """DATA-VALIDATION ORACLE (operators/expectations.py::
    corpus_expectations — the Deequ / Great-Expectations "unit tests
    for data" gate between curation and training): documents<300 plus
    two planted rows — a DUPLICATE doc_id with NULL text/lang and a
    negative n_chars, and a second NULL-text row — evaluated under a
    six-constraint suite hitting both verdicts of every constraint
    kind: row_count_min passes, completeness_min('text', .995) fails
    at 300/302, completeness_min('lang', 1.0) fails at 301/302,
    uniqueness(doc_id) fails on the planted dup, min_value(n_chars, 0)
    fails on the planted −5, max_value passes. Every metric is a
    double from exact BIGINT counts (fractions divide two exact
    counts — IEEE-identical on both engines); DuckDB replays the one
    aggregation pass and the literal unpivot closed-form."""
    from n8n_tools_api_spark.operators.expectations import (
        corpus_expectations)

    base = _t(spark, sf_dir, "documents", below=300).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"))
    planted = spark.createDataFrame(
        [("7", None, None, -5), ("xp_null", None, "en", 42)],
        "doc_id string, text string, lang string, n_chars bigint")
    return corpus_expectations(base.unionByName(planted), [
        ("row_count_min", None, 250),
        ("completeness_min", "text", 0.995),
        ("completeness_min", "lang", 1.0),
        ("uniqueness", "doc_id", None),
        ("min_value", "n_chars", 0),
        ("max_value", "n_chars", 100000),
    ]).orderBy("check_id")


CORPUS_EXPECTATIONS_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id < 300
  UNION ALL SELECT '7', NULL, NULL, -5
  UNION ALL SELECT 'xp_null', NULL, 'en', 42
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         CAST(COUNT(text) AS BIGINT) AS nn_text,
         CAST(COUNT(lang) AS BIGINT) AS nn_lang,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dc_id,
         CAST(MIN(n_chars) AS DOUBLE) AS mn_n,
         CAST(MAX(n_chars) AS DOUBLE) AS mx_n
  FROM corpus
)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS check_id,
         'row_count_min' AS "constraint", CAST(NULL AS VARCHAR) AS "column",
         CAST(total AS DOUBLE) AS metric, CAST(250 AS DOUBLE) AS threshold,
         CAST(total AS DOUBLE) >= 250 AS passed FROM m
  UNION ALL SELECT 1, 'completeness_min', 'text',
         CAST(nn_text AS DOUBLE) / CAST(total AS DOUBLE), 0.995,
         CAST(nn_text AS DOUBLE) / CAST(total AS DOUBLE) >= 0.995 FROM m
  UNION ALL SELECT 2, 'completeness_min', 'lang',
         CAST(nn_lang AS DOUBLE) / CAST(total AS DOUBLE), 1.0,
         CAST(nn_lang AS DOUBLE) / CAST(total AS DOUBLE) >= 1.0 FROM m
  UNION ALL SELECT 3, 'uniqueness', 'doc_id',
         CAST(dc_id AS DOUBLE) / CAST(total AS DOUBLE), 1.0,
         CAST(dc_id AS DOUBLE) / CAST(total AS DOUBLE) = 1.0 FROM m
  UNION ALL SELECT 4, 'min_value', 'n_chars', mn_n, 0.0,
         COALESCE(mn_n >= 0.0, FALSE) FROM m
  UNION ALL SELECT 5, 'max_value', 'n_chars', mx_n, 100000.0,
         COALESCE(mx_n <= 100000.0, FALSE) FROM m
)
ORDER BY check_id
"""


_QCLF_POS_MARK = (" curated encyclopedia citation verified"
                  " reference archive")
_QCLF_NEG_MARK = (" clickbait spamword lottery jackpot"
                  " promo banner")


# a planted classifier-class doc: its text (NULL → '') plus the class
# marker repeated doc_id % 3 + 1 times — SQL for DuckDB and F.expr
def _marked_sql(marker: str) -> str:
    return f"repeat('{marker}', CAST(doc_id % 3 + 1 AS INT))"


def _marked(marker):
    return F.concat(F.coalesce(F.col("text"), F.lit("")),
                    F.expr(_marked_sql(marker)))


def classifier_curation_keep_list_q(spark, sf_dir):
    """DEDUP-THEN-CLASSIFY CURATION ORACLE — the DCLM / FineWeb-Edu
    stage order (operators/curation.py::classifier_curation_keep_list):
    the unchanged oracle-checked curation chain runs first, then the
    NB log-odds classifier (operators/qualityclf.py) scores only the
    surviving canonicals as the final selection stage, so the model
    pass costs one score per UNIQUE document. Corpus = the shared
    curation corpus (documents<300 ∪ 40 copy_ ∪ 25 mut_) plus 30
    ``qgood_`` and 30 ``qbad_`` marker-augmented docs built from ids
    300-359 (outside the base slice); training is the even-id marker
    classes of the ``quality_classifier`` oracle — held out from the
    scored corpus entirely. Every disposition is exact: every SCORED
    qbad_ doc lands in ``rejected_classifier`` (NULL canonical, scores
    ≤ −2900) and every scored qgood_ in ``kept`` (scores ≥ +900); the
    handful of planted docs whose synthetic base text near-dups
    another doc keep their dedup status with NULL score — dedup runs
    FIRST, so the classifier never sees a duplicate (the point of the
    stage order); borderline base docs fall deterministically on
    whichever side of threshold 0 their noise vocabulary puts them —
    replayed bit-for-bit by chaining the curation replay into the
    classifier replay in ONE DuckDB query."""
    from n8n_tools_api_spark.operators.curation import (
        classifier_curation_keep_list)

    docs = _t(spark, sf_dir, "documents", below=360)

    def marked(lo, hi, prefix, marker, even_only=False):
        out = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        if even_only:
            out = out.where(F.col("doc_id") % 2 == 0)
        return out.select(
            F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
            .alias("doc_id"),
            _marked(marker).alias("text"))

    corpus = (_curation_corpus(spark, sf_dir)
              .unionByName(marked(300, 330, "qgood_", _QCLF_POS_MARK))
              .unionByName(marked(330, 360, "qbad_", _QCLF_NEG_MARK)))
    pos = marked(0, 60, "t_", _QCLF_POS_MARK, even_only=True)
    neg = marked(60, 120, "t_", _QCLF_NEG_MARK, even_only=True)
    return classifier_curation_keep_list(corpus, pos, neg).orderBy("doc_id")


_CLF_CUR_CORPUS_CTE = f"""ccorpus AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT 'qgood_' || CAST(doc_id AS VARCHAR),
         COALESCE(text, '') || {_marked_sql(_QCLF_POS_MARK)}
  FROM documents WHERE doc_id >= 300 AND doc_id < 330
  UNION ALL
  SELECT 'qbad_' || CAST(doc_id AS VARCHAR),
         COALESCE(text, '') || {_marked_sql(_QCLF_NEG_MARK)}
  FROM documents WHERE doc_id >= 330 AND doc_id < 360
)"""

_CLF_CUR_TRAIN_CTE = f"""qtrain AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'p' AS cls,
         COALESCE(text, '') || {_marked_sql(_QCLF_POS_MARK)} AS text
  FROM documents WHERE doc_id < 60 AND doc_id % 2 = 0
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR), 'n',
         COALESCE(text, '') || {_marked_sql(_QCLF_NEG_MARK)}
  FROM documents WHERE doc_id >= 60 AND doc_id < 120 AND doc_id % 2 = 0
)"""

CLASSIFIER_CURATION_SQL = (
    "WITH RECURSIVE " + _CURATION_CORPUS_CTE + ",\n"
    + _CLF_CUR_CORPUS_CTE + ",\n"
    + _curation_tail("ccorpus") + ",\n"
    + _CLF_CUR_TRAIN_CTE + ",\n"
    + "keptdocs AS (\n"
      "  SELECT f.doc_id, c.text FROM final f\n"
      "  JOIN ccorpus c USING (doc_id) WHERE f.status = 'kept'\n"
      "),\n"
    + _qclf_cte("qtrain", "cls = 'p'", "cls = 'n'", "keptdocs")
    + "\nSELECT f.doc_id,\n"
      "       CASE WHEN f.status = 'kept' THEN\n"
      "         CASE WHEN r.score_q16 >= 0 THEN 'kept'\n"
      "              ELSE 'rejected_classifier' END\n"
      "       ELSE f.status END AS status,\n"
      "       CASE WHEN f.status = 'kept' AND r.score_q16 < 0\n"
      "            THEN CAST(NULL AS VARCHAR)\n"
      "            ELSE f.canonical END AS canonical,\n"
      "       r.score_q16\n"
      "FROM final f LEFT JOIN qrep r USING (doc_id)\n"
      "ORDER BY doc_id\n"
)


def c4_curation_keep_list_q(spark, sf_dir):
    """C4-FIRST CURATION ORACLE (the full public-pipeline stage order:
    C4 clean → Gopher gate → exact/near dedup, every downstream stage
    consuming the C4-CLEANED text): documents<300 re-shaped into
    sentence-terminated lines (the synthetic corpus has no terminal
    punctuation, so lines are built from sanitized 60-char slices —
    DuckDB rebuilds them from the same arithmetic) plus planted
    branches: 40 ``copy_`` exact twins, 25 ``mut_`` 3-of-4-line
    truncations (near-dups after cleaning), 15 ``js_`` docs whose only
    delta is a dropped javascript line (C4 cleaning makes them EXACT
    dups of their base — the reason pipelines clean before dedup), 10
    ``brc_`` brace pages (rejected_c4), 12 ``rep_`` repeated-line docs
    that pass C4 but fail the Gopher gate on cleaned text
    (rejected_quality). One DuckDB query chains the C4 replay → Gopher
    replay → curation replay."""
    from n8n_tools_api_spark.operators.curation import c4_curation_keep_list

    docs = _t(spark, sf_dir, "documents", below=300)
    sent4, branches = _c4_fixture_texts()
    corpus = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                         sent4.alias("text"))
    for prefix, n, text in branches:
        corpus = corpus.unionByName(_branch(docs, prefix, n, text))
    return c4_curation_keep_list(corpus).orderBy("doc_id")


def _c4_fixture_texts():
    """Page texts of the C4-first fixtures: each doc's sanitized text
    cut into four sentence-terminated 60-char lines (the synthetic
    corpus has no terminal punctuation) → ``(sent4, branches)``, the
    base page and the planted (prefix, n, text) branches in order."""
    did = F.col("doc_id").cast("string")
    t = F.trim(F.regexp_replace(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), "[^a-z0-9 ]", " "), " +", " "))

    def line(i):
        return F.concat(F.substring(t, 1 + 60 * (i - 1), 60), F.lit("."))

    sent4 = F.concat_ws("\n", line(1), line(2), line(3), line(4))
    rep_line = F.concat(F.substring(t, 1, 40), F.lit("."))
    return sent4, [
        ("copy_", 40, sent4),
        ("mut_", 25, F.concat_ws("\n", line(1), line(2), line(3))),
        ("js_", 15, F.concat_ws(
            "\n", line(1), line(2),
            F.lit("Enable javascript to view this page properly."),
            line(3), line(4))),
        ("brc_", 10, F.concat_ws("\n", sent4, F.lit("if (x) { return y; }"))),
        ("rep_", 12, F.concat_ws(
            "\n", rep_line, rep_line, rep_line, rep_line, rep_line,
            F.concat(F.lit("unique tail for doc "), did,
                     F.lit(" with extra words.")))),
    ]


_C4_FIXTURE_CTES = r"""san AS (
  SELECT CAST(doc_id AS VARCHAR) AS did, doc_id AS id,
         trim(regexp_replace(regexp_replace(COALESCE(text, ''),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
  FROM documents WHERE doc_id < 300
),
ln AS (
  SELECT *,
         l1 || chr(10) || l2 || chr(10) || l3 AS p3,
         l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4 AS p4
  FROM (SELECT did, id,
               substr(t, 1, 60) || '.' AS l1, substr(t, 61, 60) || '.' AS l2,
               substr(t, 121, 60) || '.' AS l3, substr(t, 181, 60) || '.' AS l4,
               substr(t, 1, 40) || '.' AS r
        FROM san)
),
c4src AS (
  SELECT did AS doc_id, p4 AS text FROM ln
  UNION ALL
  SELECT 'copy_' || did, p4 FROM ln WHERE id < 40
  UNION ALL
  SELECT 'mut_' || did, p3 FROM ln WHERE id < 25
  UNION ALL
  SELECT 'js_' || did,
         l1 || chr(10) || l2 || chr(10)
         || 'Enable javascript to view this page properly.' || chr(10)
         || l3 || chr(10) || l4
  FROM ln WHERE id < 15
  UNION ALL
  SELECT 'brc_' || did, p4 || chr(10) || 'if (x) { return y; }'
  FROM ln WHERE id < 10
  UNION ALL
  SELECT 'rep_' || did,
         r || chr(10) || r || chr(10) || r || chr(10) || r || chr(10) || r
         || chr(10) || 'unique tail for doc ' || did || ' with extra words.'
  FROM ln WHERE id < 12
)"""


_C4_CURATION_SRC_CTES = _C4_FIXTURE_CTES + ",\n" + _c4_gate_ctes("c4src")


C4_CURATION_SQL = (
    "WITH RECURSIVE " + _C4_CURATION_SRC_CTES + ",\n"
    + _gated_curation_sql("c4corpus")
    + "UNION ALL\n"
      "SELECT doc_id, 'rejected_c4' AS status,"
      " CAST(NULL AS VARCHAR) AS canonical FROM c4gate WHERE NOT c4_keep\n"
      "ORDER BY doc_id\n"
)


def curation_agreement(spark, sf_dir):
    """LSH-TWIN AGREEMENT ORACLE (round-3 verdict #5): the 100-TB
    curation path (`curation_keep_list(use_lsh=True)` — MinHash-LSH
    candidate prefilter, rows-only until now) joined row-by-row against
    the exact flow on the planted corpus, rolled up per exact status as
    (n_docs, n_status_agree, n_canonical_agree). DuckDB replays the
    exact chain and compares it with itself, i.e. the oracle row IS the
    100%-agreement claim: if the LSH prefilter ever drops a planted
    90%-truncation (every one shares ≥2 bands by construction) or
    reshapes a component, the Spark rollup diverges and the row goes
    red. Complements BENCH suite 3, which measures this same twin."""
    from n8n_tools_api_spark.operators.curation import curation_keep_list as flow
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    corpus = RoundMaterializer()(_curation_corpus(spark, sf_dir),
                                 "agreement_corpus")
    exact = flow(corpus, use_lsh=False).select(
        "doc_id", F.col("status").alias("s_exact"),
        F.col("canonical").alias("c_exact"))
    lsh = flow(corpus, use_lsh=True).select(
        "doc_id", F.col("status").alias("s_lsh"),
        F.col("canonical").alias("c_lsh"))
    return (
        exact.join(lsh, "doc_id")
        .groupBy(F.col("s_exact").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("s_exact") == F.col("s_lsh"), 1))
            .cast("bigint").alias("n_status_agree"),
            F.count(F.when(F.col("c_exact") == F.col("c_lsh"), 1))
            .cast("bigint").alias("n_canonical_agree"),
        )
        .orderBy("status")
    )


CURATION_AGREEMENT_SQL = (_CURATION_CHAIN_SQL + """
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_status_agree,
       CAST(COUNT(*) AS BIGINT) AS n_canonical_agree
FROM final
GROUP BY status
ORDER BY status
""")


def _stream_agreement_corpus(spark, sf_dir, with_exact_dups):
    """Two arrival batches whose TRUE disposition is known closed-form
    by construction (category column):

    * ``base``  — documents<150, distinct-text guarded, batch 1 →
      always admitted (random-vocab docs never share all 16 LSH bands);
    * ``media`` — two NULL-text docs, batch 1 → always admitted (both
      prefilters exempt media-only docs via doc-unique salted keys);
    * ``mut``   — 90%-char truncations of long bases, batch 2 → ≥1
      minhash minimum changes, so ≥1 novel band → admitted;
    * ``ws``    — base text + trailing space, batch 2 → different
      sha256 but identical shingle stream → ALL bands collide →
      suppressed by the LSH stage;
    * ``dup``   — exact text copies, batch 2 (curation flow only) →
      suppressed by the content-hash stage.

    Arrival times are seconds apart (id for batch 1, 600+id for batch
    2) so a '2 hours' watermark keeps every batch-1 claim alive when
    batch 2 is arbitrated.
    """
    from n8n_tools_api_spark.operators.dedup import _raw_words

    base_ts = F.to_timestamp(F.lit("2024-06-01 12:00:00"))
    docs = _t(spark, sf_dir, "documents", below=150)
    w = Window.partitionBy("text").orderBy("doc_id")
    # every word is tagged with its doc id: the synthetic corpus's tiny
    # vocabulary makes NATURAL docs near-identical under shingled
    # MinHash (measured: doc 120 shares 13/16 bands with doc 12), so
    # untagged bases would all-band-collide with each other and the
    # closed-form 'base always admits' claim would be false. Tagging
    # makes base shingle sets pairwise disjoint — admission is then
    # structural, not probabilistic. Selection guards below use the
    # ORIGINAL text length so DuckDB mirrors them without re-deriving
    # the tagged text.
    base = (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("doc_id").cast("bigint").alias("id"),
            F.length("text").alias("orig_len"),
            F.concat_ws(" ", F.transform(
                _raw_words(F.col("text")),
                lambda wd: F.concat(F.lit("d"),
                                    F.col("doc_id").cast("string"),
                                    F.lit("_"), wd))).alias("text"),
        )
    )
    did = F.col("id").cast("string")
    t2 = base_ts + F.make_interval(secs=F.col("id") + 600)
    b1 = base.select(
        did.alias("doc_id"), F.lit("base").alias("category"),
        (base_ts + F.make_interval(secs=F.col("id"))).alias("event_time"),
        "text",
    ).unionByName(spark.createDataFrame(
        [("media_1",), ("media_2",)], "doc_id string").select(
            "doc_id", F.lit("media").alias("category"),
            base_ts.alias("event_time"),
            F.lit(None).cast("string").alias("text")))
    muts = base.where((F.col("id") < 60) & (F.col("orig_len") >= 200)).select(
        F.concat(F.lit("mut_"), did).alias("doc_id"),
        F.lit("mut").alias("category"), t2.alias("event_time"),
        F.expr("substring(text, 1, cast(length(text) * 0.9 as int))")
        .alias("text"))
    ws = base.where(F.col("id") < 40).select(
        F.concat(F.lit("ws_"), did).alias("doc_id"),
        F.lit("ws").alias("category"), t2.alias("event_time"),
        F.concat(F.col("text"), F.lit(" ")).alias("text"))
    b2 = muts.unionByName(ws)
    if with_exact_dups:
        b2 = b2.unionByName(base.where(F.col("id") < 30).select(
            F.concat(F.lit("dup_"), did).alias("doc_id"),
            F.lit("dup").alias("category"), t2.alias("event_time"), "text"))
    return b1, b2


def _run_stream_rounds(spark, build_stream, batches, name,
                       schema=None):
    """Feed arrival batches through a REAL streaming query (parquet
    source/sink, availableNow trigger, shared checkpoint) one batch per
    run — distinct micro-batches, so cross-batch first-claim order is
    deterministic. Returns the admitted doc_ids. The pid-keyed /tmp
    namespace isolates concurrent driver processes; paths are wiped at
    entry so reruns are idempotent."""
    import os
    import shutil

    root = f"/tmp/spark_graft_stream_oracle/{os.getpid()}/{name}"
    shutil.rmtree(root, ignore_errors=True)
    if schema is None:
        schema = "doc_id string, event_time timestamp, text string"
    cols = [f.split()[0] for f in schema.split(",")]
    for b in batches:
        b.select(*cols).write.mode("append") \
            .parquet(f"{root}/in")
        q = (
            build_stream(spark.readStream.schema(schema)
                         .parquet(f"{root}/in"))
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ck")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(f"{root}/out").select("doc_id")


def stream_neardup_agreement(spark, sf_dir):
    """STREAMING NEAR-DUP AGREEMENT ORACLE (round-4 verdict #3): the
    REAL LSH prefilter stream (streaming/neardup_stream.py —
    dropDuplicatesWithinWatermark over exploded band buckets, run here
    through a parquet-source/sink availableNow query) AND its
    deterministic batch twin, both rolled up against the closed-form
    expected disposition of the planted corpus. DuckDB computes the
    expectation from the corpus construction alone — the green row IS
    the claim that stream ≡ twin ≡ spec (any stream/twin divergence or
    suppression regression shifts a count and the hash goes red)."""
    from n8n_tools_api_spark.streaming import (
        neardup_prefilter_batch_twin,
        neardup_prefilter_stream,
    )

    b1, b2 = _stream_agreement_corpus(spark, sf_dir, with_exact_dups=False)
    admitted = _run_stream_rounds(
        spark, lambda s: neardup_prefilter_stream(s, watermark="2 hours"),
        [b1, b2], "neardup")
    allr = b1.unionByName(b2).select("doc_id", "category")
    twin = neardup_prefilter_batch_twin(
        b1.unionByName(b2)).select("doc_id")
    return (
        allr.join(admitted.withColumn("_s", F.lit(1)), "doc_id", "left")
        .join(twin.withColumn("_t", F.lit(1)), "doc_id", "left")
        .groupBy("category")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("_s").cast("bigint").alias("n_stream_admitted"),
            F.count("_t").cast("bigint").alias("n_twin_admitted"),
            F.count(F.when(F.col("_s").isNull() == F.col("_t").isNull(), 1))
            .cast("bigint").alias("n_stream_twin_agree"),
        )
        .orderBy("category")
    )


def stream_curation_agreement(spark, sf_dir):
    """STREAMING COMPOSED-CURATION AGREEMENT ORACLE (round-4 verdict
    #3): the real two-stage curation stream (exact-dedup →
    LSH prefilter, streaming/curation_stream.py) and its staged batch
    twin vs the closed-form disposition — ``dup`` copies must fall to
    the hash stage, ``ws`` whitespace twins to the band stage, and
    mut/media/base must flow through; n_stage_agree counts twin rows
    whose stage matches the construction, n_stream_twin_agree counts
    docs where the stream's admit/suppress equals the twin's."""
    from n8n_tools_api_spark.streaming import (
        curation_stream,
        curation_stream_batch_twin,
    )

    b1, b2 = _stream_agreement_corpus(spark, sf_dir, with_exact_dups=True)
    admitted = _run_stream_rounds(
        spark, lambda s: curation_stream(s, watermark="2 hours"),
        [b1, b2], "curation")
    allr = b1.unionByName(b2).select("doc_id", "category")
    twin = curation_stream_batch_twin(b1.unionByName(b2)) \
        .select("doc_id", "stage")
    expected = (
        F.when(F.col("category") == "dup", F.lit("exact_dup"))
        .when(F.col("category") == "ws", F.lit("band_collision"))
        .otherwise(F.lit("admitted"))
    )
    return (
        allr.join(admitted.withColumn("_s", F.lit(1)), "doc_id", "left")
        .join(twin, "doc_id", "left")
        .groupBy("category")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("_s").cast("bigint").alias("n_stream_admitted"),
            F.count(F.when(F.col("stage") == expected, 1))
            .cast("bigint").alias("n_stage_agree"),
            F.count(F.when(
                F.col("_s").isNull() == (F.col("stage") != "admitted"), 1))
            .cast("bigint").alias("n_stream_twin_agree"),
        )
        .orderBy("category")
    )


# Closed-form replay of the planted dispositions: base/media/mut admit,
# ws falls to the band stage, dup to the hash stage. The guards (rn=1
# distinct-text, id<60 ∧ len≥200 for mut, id<40 for ws, id<30 for dup)
# mirror the Spark corpus builder exactly.
_STREAM_AGREEMENT_CORPUS_SQL = """
WITH base AS (
  SELECT doc_id AS id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
    FROM documents WHERE doc_id < 150)
  WHERE rn = 1
),
corpus AS (
  SELECT CAST(id AS VARCHAR) AS doc_id, 'base' AS category,
         TRUE AS expect_admitted FROM base
  UNION ALL SELECT 'media_1', 'media', TRUE
  UNION ALL SELECT 'media_2', 'media', TRUE
  UNION ALL
  SELECT 'mut_' || CAST(id AS VARCHAR), 'mut', TRUE
  FROM base WHERE id < 60 AND length(text) >= 200
  UNION ALL
  SELECT 'ws_' || CAST(id AS VARCHAR), 'ws', FALSE
  FROM base WHERE id < 40
  {dup_branch}
)
"""

_STREAM_ADMITTED = ("CAST(SUM(CASE WHEN expect_admitted THEN 1 ELSE 0 END)"
                    " AS BIGINT)")


def _stream_agreement_sql(dup_branch: str, stage_col: str) -> str:
    """Per-category rollup of the planted stream corpus: every doc's
    expected disposition IS the oracle row, so stream and twin agree
    by construction; ``stage_col`` is the stage-specific column."""
    return _STREAM_AGREEMENT_CORPUS_SQL.format(dup_branch=dup_branch) + f"""
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {_STREAM_ADMITTED} AS n_stream_admitted,
       {stage_col},
       CAST(COUNT(*) AS BIGINT) AS n_stream_twin_agree
FROM corpus
GROUP BY category
ORDER BY category
"""


STREAM_NEARDUP_AGREEMENT_SQL = _stream_agreement_sql(
    "", _STREAM_ADMITTED + " AS n_twin_admitted")

STREAM_CURATION_AGREEMENT_SQL = _stream_agreement_sql("""
  UNION ALL
  SELECT 'dup_' || CAST(id AS VARCHAR), 'dup', FALSE
  FROM base WHERE id < 30
""", "CAST(COUNT(*) AS BIGINT) AS n_stage_agree")


def boilerplate_strip_q(spark, sf_dir):
    """BOILERPLATE-STRIP ORACLE: the REAL DOM walker
    (refsem/boilerplate.py — regex tag stream → tree → block
    segmentation → link-ratio / tag-density scoring) driven through its
    mapInPandas stage over HTML pages BUILT IN-QUERY from the documents
    table, one of six structural shapes per doc_id % 6:

      0  nav + <p>t1</p> + footer                → t1
      1  <p>t1</p> + <div><p>t2</p></div> + aside → t1 ␤␤ t2
      2  link-farm div (ratio 1) + <p>t1</p>     → t1
      3  tag-dense <p><span>…×3</span></p> + <p>t1</p> + body-inline
         trailing text                            → trailing ␤␤ t1
         (container inline text precedes block children — pins the
         walk order)
      4  all-link <ul><li><a>…</li></ul> + two paragraphs → t1 ␤␤ t2
      5  nav + script + footer only               → ''

    t1/t2 are sanitized slices of the doc text, so DuckDB can compute
    the EXPECTED survivor text closed-form from the same columns — any
    regression in the tree builder, drop-tags, block segmentation,
    scoring thresholds, or join order breaks the hash. The heuristic is
    our own spec (the reference has no HTML stripper, SURVEY.md §2.10);
    north_rule requires the operator."""
    from n8n_tools_api_spark.operators.boilerplate import (
        strip_boilerplate_stage,
    )

    docs = _t(spark, sf_dir, "documents", below=240)
    s = F.trim(F.regexp_replace(
        F.regexp_replace("text", "[^a-z0-9 ]", " "), " +", " "))
    t1 = F.substring(s, 1, 110)
    t2 = F.substring(s, 131, 110)
    shape = (F.col("doc_id") % 6).cast("int")
    html = (
        F.when(shape == 0, F.concat(
            F.lit('<html><body><nav><a href="/">Home</a> '
                  '<a href="/a">About</a></nav><p>'), t1,
            F.lit('</p><footer>site footer</footer></body></html>')))
        .when(shape == 1, F.concat(
            F.lit('<html><body><p>'), t1, F.lit('</p><div><p>'), t2,
            F.lit('</p></div><aside>sidebar junk</aside></body></html>')))
        .when(shape == 2, F.concat(
            F.lit('<html><body><div><a href="/1">click here now</a> '
                  '<a href="/2">buy this item</a> '
                  '<a href="/3">subscribe today</a></div><p>'), t1,
            F.lit('</p></body></html>')))
        .when(shape == 3, F.concat(
            F.lit('<html><body><p><span>x</span><span>y</span>'
                  '<span>z</span></p><p>'), t1,
            F.lit('</p>trailing body text</body></html>')))
        .when(shape == 4, F.concat(
            F.lit('<html><body><ul><li><a href="/x">one link</a></li>'
                  '<li><a href="/y">two link</a></li></ul><p>'), t1,
            F.lit('</p><p>'), t2, F.lit('</p></body></html>')))
        .otherwise(F.lit(
            '<html><body><nav><a href="/">home</a></nav>'
            '<script>var x=1;</script><footer>foot</footer></body></html>'))
    )
    pages = docs.select("doc_id", shape.alias("shape"), html.alias("html"))
    return strip_boilerplate_stage(pages).orderBy("doc_id")


# Closed-form replay: the expected kept-block text per planted shape,
# from the same sanitize/slice arithmetic (blocks joined with a blank
# line; body-inline text precedes block children in shape 3).
BOILERPLATE_SQL = r"""
WITH src AS (
  SELECT doc_id, CAST(doc_id % 6 AS INT) AS shape,
         trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS s
  FROM documents WHERE doc_id < 240
),
chunks AS (
  SELECT doc_id, shape,
         nullif(trim(substr(s, 1, 110)), '') AS t1,
         nullif(trim(substr(s, 131, 110)), '') AS t2
  FROM src
)
SELECT doc_id, shape,
       CASE shape
         WHEN 0 THEN concat_ws(chr(10) || chr(10), t1)
         WHEN 1 THEN concat_ws(chr(10) || chr(10), t1, t2)
         WHEN 2 THEN concat_ws(chr(10) || chr(10), t1)
         WHEN 3 THEN concat_ws(chr(10) || chr(10), 'trailing body text', t1)
         WHEN 4 THEN concat_ws(chr(10) || chr(10), t1, t2)
         ELSE ''
       END AS main_text
FROM chunks
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# registry
def benchmark_decontam_q(spark, sf_dir):
    """BENCHMARK-DECONTAMINATION ORACLE: the contamination-control
    stage of the public LLM-data canon (GPT-3 App. C / Gopher §A.3 /
    Llama 2 §A.6 — drop the training page that shares a long word
    n-gram with the eval set), run with the paper constant n=13 over
    the sf documents corpus against a benchmark BUILT IN-QUERY:

    * every doc_id % 10 == 7 document with ≥ 25 words donates words
      5..25 as one eval row — its source doc (and any verbatim twin in
      the corpus) MUST surface with nine 13-gram hits;
    * five clean probe rows ('benchmark probe item i zqxwv') exercise
      the short-row whole-sequence gram and must match nothing;
    * a NULL-text doc and a 3-word doc pin the wordless (n_grams=0)
      and short-doc (single whole-text gram) conventions.

    DuckDB replays the whole flow — tokenization, gram fold, distinct
    benchmark set, overlap counts — closed-form from the same columns.
    The Spark plan is the scale shape documented in
    operators/decontaminate.py: broadcast benchmark grams, per-row
    distinct-gram fold, only HITTING grams reach the doc-keyed count."""
    from n8n_tools_api_spark.operators.decontaminate import (
        ngram_decontaminate,
    )

    raw = _t(spark, sf_dir, "documents", below=600)
    docs = raw.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = spark.range(1).select(
        F.lit("null_doc").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
    ).unionByName(spark.range(1).select(
        F.lit("short_doc").alias("doc_id"),
        F.lit("alpha beta gamma").alias("text"),
    ))
    corpus = docs.unionByName(planted)

    spans = (
        raw.where(F.col("doc_id") % 10 == 7)
        .select(words(F.col("text"), lower=True).alias("_w"))
        .where(F.size("_w") >= 25)
        .select(F.array_join(F.slice("_w", 5, 21), " ").alias("text"))
    )
    probes = spark.range(5).select(
        F.concat(F.lit("benchmark probe item "), F.col("id").cast("string"),
                 F.lit(" zqxwv")).alias("text"))
    bench = spans.unionByName(probes)
    return ngram_decontaminate(corpus, bench, n=13).orderBy("doc_id")


# lower/trim/\s+ split with empty tokens dropped (the decontamination
# tokenizer, operators/decontaminate.py)
_LOWER_TOKENS = (r"list_filter(regexp_split_to_array("
                 r"lower(trim(COALESCE(text, ''))), '\s+'), x -> x <> '')")


def _decontam_ctes(bench_src: str, doc_src: str) -> str:
    """13-gram decontamination replay over the ``text`` rows of
    ``bench_src`` and the (doc_id, text) rows of ``doc_src``: the
    distinct benchmark grams (``bgrams``), each doc's distinct grams
    (``dgrams(doc_id, g)``) and its overlap count (``hits(doc_id,
    n_hits)``, hitting docs only). A row shorter than 13 words is one
    whole-sequence gram; a wordless row has none."""
    grams = r"""CASE
      WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
      WHEN len(w) < 13 THEN [array_to_string(w, ' ')]
      ELSE [array_to_string(w[i:i+12], ' ')
            for i in generate_series(1, len(w) - 12)] END"""
    return f"""bgram_l AS (
  SELECT {_LOWER_TOKENS} AS w FROM {bench_src}
),
bgrams AS (
  SELECT DISTINCT gram FROM (
    SELECT unnest({grams}) AS gram
    FROM bgram_l)
  WHERE gram <> ''
),
dwords AS (
  SELECT doc_id, {_LOWER_TOKENS} AS w FROM {doc_src}
),
dgrams AS (
  SELECT doc_id, list_distinct({grams}) AS g
  FROM dwords
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_hits
  FROM (SELECT doc_id, unnest(g) AS gram FROM dgrams) d
  JOIN bgrams USING (gram)
  GROUP BY doc_id
)"""


# The benchmark is built in-query with word-slice parity:
# w[5:25] ≡ Spark slice(words, 5, 21).
BENCH_DECONTAM_SQL = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM documents WHERE doc_id < 600
  UNION ALL SELECT 'null_doc', NULL
  UNION ALL SELECT 'short_doc', 'alpha beta gamma'
),
bwords AS (
  SELECT {_LOWER_TOKENS} AS w
  FROM documents WHERE doc_id < 600 AND doc_id % 10 = 7
),
bench_rows AS (
  SELECT array_to_string(w[5:25], ' ') AS text FROM bwords WHERE len(w) >= 25
  UNION ALL
  SELECT 'benchmark probe item ' || CAST(i AS VARCHAR) || ' zqxwv'
  FROM generate_series(0, 4) t(i)
),
{_decontam_ctes("bench_rows", "corpus")}
SELECT d.doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(n_hits, 0) > 0 AS contaminated
FROM dgrams d LEFT JOIN hits USING (doc_id)
ORDER BY doc_id
"""


def url_blocklist_q(spark, sf_dir):
    """URL-BLOCKLIST ORACLE: the first gate of the public web-curation
    canon (C4 §2.2 URL word blocklist; RefinedWeb §3.1 domain denylist
    + URL term filtering) over URLs BUILT IN-QUERY from doc_id, one of
    eight shapes per doc_id % 8:

      0  https://www.badsite.org/casino/i   → blocked_domain (www strip;
         domain BEATS the 'casino' term — priority pinned)
      1  http://sub.badsite.org:8080/xi     → blocked_domain (dot-suffix
         match + port strip)
      2  https://goodsite.com/casino-review-i → blocked_term 'casino'
      3  HTTPS://GoodSite.COM/Pagei?q=POKER → blocked_term 'poker'
         (case-folding pinned)
      4  https://mytracker.net/pagei        → kept (label-boundary: the
         'tracker.net' entry must NOT match host 'mytracker.net')
      5  ftp://tracker.net/datai            → blocked_domain (non-http
         scheme still parses)
      6  not a url i                        → kept (host '')
      7  NULL                               → kept

    Blocklists: domains {badsite.org, tracker.net}, terms {casino,
    poker, xxx}. DuckDB replays host canonicalization, suffix
    generation, and both match tiers closed-form."""
    from n8n_tools_api_spark.operators.curation import url_blocklist_filter

    docs = _t(spark, sf_dir, "documents", below=400)
    i = F.col("doc_id").cast("string")
    shape = (F.col("doc_id") % 8).cast("int")
    url = (
        F.when(shape == 0, F.concat(F.lit("https://www.badsite.org/casino/"), i))
        .when(shape == 1, F.concat(F.lit("http://sub.badsite.org:8080/x"), i))
        .when(shape == 2, F.concat(F.lit("https://goodsite.com/casino-review-"), i))
        .when(shape == 3, F.concat(F.lit("HTTPS://GoodSite.COM/Page"), i,
                                   F.lit("?q=POKER")))
        .when(shape == 4, F.concat(F.lit("https://mytracker.net/page"), i))
        .when(shape == 5, F.concat(F.lit("ftp://tracker.net/data"), i))
        .when(shape == 6, F.concat(F.lit("not a url "), i))
        .otherwise(F.lit(None).cast("string"))
    )
    corpus = docs.select(i.alias("doc_id"), url.alias("url"))
    return url_blocklist_filter(
        corpus, _blocked_domains(spark), ["casino", "poker", "xxx"]
    ).orderBy("doc_id")


def _blocked_domains(spark):
    """The domain blocklist both URL-gate fixtures use."""
    return spark.range(1).select(
        F.explode(F.array(F.lit("badsite.org"), F.lit("tracker.net")))
        .alias("domain"))


def _url_blocklist_ctes(src: str, terms) -> str:
    """URL-blocklist replay (operators/curation.py::url_blocklist_filter)
    over the (doc_id, url) rows of ``src`` with the domain list
    {badsite.org, tracker.net}: canonical host, every dot-suffix of it
    against the domains, then the ``terms`` as substrings of the
    lower-cased URL → ``urlstat(doc_id, url, host, status, matched)``,
    a domain hit beating a term hit."""
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""uhost AS (
  SELECT doc_id, url, {_host_sql("url")} AS host FROM {src}
),
usuff AS (
  SELECT doc_id, unnest([array_to_string(p[i:len(p)], '.')
                         for i in generate_series(1, len(p))]) AS s
  FROM (SELECT doc_id, string_split(host, '.') AS p FROM uhost)
),
udmatch AS (
  SELECT doc_id, min(s) AS d
  FROM usuff
  JOIN (VALUES ('badsite.org'), ('tracker.net')) AS domains(domain)
    ON s = domain AND s <> ''
  GROUP BY doc_id
),
utmatch AS (
  SELECT doc_id, min(term) AS t
  FROM uhost
  JOIN (VALUES {values}) AS terms(term)
    ON contains(lower(COALESCE(url, '')), term)
  GROUP BY doc_id
),
urlstat AS (
  SELECT h.doc_id, h.url, h.host,
         CASE WHEN d IS NOT NULL THEN 'blocked_domain'
              WHEN t IS NOT NULL THEN 'blocked_term'
              ELSE 'kept' END AS status,
         COALESCE(d, t) AS matched
  FROM uhost h
  LEFT JOIN udmatch USING (doc_id)
  LEFT JOIN utmatch USING (doc_id)
)"""


URL_BLOCKLIST_SQL = f"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    CASE CAST(doc_id % 8 AS INT)
      WHEN 0 THEN 'https://www.badsite.org/casino/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'http://sub.badsite.org:8080/x' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://goodsite.com/casino-review-' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'HTTPS://GoodSite.COM/Page' || CAST(doc_id AS VARCHAR)
                  || '?q=POKER'
      WHEN 4 THEN 'https://mytracker.net/page' || CAST(doc_id AS VARCHAR)
      WHEN 5 THEN 'ftp://tracker.net/data' || CAST(doc_id AS VARCHAR)
      WHEN 6 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
      ELSE NULL END AS url
  FROM documents WHERE doc_id < 400
),
{_url_blocklist_ctes("src", ["casino", "poker", "xxx"])}
SELECT doc_id, url, host, status, matched
FROM urlstat
ORDER BY doc_id
"""


def mixture_sample_report_q(spark, sf_dir):
    """MIXTURE-SAMPLING ORACLE: the deterministic stratified sampler
    (operators/sampling.py — Pile/CCNet/FineWeb-style per-stratum
    keep rates, engine-portable md5-hex-prefix keys) audited per
    language stratum over documents ∪ planted 'xx' (unlisted → default
    rate) and NULL-lang rows (NULL stratum → default rate).

    Rates pin every branch: en 1.0 (sentinel 'g' threshold, keeps
    all), de 0.5, fr 0.25, es 0.1 ('19999999' — a non-round
    threshold), zh 0.0 (keeps none), default 0.75. DuckDB replays the
    identical md5-prefix comparison — lowercase-hex string order is
    numeric order, so the two engines agree bit-for-bit and the
    realized per-stratum counts are exact, not statistical."""
    from n8n_tools_api_spark.operators.sampling import mixture_report

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    corpus = docs.select(i.alias("doc_id"), "lang").unionByName(
        docs.where(F.col("doc_id") < 20).select(
            F.concat(F.lit("x_"), i).alias("doc_id"),
            F.lit("xx").alias("lang"))
    ).unionByName(
        docs.where(F.col("doc_id") < 10).select(
            F.concat(F.lit("n_"), i).alias("doc_id"),
            F.lit(None).cast("string").alias("lang"))
    )
    rates = {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.1, "zh": 0.0}
    return mixture_report(corpus, rates, default_rate=0.75) \
        .orderBy(F.col("stratum").asc_nulls_first())


# Threshold literals are sample_threshold_hex() of the query's rates
# (pinned by tests/test_sampling.py); CASE-on-NULL falls to ELSE in
# both engines, matching the sampler's default_rate branch.
MIXTURE_SAMPLE_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents
  UNION ALL
  SELECT 'x_' || CAST(doc_id AS VARCHAR), 'xx'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 'n_' || CAST(doc_id AS VARCHAR), NULL
  FROM documents WHERE doc_id < 10
),
keyed AS (
  SELECT lang,
         substr(md5('42:' || COALESCE(doc_id, '')), 1, 8) AS k,
         CASE lang WHEN 'en' THEN 'g'
                   WHEN 'de' THEN '80000000'
                   WHEN 'fr' THEN '40000000'
                   WHEN 'es' THEN '19999999'
                   WHEN 'zh' THEN '00000000'
                   ELSE 'c0000000' END AS threshold
  FROM corpus
)
SELECT lang AS stratum,
       threshold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k < threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(SUM(CASE WHEN k < threshold THEN 1 ELSE 0 END)
             / COUNT(*), 6) AS realized_rate
FROM keyed
GROUP BY lang, threshold
ORDER BY stratum NULLS FIRST
"""


def _web_pipeline(spark, sf_dir, use_lsh=False):
    """FULL WEB-PIPELINE builder — the complete public curation canon in
    one disposition log: URL gate → C4 clean → Gopher gate → exact/near
    dedup → per-host cap (5) → 13-gram benchmark decontamination →
    deterministic 0.5 downsample. Corpus = the c4_curation fixture
    (documents<300 as 4-sentence pages + copy_/mut_/js_/brc_/rep_
    branches) with planted URLs: doc_id%10==6 pages sit on
    www.badsite.org (rejected_url BEFORE any text stage — their exact
    twins then dedup among themselves), ids 100-149 share one
    bighost.example host and ids 150-199 share www.bighost.example via
    a double-www URL (cap pressure on both, AND a detector for any
    second canonicalization pass — re-stripping 'www.' would merge the
    two hosts and break the hash), everything else gets a unique
    host. The benchmark is donated by ids 200-299 ≡ 3 (mod 10): words
    3..23 of their page text — their cleaned text must surface as
    ``contaminated``. One DuckDB query chains ALL seven replays; a
    regression in any stage, or in how the stages hand off, breaks the
    hash."""
    from n8n_tools_api_spark.operators.curation import web_curation_keep_list

    docs = _t(spark, sf_dir, "documents", below=300)
    did = F.col("doc_id").cast("string")
    idn = F.col("doc_id")
    sent4, branches = _c4_fixture_texts()
    base_url = (
        F.when(idn % 10 == 6,
               F.concat(F.lit("https://www.badsite.org/p"), did))
        .when((idn >= 100) & (idn < 150),
              F.concat(F.lit("https://bighost.example/p"), did))
        .when((idn >= 150) & (idn < 200),
              # canonical host KEEPS one 'www.' (www.bighost.example):
              # a second canonicalization pass anywhere in the chain
              # would merge it with bighost.example and break parity
              F.concat(F.lit("https://www.www.bighost.example/p"), did))
        .otherwise(F.concat(F.lit("https://"), did, F.lit(".example/p")))
    )
    base = docs.select(
        did.alias("doc_id"), sent4.alias("text"), base_url.alias("url"))

    def branch(prefix, cond, text_col):
        pid = F.concat(F.lit(prefix), did)
        return docs.where(cond).select(
            pid.alias("doc_id"), text_col.alias("text"),
            F.concat(F.lit("https://"), pid, F.lit(".example/p"))
            .alias("url"))

    corpus = base
    for prefix, n, text in branches:
        corpus = corpus.unionByName(branch(prefix, idn < n, text))
    bench = (
        docs.where((idn >= 200) & (idn < 300) & (idn % 10 == 3))
        .select(words(sent4, lower=True).alias("_w"))
        .where(F.size("_w") >= 23)
        .select(F.array_join(F.slice("_w", 3, 21), " ").alias("text"))
    )
    return web_curation_keep_list(
        corpus, _blocked_domains(spark), ["casino"], bench,
        host_cap=5, sample_rate=0.5, use_lsh=use_lsh).orderBy("doc_id")


def web_curation_keep_list_q(spark, sf_dir):
    """FULL WEB-PIPELINE ORACLE: the exact-Jaccard variant of
    :func:`_web_pipeline` (see its docstring for the fixture and stage
    chain); the rows-only ``web_pipeline_lsh`` twin runs the identical
    corpus down the MinHash-LSH scale path."""
    return _web_pipeline(spark, sf_dir, use_lsh=False)


_WEB_SRC_CTES = rf"""wsrc AS (
  SELECT s.doc_id, s.text,
         CASE WHEN ln.id % 10 = 6 THEN 'https://www.badsite.org/p' || ln.did
              WHEN ln.id >= 100 AND ln.id < 150
                THEN 'https://bighost.example/p' || ln.did
              WHEN ln.id >= 150 AND ln.id < 200
                THEN 'https://www.www.bighost.example/p' || ln.did
              ELSE 'https://' || s.doc_id || '.example/p' END AS url
  FROM c4src s LEFT JOIN ln ON ln.did = s.doc_id
),
{_url_blocklist_ctes("wsrc", ["casino"])},
websrc AS (
  SELECT w.doc_id, w.text FROM wsrc w
  JOIN urlstat u USING (doc_id) WHERE u.status = 'kept'
)"""

_WEB_TAIL_CTES = r"""keptids AS (
  SELECT doc_id FROM final WHERE status = 'kept'
),
hostkept AS (
  SELECT k.doc_id, u.host FROM keptids k JOIN urlstat u USING (doc_id)
),
hranked AS (
  SELECT doc_id, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) AS hr
  FROM hostkept
),
bwords AS (
  SELECT [w for w in regexp_split_to_array(lower(trim(p4)), '\s+')
          if w != ''] AS w
  FROM ln WHERE id >= 200 AND id % 10 = 3
),
bspans AS (
  SELECT array_to_string(w[3:23], ' ') AS text
  FROM bwords WHERE len(w) >= 23
),
dtext AS (
  SELECT h.doc_id, g.clean_text AS text
  FROM hranked h JOIN c4gate g USING (doc_id) WHERE hr <= 5
),
""" + _decontam_ctes("bspans", "dtext") + r""",
decon_ok AS (
  SELECT doc_id FROM dtext
  WHERE doc_id NOT IN (SELECT doc_id FROM hits)
),
sampledkeep AS (
  SELECT doc_id FROM decon_ok
  WHERE substr(md5('42:' || doc_id), 1, 8) < '80000000'
)"""

# The composed chain references deep CTEs many times (the final union
# reads urlstat/c4gate/q_gate/final/hranked/…, each sitting on the whole
# upstream chain); DuckDB inlines CTEs by default, so without
# materialization the expansion is exponential — measured as an fd
# blow-up re-opening the parquet thousands of times. Force every named
# non-recursive CTE MATERIALIZED in THIS query only (the shared
# fragments stay untouched for the other oracles).
_WEB_CURATION_SQL_RAW = (
    "WITH RECURSIVE " + _C4_FIXTURE_CTES + ",\n" + _WEB_SRC_CTES + ",\n"
    + _c4_gate_ctes("websrc") + ",\n"
    + _gopher_gate_ctes("c4corpus") + ",\n"
    + _curation_tail("qcorpus") + ",\n"
    + _WEB_TAIL_CTES + "\n"
    + "SELECT doc_id, 'rejected_url' AS status,"
      " CAST(NULL AS VARCHAR) AS canonical FROM urlstat WHERE status != 'kept'\n"
      "UNION ALL\n"
      "SELECT doc_id, 'rejected_c4', CAST(NULL AS VARCHAR)"
      " FROM c4gate WHERE NOT c4_keep\n"
      "UNION ALL\n"
      "SELECT doc_id, 'rejected_quality', CAST(NULL AS VARCHAR)"
      " FROM q_gate WHERE NOT keep\n"
      "UNION ALL\n"
      "SELECT doc_id, status, canonical FROM final"
      " WHERE status IN ('exact_dup', 'near_dup')\n"
      "UNION ALL\n"
      "SELECT doc_id, 'rejected_host_cap', CAST(NULL AS VARCHAR)"
      " FROM hranked WHERE hr > 5\n"
      "UNION ALL\n"
      "SELECT doc_id, 'contaminated', CAST(NULL AS VARCHAR) FROM hits\n"
      "UNION ALL\n"
      "SELECT doc_id, 'sampled_out', CAST(NULL AS VARCHAR) FROM decon_ok"
      " WHERE doc_id NOT IN (SELECT doc_id FROM sampledkeep)\n"
      "UNION ALL\n"
      "SELECT doc_id, 'kept', doc_id FROM sampledkeep\n"
      "ORDER BY doc_id\n"
)

WEB_CURATION_SQL = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                          _WEB_CURATION_SQL_RAW)


def exact_substr_dedup_q(spark, sf_dir):
    """EXACT-SUBSTRING DEDUP ORACLE (Lee et al. 2021 ExactSubstr,
    window=20 tokens for the fixture): documents<400 ∪ planted
    branches — 30 ``cpy_`` verbatim copies (every window duplicated →
    the copy empties), 20 ``esx_a_``/``esx_b_`` pairs sharing a unique
    25-token middle span between distinct intro/outro (the later doc
    loses exactly the shared span: position-wise overlap merging), 15
    ``rpt_`` docs repeating one 20-token span twice internally (the
    second occurrence is removed, the straddling windows stay unique),
    10 ``srt_`` 4-token docs (below the match length → pass through
    whole). DuckDB replays tokenization, window hashing, global
    first-occurrence ranking, and the covered-token rebuild."""
    from n8n_tools_api_spark.operators.dedup import exact_substr_dedup

    docs = _t(spark, sf_dir, "documents", below=400)
    did = F.col("doc_id").cast("string")
    idn = F.col("doc_id")
    sp25 = F.concat_ws(" ", *[
        F.concat(F.lit("sp"), did, F.lit(f"t{j}")) for j in range(1, 26)])
    rp20 = F.concat_ws(" ", *[
        F.concat(F.lit("rp"), did, F.lit(f"t{j}")) for j in range(1, 21)])

    def branch(prefix, cond, text_col):
        return docs.where(cond).select(
            F.concat(F.lit(prefix), did).alias("doc_id"),
            text_col.alias("text"))

    corpus = (
        docs.select(did.alias("doc_id"), "text")
        .unionByName(branch("cpy_", idn < 30, F.col("text")))
        .unionByName(branch("esx_a_", idn < 20, F.concat_ws(
            " ", F.lit("alpha intro words for doc"), did,
            sp25, F.lit("alpha outro words end"))))
        .unionByName(branch("esx_b_", idn < 20, F.concat_ws(
            " ", F.lit("beta different opening here for"), did,
            sp25, F.lit("beta closing trailer text"))))
        .unionByName(branch("rpt_", idn < 15,
                            F.concat_ws(" ", rp20, rp20)))
        .unionByName(branch("srt_", idn < 10, F.concat_ws(
            " ", F.lit("tiny doc"), did, F.lit("here"))))
    )
    return exact_substr_dedup(corpus, window=20).orderBy("doc_id")


EXACT_SUBSTR_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM documents WHERE doc_id < 400
  UNION ALL
  SELECT 'cpy_' || CAST(doc_id AS VARCHAR), text
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT 'esx_a_' || CAST(doc_id AS VARCHAR),
         'alpha intro words for doc ' || CAST(doc_id AS VARCHAR) || ' '
         || array_to_string(['sp' || CAST(doc_id AS VARCHAR) || 't'
                             || CAST(j AS VARCHAR)
                             for j in generate_series(1, 25)], ' ')
         || ' alpha outro words end'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 'esx_b_' || CAST(doc_id AS VARCHAR),
         'beta different opening here for ' || CAST(doc_id AS VARCHAR) || ' '
         || array_to_string(['sp' || CAST(doc_id AS VARCHAR) || 't'
                             || CAST(j AS VARCHAR)
                             for j in generate_series(1, 25)], ' ')
         || ' beta closing trailer text'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 'rpt_' || CAST(doc_id AS VARCHAR),
         array_to_string(['rp' || CAST(doc_id AS VARCHAR) || 't'
                          || CAST(j AS VARCHAR)
                          for j in generate_series(1, 20)], ' ')
         || ' '
         || array_to_string(['rp' || CAST(doc_id AS VARCHAR) || 't'
                             || CAST(j AS VARCHAR)
                             for j in generate_series(1, 20)], ' ')
  FROM documents WHERE doc_id < 15
  UNION ALL
  SELECT 'srt_' || CAST(doc_id AS VARCHAR),
         'tiny doc ' || CAST(doc_id AS VARCHAR) || ' here'
  FROM documents WHERE doc_id < 10
),
toks AS (
  SELECT doc_id,
         [w for w in regexp_split_to_array(trim(COALESCE(text, '')), '\s+')
          if w != ''] AS ws
  FROM corpus
),
occ AS (
  SELECT doc_id, i - 1 AS q,
         md5(array_to_string(ws[i:i+19], chr(31))) AS h
  FROM toks, UNNEST(generate_series(1, greatest(len(ws) - 19, 0))) AS t(i)
),
ranked AS (
  SELECT doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, q) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS cnt
  FROM occ
),
rem AS (
  SELECT doc_id, list(q) AS qs, COUNT(*) AS n_dup
  FROM ranked WHERE cnt > 1 AND rn > 1 GROUP BY doc_id
),
rebuilt AS (
  SELECT t.doc_id, ws,
         [ws[j] for j in generate_series(1, len(ws))
          if len([q for q in COALESCE(qs, [])
                  if q <= j - 1 AND j - 1 <= q + 19]) = 0] AS kept,
         COALESCE(n_dup, 0) AS n_dup
  FROM toks t LEFT JOIN rem r USING (doc_id)
)
SELECT doc_id,
       COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       CAST(len(ws) AS INT) AS n_tokens,
       CAST(len(ws) - len(kept) AS INT) AS n_removed,
       CAST(n_dup AS INT) AS n_dup_windows
FROM rebuilt
ORDER BY doc_id
"""


def token_pack_manifest_q(spark, sf_dir):
    """TOKEN-PACKING ORACLE: the concat-and-chunk placement manifest
    (operators/packing.py — GPT-2/3-style corpus layout: docs
    concatenated in doc_id order, one EOS separator each, sliced into
    128-token blocks) over documents<500 ∪ a planted empty doc and a
    NULL-text doc (zero tokens → the doc sits at its separator
    position, first_block == last_block). DuckDB replays the count and
    the ordered prefix sum exactly — any drift in the layout order,
    the separator convention, or the block arithmetic shifts every
    downstream offset and breaks the hash."""
    from n8n_tools_api_spark.operators.packing import token_pack

    docs = _t(spark, sf_dir, "documents", below=500) \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = spark.range(1).select(
        F.lit("mt_1").alias("doc_id"), F.lit("").alias("text")
    ).unionByName(spark.range(1).select(
        F.lit("nul_1").alias("doc_id"),
        F.lit(None).cast("string").alias("text")))
    return token_pack(docs.unionByName(planted), block_size=128) \
        .orderBy("doc_id")


def _token_pack_sql(src: str, block: int) -> str:
    """Concat-and-chunk placement replay (operators/packing.py::
    token_pack) over the (doc_id, n_tokens) rows of ``src``: docs in
    doc_id order, one EOS separator each, ``block``-token blocks; the
    closing SELECT of the manifest."""
    return f"""placed AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens + 1) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
           - (n_tokens + 1) AS start_offset
  FROM {src}
),
blocks AS (
  SELECT doc_id, n_tokens, start_offset,
         CAST(floor(start_offset / {block}) AS BIGINT) AS first_block,
         CAST(floor((CASE WHEN n_tokens > 0
                          THEN start_offset + n_tokens - 1
                          ELSE start_offset END) / {block}) AS BIGINT)
           AS last_block
  FROM placed
)
SELECT doc_id, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       first_block, last_block,
       CAST(last_block - first_block + 1 AS BIGINT) AS n_blocks
FROM blocks
ORDER BY doc_id
"""


TOKEN_PACK_SQL = r"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
  FROM documents WHERE doc_id < 500
  UNION ALL SELECT 'mt_1', ''
  UNION ALL SELECT 'nul_1', NULL
),
counted AS (
  SELECT doc_id,
         CAST(len([w for w in
                   regexp_split_to_array(trim(COALESCE(text, '')), '\s+')
                   if w <> '']) AS BIGINT) AS n_tokens
  FROM corpus
),
""" + _token_pack_sql("counted", 128)


def dsir_selection_q(spark, sf_dir):
    """DSIR DATA-SELECTION ORACLE: hashed unigram+bigram importance
    scoring (Xie et al. 2023) over the full documents corpus, with the
    German-language slice as the target domain — the operator must
    rank de-like documents first without ever reading the lang column
    during scoring.

    Semantics pinned by operators/dsir.py: md5-prefix bucket keys
    (hexlen=3 → 4096 buckets), integer-quantized CENTERED ratio
    weights (ppm floor of ratio − 1, the first-order Taylor of the
    paper's log ratios — engine-portable where ln is not), exact
    BIGINT score sums. The report ranks every document
    (score DESC, doc_id tiebreak) and flags the top-100 selection.
    DuckDB replays the whole flow closed-form: same tokenization, same
    bucket hashes, same double arithmetic (mul/div only — correctly
    rounded on both engines), same floor quantization.

    The rank window is report-scale only; at 100 TB selection is
    orderBy().limit() or a score cutoff (operators/dsir.py docstring).
    """
    from n8n_tools_api_spark.operators.dsir import dsir_importance

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "text")
    # target_filter (not a separate target frame): the de slice rides
    # the one materialized gram pass instead of paying its own
    # tokenize+md5 pass over the slice (operators/dsir.py)
    rep = dsir_importance(docs, target_filter=F.col("lang") == "de",
                          bucket_hexlen=3)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        rep.join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_grams", "score")
        .withColumn("sel_rank", F.row_number().over(w).cast("bigint"))
        .withColumn("selected", F.col("sel_rank") <= 100)
        .orderBy("sel_rank")
    )


# Full DuckDB replay: same word split, same unigram+bigram feature
# sequence (occurrence multiplicity kept), same md5-prefix buckets,
# same ppm-floored ratio weights from identical double expressions
# (multiplication/division only — no transcendentals), exact BIGINT
# score sums, same rank tiebreak.
DSIR_SQL = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, text FROM documents
),
tok AS (
  SELECT doc_id, lang, {_DSIR_WORDS} AS ws FROM corpus
),
feats AS (
  SELECT doc_id, lang, {_DSIR_BUCKETS} AS bs FROM tok
),
rcounts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr
  FROM (SELECT unnest(bs) AS bucket FROM feats)
  GROUP BY bucket
),
tcounts AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
  FROM (SELECT unnest(bs) AS bucket FROM feats WHERE lang = 'de')
  GROUP BY bucket
),
tots AS (
  SELECT (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) FROM rcounts) AS rtot,
         (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tcounts) AS ttot
),
weights AS (
  SELECT bucket,
         CAST(floor(
           ((CAST(COALESCE(ct, 0) AS DOUBLE) * CAST(rtot AS DOUBLE))
            / ((CAST(cr AS DOUBLE) + 1.0)
               * CAST(GREATEST(ttot, 1) AS DOUBLE))
            - 1.0) * 1000000.0) AS BIGINT) AS w_q
  FROM rcounts LEFT JOIN tcounts USING (bucket), tots
),
scores AS (
  SELECT doc_id, CAST(SUM(w_q) AS BIGINT) AS score
  FROM (SELECT doc_id, unnest(bs) AS bucket FROM feats) d
  JOIN (SELECT bucket, w_q FROM weights WHERE w_q <> 0) p USING (bucket)
  GROUP BY doc_id
),
rep AS (
  SELECT f.doc_id, f.lang,
         CAST(len(bs) AS BIGINT) AS n_grams,
         CAST(COALESCE(s.score, 0) AS BIGINT) AS score
  FROM feats f LEFT JOIN scores s USING (doc_id)
)
SELECT doc_id, lang, n_grams, score, sel_rank, sel_rank <= 100 AS selected
FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS sel_rank
  FROM rep)
ORDER BY sel_rank
"""


def quality_classifier_q(spark, sf_dir):
    """MODEL-BASED QUALITY-FILTER ORACLE: the trained-classifier stage
    of the public canon (CCNet/Llama/DCLM fastText filtering,
    FineWeb-Edu's learned scorer) as the closed-form NB log-odds model
    of operators/qualityclf.py, with an honest HELD-OUT evaluation.

    The synthetic documents table is label-free uniform noise (per-lang
    and per-source word distributions are indistinguishable — verified;
    a lang-labeled classifier would only overfit sampling noise), so the
    two classes are PLANTED the way this catalog pins every semantic
    branch — as deterministic transforms both engines replay
    identically: 60 ``qpos_`` docs (base text + a curated-marker phrase
    repeated 1-3× by doc_id) and 60 ``qneg_`` docs (same construction,
    spam-marker phrase). Training sees only the EVEN-id half of each
    class; the odd half is held out, sharing the marker DISTRIBUTION
    but not the training rows — transfer, not memorization. The
    untouched base corpus (no markers) is scored alongside and sits
    near the boundary by construction.

    Semantics pinned by operators/qualityclf.py: the shared DSIR
    hashed unigram+bigram feature space (md5-prefix buckets,
    hexlen=3 → 4096), per-bucket sixteenth-bit integer log-odds
    weights via the lm_ppx surprisal quantization (bin-length log2 +
    interpolated mantissa — no transcendentals anywhere), the
    baseline-adjusted weight table with the n_grams·w_unseen fold-in,
    exact BIGINT score sums, decision at threshold 0. Three more
    planted docs pin the edges: empty text and NULL text (0 grams →
    score exactly 0 → decision true at threshold 0) and an
    all-novel-vocab doc (score = n_grams·w_unseen, the pure-baseline
    path — near 0 here because the planted classes are mass-balanced).
    Held-out separation (every odd qpos true, every odd qneg false) is
    pinned by tests/test_qualityclf.py.
    """
    from n8n_tools_api_spark.operators.qualityclf import (
        quality_classifier_scores)

    docs = _t(spark, sf_dir, "documents", below=300)
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("base").alias("cls"), "text",
        F.lit(False).alias("is_train"))

    def _classed(lo, hi, cls, marker):
        return docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).select(
            F.concat(F.lit(cls + "_"), F.col("doc_id").cast("string"))
            .alias("doc_id"),
            F.lit(cls).alias("cls"),
            _marked(marker).alias("text"),
            (F.col("doc_id") % 2 == 0).alias("is_train"))

    qpos = _classed(0, 60, "qpos", _QCLF_POS_MARK)
    qneg = _classed(60, 120, "qneg", _QCLF_NEG_MARK)
    edges = spark.createDataFrame(
        [("zqclf_empty", "edge", "", False),
         ("zqclf_null", "edge", None, False),
         ("zqclf_unseen", "edge", "qzzv1 qzzv2 qzzv3", False)],
        "doc_id string, cls string, text string, is_train boolean")
    # five consumers (two training slices, scoring grams, the id
    # rejoin, the cls rejoin) would each re-execute the union/transform
    # lineage — cut it once
    from n8n_tools_api_spark.operators.materialize import RoundMaterializer

    corpus = RoundMaterializer()(
        base.unionByName(qpos).unionByName(qneg).unionByName(edges),
        "qclf_corpus")
    pos = corpus.where(F.col("is_train") & (F.col("cls") == "qpos"))
    neg = corpus.where(F.col("is_train") & (F.col("cls") == "qneg"))
    rep = quality_classifier_scores(corpus, pos, neg)
    return (
        rep.join(corpus.select("doc_id", "cls", "is_train"), "doc_id")
        .select("doc_id", "cls", (~F.col("is_train")).alias("heldout"),
                "n_grams", "score_q16", "decision")
        .orderBy("doc_id")
    )


# Full DuckDB replay: same word split, same shared DSIR unigram+bigram
# md5-prefix buckets, same Laplace-smoothed class counts on the same
# train slice, identical sixteenth-bit integer log-odds weights
# (bin-length log2 + integer shift — the lm_ppx quantization), same
# baseline adjustment and n_grams·w_unseen fold-in, exact BIGINT
# score sums, same rank tiebreak.
QUALITY_CLF_SQL = f"""
WITH corpus AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'base' AS cls, text,
         false AS is_train
  FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT 'qpos_' || CAST(doc_id AS VARCHAR), 'qpos',
         COALESCE(text, '') || {_marked_sql(_QCLF_POS_MARK)},
         doc_id % 2 = 0
  FROM documents WHERE doc_id >= 0 AND doc_id < 60
  UNION ALL
  SELECT 'qneg_' || CAST(doc_id AS VARCHAR), 'qneg',
         COALESCE(text, '') || {_marked_sql(_QCLF_NEG_MARK)},
         doc_id % 2 = 0
  FROM documents WHERE doc_id >= 60 AND doc_id < 120
  UNION ALL SELECT 'zqclf_empty', 'edge', '', false
  UNION ALL SELECT 'zqclf_null', 'edge', NULL, false
  UNION ALL SELECT 'zqclf_unseen', 'edge', 'qzzv1 qzzv2 qzzv3', false
),
""" + _qclf_cte("corpus", "is_train AND cls = 'qpos'",
                "is_train AND cls = 'qneg'", "corpus") + r"""
SELECT c.doc_id, c.cls, NOT c.is_train AS heldout, r.n_grams,
       r.score_q16, r.score_q16 >= 0 AS decision
FROM qrep r JOIN corpus c USING (doc_id)
ORDER BY doc_id
"""


def lm_perplexity_buckets_q(spark, sf_dir):
    """CCNET LM-PERPLEXITY ORACLE: per-language hashed-bigram LM
    perplexity scoring with head/middle/tail equal-thirds bucketing
    (operators/lm_ppx.py — CCNet, Wenzek et al. 2020) over the full
    documents corpus ∪ four planted edges: an empty doc, a NULL-text
    doc, a one-word doc (all three bigram-less → bucket ``none``) and
    a doc in an unseen language whose sampling key keeps it OUT of the
    training slice (grp ``xx`` has zero training rows, so every bigram
    costs exactly −log2(1/4096) = 192 sixteenth-bits — the pinned
    unseen-group path).  The training slice is the deterministic 30%
    sample under seed 271828 (operators/sampling.py keys — md5-hex
    prefix vs '4ccccccc', engine-portable).  DuckDB replays the whole
    flow closed-form: same tokenization, same md5 vocabulary buckets,
    same add-one bigram LM per language, same integer sixteenth-bit
    surprisal (bin-length log2 + linear mantissa — verified
    bit-identical over a 49k-pair grid), same integer-DIV mean, same
    ntile(3) split (both engines give earlier tiles the remainder).

    The ntile window is report-scale only; at 100 TB the split uses
    per-language quantile cutoffs (operators/lm_ppx.py docstring)."""
    from n8n_tools_api_spark.operators.lm_ppx import (
        ccnet_buckets, lm_perplexity)
    from n8n_tools_api_spark.operators.sampling import (
        sample_key, sample_threshold_hex)

    # _t's read helper spreads single-split parquet layouts already
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "text")
    planted = spark.createDataFrame(
        [("mtppx_1", "en", ""), ("nulppx_1", "en", None),
         ("oneppx_1", "en", "solitary"),
         ("xxppx_1", "xx", "unseen language words entirely novel here")],
        "doc_id string, lang string, text string")
    corpus = docs.unionByName(planted)
    train = sample_key(F.col("doc_id"), 271828) \
        < F.lit(sample_threshold_hex(0.3))
    return ccnet_buckets(lm_perplexity(corpus, train)).orderBy("doc_id")


def _bigram_lm_ctes(src: str, grp: str) -> str:
    """Per-group add-one hashed-bigram LM replay (operators/lm_ppx.py)
    over the (doc_id, text) rows of ``src``, grouped by the SQL
    expression ``grp`` and trained on the seeded 30% slice (md5 key
    vs '4ccccccc'): same word split and md5-prefix vocabulary buckets,
    integer sixteenth-bit surprisal, integer-DIV mean →
    ``rep(doc_id, grp, n_bigrams, surprisal_q16, ppx_q16)``."""
    return rf"""tok AS MATERIALIZED (
  SELECT doc_id, {grp} AS grp,
         substring(md5('271828:' || doc_id), 1, 8) < '4ccccccc'
           AS is_train,
         [substring(md5('ppx:' || w), 1, 3) for w in
          regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+')
          if w <> ''] AS bs
  FROM {src}
),
big AS MATERIALIZED (
  SELECT doc_id, grp, is_train, bs[i] AS b1, bs[i + 1] AS b2
  FROM tok, UNNEST(generate_series(1, greatest(len(bs) - 1, 0))) AS t(i)
),
trainbig AS MATERIALIZED (
  SELECT grp, b1, b2, CAST(COUNT(*) AS BIGINT) AS cb
  FROM big WHERE is_train GROUP BY grp, b1, b2
),
trainctx AS MATERIALIZED (
  SELECT grp, b1, CAST(SUM(cb) AS BIGINT) AS cc
  FROM trainbig GROUP BY grp, b1
),
toks16 AS (
  SELECT doc_id, {_q16_sql("num", "den")} AS s16
  FROM (SELECT doc_id,
               CAST(COALESCE(cb, 0) + 1 AS BIGINT) AS num,
               CAST(COALESCE(cc, 0) + 4096 AS BIGINT) AS den
        FROM big LEFT JOIN trainbig USING (grp, b1, b2)
                 LEFT JOIN trainctx USING (grp, b1))
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(s16) AS BIGINT) AS surprisal_q16
  FROM toks16 GROUP BY doc_id
),
rep AS MATERIALIZED (
  SELECT t.doc_id, t.grp,
         CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(surprisal_q16, 0) AS BIGINT) AS surprisal_q16,
         CASE WHEN COALESCE(n_bigrams, 0) > 0
              THEN CAST(surprisal_q16 // n_bigrams AS BIGINT) END
           AS ppx_q16
  FROM tok t LEFT JOIN scored s USING (doc_id)
)"""


# ntile(3) head/middle/tail split with identical remainder placement.
LM_PPX_SQL = r"""
WITH corpus AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, text FROM documents
  UNION ALL SELECT 'mtppx_1', 'en', ''
  UNION ALL SELECT 'nulppx_1', 'en', NULL
  UNION ALL SELECT 'oneppx_1', 'en', 'solitary'
  UNION ALL SELECT 'xxppx_1', 'xx',
                   'unseen language words entirely novel here'
),
""" + _bigram_lm_ctes("corpus", "COALESCE(lang, '')") + r""",
tiled AS (
  SELECT *, CAST(ntile(3) OVER (PARTITION BY grp
                                ORDER BY ppx_q16, doc_id) AS BIGINT)
              AS tile
  FROM rep WHERE ppx_q16 IS NOT NULL
)
SELECT doc_id, grp, n_bigrams, surprisal_q16, ppx_q16, tile,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                 WHEN 3 THEN 'tail' END AS bucket
FROM tiled
UNION ALL
SELECT doc_id, grp, n_bigrams, surprisal_q16,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'none'
FROM rep WHERE ppx_q16 IS NULL
ORDER BY doc_id
"""


def ccnet_keep_list_q(spark, sf_dir):
    """COMPOSED CCNET PIPELINE ORACLE: the paper's stage order end to
    end (operators/lm_ppx.py:ccnet_keep_list — Wenzek et al. 2020 §3):
    the reference's A6 char-coverage detector (the real Arrow refsem
    UDF) gates unidentifiable pages first (CCNet's lang-ID threshold),
    the per-DETECTED-language hashed-bigram LM scores the survivors,
    ntile(3) splits each language into head/middle/tail, and the tail
    is downsampled at 10% with the engine-portable md5-prefix key —
    one disposition per input page across five statuses.

    Planted edges: an empty and a NULL-text page (blank → ``unknown``
    → rejected_lang), a digits-only page (coverage ≤ 0.5 →
    rejected_lang), a one-word page (identified but bigram-less →
    rejected_empty).  DuckDB replays the WHOLE chain in one query:
    char-coverage detection (the doc_language_scores replay) feeding
    the LM/ntile replay (the lm_perplexity_buckets machinery) feeding
    the status ladder."""
    from n8n_tools_api_spark.operators.lm_ppx import ccnet_keep_list

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    planted = spark.createDataFrame(
        [("mtppx_1", ""), ("nulppx_1", None), ("oneppx_1", "solitary"),
         ("numppx_1", "123 456 789 101 112")],
        "doc_id string, text string")
    return ccnet_keep_list(docs.unionByName(planted)).orderBy("doc_id")


# One DuckDB query chains all three replays: A6 char-coverage
# detection -> per-detected-language add-one bigram LM with integer
# sixteenth-bit surprisal -> ntile(3) thirds -> disposition ladder
# with the md5-prefix tail downsample. CTEs forced MATERIALIZED (deep
# chains re-expand per reference otherwise — see web_curation).
CCNET_KEEP_SQL = f"""
WITH corpus AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL SELECT 'mtppx_1', ''
  UNION ALL SELECT 'nulppx_1', NULL
  UNION ALL SELECT 'oneppx_1', 'solitary'
  UNION ALL SELECT 'numppx_1', '123 456 789 101 112'
),
{_lang_detect_ctes("corpus", "doc_id, text")},
det AS MATERIALIZED (SELECT doc_id, text, detected FROM langdet),
known AS (SELECT doc_id, text, detected FROM det WHERE detected <> 'unknown'),
{_bigram_lm_ctes("known", "detected")},
tiled AS MATERIALIZED (
  SELECT doc_id, grp, n_bigrams, ppx_q16, tile,
         CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   WHEN 3 THEN 'tail' ELSE 'none' END AS bucket
  FROM (
    SELECT *, CAST(CASE WHEN ppx_q16 IS NOT NULL THEN
                 ntile(3) OVER (PARTITION BY grp, ppx_q16 IS NULL
                                ORDER BY ppx_q16, doc_id) END AS BIGINT)
             AS tile
    FROM rep)
)
SELECT doc_id, grp AS detected, n_bigrams, ppx_q16, tile, bucket,
       CASE WHEN bucket = 'none' THEN 'rejected_empty'
            WHEN bucket = 'head' THEN 'kept_head'
            WHEN bucket = 'middle' THEN 'kept_middle'
            WHEN substring(md5('314159:' || doc_id), 1, 8) < '19999999'
              THEN 'kept_tail_sampled'
            ELSE 'rejected_tail' END AS status
FROM tiled
UNION ALL
SELECT doc_id, detected, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 'rejected_lang'
FROM det WHERE detected = 'unknown'
ORDER BY doc_id
"""

def line_dedup_q(spark, sf_dir):
    """EXACT LINE DEDUP ORACLE (RefinedWeb-style boilerplate-line
    removal, operators/dedup.py:line_dedup) — over documents<150 plus
    planted branches: 20 ``cpy_`` verbatim copies (every non-blank
    line of the copied bases becomes boilerplate and is removed from
    BOTH sides), 40 ``ftr_`` docs sharing a per-group footer line
    (removed everywhere, content lines survive), 12 ``ws_`` docs
    carrying the same footer with extra surrounding whitespace (pins
    the trimmed-key rule), 15 ``rep_`` docs repeating their own unique
    line (distinct-DOC frequency rule: kept), 10 ``blk_`` docs with
    whitespace-only lines (never candidates, always survive), 8
    ``nul_`` NULL-text rows (one empty line, survives). DuckDB replays
    line splitting, trimmed-key hashing, the distinct-doc frequency
    gate, and the positional rebuild exactly."""
    from n8n_tools_api_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents", below=150)
    did = F.col("doc_id").cast("string")
    g = (F.col("doc_id") % 8).cast("string")
    corpus = _planted(
        docs,
        _branch(docs, "cpy_", 20, "text"),
        _branch(docs, "ftr_", 40, F.concat(
            F.lit("Content line "), did,
            F.lit(" one.\nShared footer for group "), g,
            F.lit(" subscribe now\nContent line "), did, F.lit(" two."))),
        _branch(docs, "ws_", 12, F.concat(
            F.lit("Lead line "), did,
            F.lit(".\n  Shared footer for group "), g,
            F.lit(" subscribe now  \nTrail line "), did, F.lit("."))),
        _self_line_branch(docs),
        _branch(docs, "blk_", 10, F.concat(
            F.lit("   \nReal line "), did, F.lit("\n"))),
        _null_branch(docs))
    return line_dedup(corpus).orderBy("doc_id")


# Branches both line-dedup fixtures plant: 15 ``rep_`` docs repeating
# their own unique line (line_dedup keeps it, strip_repeated_lines
# removes it) and 8 ``nul_`` NULL-text rows.
def _self_line_branch(docs):
    did = F.col("doc_id").cast("string")
    return _branch(docs, "rep_", 15, F.concat(
        F.lit("Self line "), did, F.lit(" repeated\nSelf line "), did,
        F.lit(" repeated\nTail line "), did))


def _null_branch(docs):
    return _branch(docs, "nul_", 8, F.lit(None).cast("string"))


_SELF_LINE_BRANCH_SQL = (
    "rep_", 15,
    """'Self line ' || CAST(doc_id AS VARCHAR) || ' repeated' || chr(10)
         || 'Self line ' || CAST(doc_id AS VARCHAR) || ' repeated' || chr(10)
         || 'Tail line ' || CAST(doc_id AS VARCHAR)""")
_NULL_BRANCH_SQL = ("nul_", 8, "CAST(NULL AS VARCHAR)")


def _line_dedup_ctes(src: str, min_docs: int) -> str:
    """Cross-doc boilerplate-line replay (operators/dedup.py::
    line_dedup) over the (doc_id, ls) line lists of ``src``: a
    non-blank line whose trimmed md5 key occurs in >= ``min_docs``
    distinct docs is removed everywhere → ``rebuilt`` = src's columns
    plus ``kept``, the surviving lines in order."""
    return f"""occ AS (
  SELECT doc_id, i - 1 AS q, md5(trim(ls[i])) AS h
  FROM {src}, UNNEST(generate_series(1, len(ls))) AS t(i)
  WHERE trim(ls[i]) != ''
),
boiler AS (
  SELECT h FROM occ GROUP BY h HAVING COUNT(DISTINCT doc_id) >= {min_docs}
),
rem AS (
  SELECT doc_id, list(q) AS qs
  FROM occ JOIN boiler USING (h) GROUP BY doc_id
),
rebuilt AS (
  SELECT l.*,
         [l.ls[j] for j in generate_series(1, len(l.ls))
          if NOT list_contains(COALESCE(r.qs, []), j - 1)] AS kept
  FROM {src} l LEFT JOIN rem r USING (doc_id)
)"""


def _line_strip_ctes(src: str) -> str:
    """Within-doc repeated-line replay (operators/dedup.py::
    strip_repeated_lines) over the (doc_id, ls) line lists of ``src``:
    a line whose trimmed key occurred earlier in the doc is dropped,
    blank lines never → ``stripped(doc_id, ls, kept)``. 1-based
    ``list_position`` = the 1-based lambda index here; Spark's lambda
    index is 0-based (+1)."""
    return f"""stripped AS (
  SELECT doc_id, ls,
         list_filter(ls, (x, i) -> trim(x) = ''
                                   OR list_position(ks, trim(x)) = i)
           AS kept
  FROM (SELECT doc_id, ls, [trim(x) for x in ls] AS ks FROM {src})
)"""


LINE_DEDUP_SQL = """
WITH corpus AS (
""" + _planted_sql(150, "text", [
    ("cpy_", 20, "text"),
    ("ftr_", 40, """'Content line ' || CAST(doc_id AS VARCHAR) || ' one.' || chr(10)
         || 'Shared footer for group ' || CAST(doc_id % 8 AS VARCHAR)
         || ' subscribe now' || chr(10)
         || 'Content line ' || CAST(doc_id AS VARCHAR) || ' two.'"""),
    ("ws_", 12, """'Lead line ' || CAST(doc_id AS VARCHAR) || '.' || chr(10)
         || '  Shared footer for group ' || CAST(doc_id % 8 AS VARCHAR)
         || ' subscribe now  ' || chr(10)
         || 'Trail line ' || CAST(doc_id AS VARCHAR) || '.'"""),
    _SELF_LINE_BRANCH_SQL,
    ("blk_", 10, """'   ' || chr(10) || 'Real line ' || CAST(doc_id AS VARCHAR)
         || chr(10)"""),
    _NULL_BRANCH_SQL,
]) + r"""
),
lined AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM corpus
),
""" + _line_dedup_ctes("lined", 2) + """
SELECT doc_id,
       COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
       CAST(len(ls) AS INT) AS n_lines,
       CAST(len(ls) - len(kept) AS INT) AS n_removed
FROM rebuilt
ORDER BY doc_id
"""


def shard_manifest_q(spark, sf_dir):
    """SHARD-MANIFEST ORACLE (deterministic training-shard layout,
    operators/packing.py:shard_manifest) — both pinned modes over
    documents<400 in one result: ``ranked`` (global md5-key
    permutation, round-robin over 7 shards) and ``hashed`` (md5-prefix
    integer mod 5 shards, per-shard ranks). DuckDB replays the
    identical md5 keys, the (key, doc_id) total order, and both shard
    assignments exactly — a green row pins the whole permutation, not
    a statistic of it."""
    from n8n_tools_api_spark.operators.packing import shard_manifest

    docs = _t(spark, sf_dir, "documents", below=400)
    ranked = shard_manifest(docs, 7, seed=13).withColumn(
        "mode", F.lit("ranked"))
    hashed = shard_manifest(docs, 5, seed=13, mode="hashed").withColumn(
        "mode", F.lit("hashed"))
    return (ranked.unionByName(hashed)
            .select("mode", "doc_id", "shard", "pos_in_shard")
            .orderBy("mode", "doc_id"))


SHARD_MANIFEST_SQL = r"""
WITH keyed AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         md5('13:' || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents WHERE doc_id < 400
),
ranked AS (
  SELECT 'ranked' AS mode, doc_id,
         CAST((rn - 1) % 7 AS BIGINT) AS shard,
         CAST((rn - 1) // 7 AS BIGINT) AS pos_in_shard
  FROM (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS rn
        FROM keyed)
),
hashed AS (
  SELECT 'hashed' AS mode, doc_id, shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                 ORDER BY skey, doc_id) - 1 AS BIGINT)
           AS pos_in_shard
  FROM (SELECT doc_id, skey,
               CAST(CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % 5
                    AS BIGINT) AS shard
        FROM keyed)
)
SELECT * FROM ranked
UNION ALL
SELECT * FROM hashed
ORDER BY mode, doc_id
"""


def repeated_line_strip_q(spark, sf_dir):
    """WITHIN-DOC REPEATED-LINE STRIP ORACLE
    (operators/dedup.py:strip_repeated_lines — RefinedWeb §3.2/G
    intra-document line dedup, the cleaning counterpart of Gopher's
    duplicate-line-fraction gate) over documents<150 (single-line
    controls) plus planted branches:

    * 60 ``lin_`` docs line-ified every 6 words — realistic multi-line
      docs where any naturally repeated 6-word group dedups;
    * 30 ``pag_`` paginated docs repeating a page header 3× (keeps the
      first copy — the contrast with line_dedup, which would need the
      header shared across ≥2 DOCS);
    * 15 ``rep_`` docs repeating their own unique line — REMOVED here,
      KEPT by line_dedup (the two operators' dividing line, pinned);
    * 12 ``ws_`` docs whose repeats differ only in surrounding
      whitespace (trim-key rule; the first ORIGINAL spelling is what
      survives);
    * 10 ``blk_`` docs with repeated whitespace-only lines (structure,
      never removed);
    * 8 ``nul_`` NULL-text rows (one empty line, untouched).

    DuckDB replays the first-occurrence filter closed-form (1-based
    ``list_position`` = 1-based lambda index there, 0-based lambda
    index + 1 in Spark — the off-by-one is pinned by this oracle)."""
    from n8n_tools_api_spark.operators.dedup import strip_repeated_lines

    docs = _t(spark, sf_dir, "documents", below=150)
    did = F.col("doc_id").cast("string")
    g = (F.col("doc_id") % 8).cast("string")
    ws_arr = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: w != "")
    lin = (
        docs.where(F.col("doc_id") < 60)
        .select(F.concat(F.lit("lin_"), did).alias("doc_id"),
                ws_arr.alias("ws"))
        .withColumn("ng", F.greatest(
            F.floor((F.size("ws") + F.lit(5)) / F.lit(6)).cast("int"),
            F.lit(1)))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.col("ng") - 1),
                    lambda j: F.array_join(
                        F.slice("ws", j * F.lit(6) + F.lit(1), F.lit(6)),
                        " ")),
                "\n").alias("text"))
    )
    corpus = _planted(
        docs,
        lin,
        _branch(docs, "pag_", 30, F.concat(
            F.lit("Page header "), g, F.lit("\nBody one "), did,
            F.lit("\nPage header "), g, F.lit("\nBody two "), did,
            F.lit("\nPage header "), g)),
        _self_line_branch(docs),
        _branch(docs, "ws_", 12, F.concat(
            F.lit("A shared line "), did, F.lit("\n  A shared line "), did,
            F.lit("  \nA shared line "), did, F.lit("\nTail "), did)),
        _branch(docs, "blk_", 10, F.concat(
            F.lit("   \nReal "), did, F.lit("\n   \n"))),
        _null_branch(docs))
    out = strip_repeated_lines(corpus)
    return out.select(
        "doc_id", "n_lines", "n_removed",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        F.length("clean_text").cast("bigint").alias("clean_chars"),
    ).orderBy("doc_id")


REPEATED_LINE_SQL = """
WITH corpus AS (
""" + _planted_sql(150, "text", [
    ("pag_", 30, """'Page header ' || CAST(doc_id % 8 AS VARCHAR) || chr(10)
         || 'Body one ' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'Page header ' || CAST(doc_id % 8 AS VARCHAR) || chr(10)
         || 'Body two ' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'Page header ' || CAST(doc_id % 8 AS VARCHAR)"""),
    _SELF_LINE_BRANCH_SQL,
    ("ws_", 12, """'A shared line ' || CAST(doc_id AS VARCHAR) || chr(10)
         || '  A shared line ' || CAST(doc_id AS VARCHAR) || '  ' || chr(10)
         || 'A shared line ' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'Tail ' || CAST(doc_id AS VARCHAR)"""),
    ("blk_", 10, """'   ' || chr(10) || 'Real ' || CAST(doc_id AS VARCHAR)
         || chr(10) || '   ' || chr(10)"""),
    _NULL_BRANCH_SQL,
]) + r"""
  UNION ALL
  SELECT 'lin_' || CAST(doc_id AS VARCHAR),
         array_to_string(
           [array_to_string(ws[6 * j + 1 : 6 * j + 6], ' ')
            for j in generate_series(
              0, greatest(CAST((len(ws) + 5) // 6 AS INT), 1) - 1)],
           chr(10))
  FROM (SELECT doc_id,
               [w for w in string_split(COALESCE(text, ''), ' ')
                if w <> ''] AS ws
        FROM documents WHERE doc_id < 60)
),
lined AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM corpus
),
""" + _line_strip_ctes("lined") + """
SELECT doc_id,
       CAST(len(ls) AS INT) AS n_lines,
       CAST(len(ls) - len(kept) AS INT) AS n_removed,
       md5(array_to_string(kept, chr(10))) AS clean_md5,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars
FROM stripped
ORDER BY doc_id
"""


def bpe_merges_q(spark, sf_dir):
    """BPE MERGE-LEARNING ORACLE (Sennrich et al. 2016 subword units,
    operators/bpe.py:bpe_learn) — the first 4 learned merges over
    documents<120 plus 40 ``run_`` docs of repeated ``zzzz zzz zz``
    runs (freq 2400 each: the (z,z) pair dominates round 1, so the
    GREEDY LEFT-TO-RIGHT fold is exercised on both odd and even runs —
    ``zzzz → zz zz``, ``zzz → zz z`` — and the follow-on rounds tie
    run-derived pairs against each other, exercising the
    count-desc-then-lexicographic argmax). DuckDB replays word
    frequencies, per-round exact pair counts, the total-order argmax,
    and the identical string-accumulator fold (``list_reduce`` vs
    ``F.aggregate``) through all 4 unrolled rounds."""
    from n8n_tools_api_spark.operators.bpe import bpe_learn

    return bpe_learn(_bpe_corpus(spark, sf_dir), 4).orderBy("rank")


def _bpe_encoded(spark, sf_dir):
    """The BPE corpus encoded with the 4 merges learned on it (the
    merge table is ≤4 rows: the same driver-row budget as learning)."""
    from n8n_tools_api_spark.operators.bpe import bpe_encode, bpe_learn

    corpus = _bpe_corpus(spark, sf_dir)
    merge_rows = bpe_learn(corpus, 4).orderBy("rank").collect()
    return bpe_encode(corpus, [(r["left"], r["right"]) for r in merge_rows])


def _bpe_corpus(spark, sf_dir):
    """documents<120 ∪ the 40 ``run_`` docs: what every BPE oracle
    learns on."""
    docs = _t(spark, sf_dir, "documents", below=120)
    return _planted(docs, _branch(docs, "run_", 40,
                                  F.repeat(F.lit("zzzz zzz zz "), 60)))


def _bpe_round_cte(k: int) -> str:
    """Learning round k: frequency-weighted pair counts of s{k-1}, the
    total-order argmax b{k}, and s{k}, the vocabulary (word → symbols)
    after the greedy left-to-right merge fold."""
    prev = f"s{k - 1}"
    return f"""
p{k} AS (
  SELECT q.s[i] AS l, q.s[i + 1] AS r, CAST(SUM(q.freq) AS BIGINT) AS c
  FROM (SELECT string_split(sym, chr(31)) AS s, freq FROM {prev}) AS q,
       UNNEST(generate_series(1, len(q.s) - 1)) AS t(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT l, r, c FROM p{k} WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1
),
s{k} AS MATERIALIZED (
  SELECT word, freq, list_reduce(string_split(sym, chr(31)),
    (acc, x) -> CASE WHEN x = b{k}.r AND (acc = b{k}.l
                      OR ends_with(acc, chr(31) || b{k}.l))
                THEN acc || x ELSE acc || chr(31) || x END) AS sym
  FROM {prev} CROSS JOIN b{k}
)"""


# the BPE replay shared by all three BPE oracles: the planted corpus,
# per-doc word occurrences, the initial vocabulary, and the 4 unrolled
# learning rounds; s4 keeps the final word → symbols mapping
_BPE_CTES = ("corpus AS (\n" + _planted_sql(120, "text", [
    ("run_", 40, "repeat('zzzz zzz zz ', 60)")]) + r"""
),
toksd AS (
  SELECT doc_id, i AS pos, q.w[i] AS word
  FROM (SELECT doc_id,
               [x for x in
                regexp_split_to_array(trim(COALESCE(text, '')), '\s+')
                if x != ''] AS w
        FROM corpus) AS q,
       UNNEST(generate_series(1, len(q.w))) AS t(i)
  WHERE NOT contains(q.w[i], chr(31))
),
s0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         array_to_string([word[i] for i in
                          generate_series(1, length(word))], chr(31))
         || chr(31) || '</w>' AS sym
  FROM toksd GROUP BY word
),""" + ",".join(_bpe_round_cte(k) for k in range(1, 5)))


BPE_MERGES_SQL = ("WITH " + _BPE_CTES + "\n"
    + "\nUNION ALL\n".join(
        f'SELECT CAST({k - 1} AS INT) AS rank, l AS "left", r AS "right",'
        f' l || r AS merged, c AS pair_count FROM b{k}'
        for k in range(1, 5))
    + "\nORDER BY rank\n")


def bpe_encoded_tokens_q(spark, sf_dir):
    """BPE ENCODE ORACLE (operators/bpe.py:bpe_encode — the tokenizer
    loop closed: learn merges on a corpus, then tokenize that corpus
    with them). Learns the same 4 merges as ``bpe_merges`` (oracle-
    green learning), collects the bounded merge table (≤4 rows — the
    same driver-row budget as the learn loop itself), and encodes
    every document with the narrow zero-shuffle per-row fold. Output
    per doc: encodable word count, post-merge token count (what a
    packing stage bins on), and an md5 fingerprint of the full encoded
    symbol stream in word order — so the oracle pins the exact
    token SEQUENCE, not just counts. DuckDB replays learning through
    the unrolled round CTEs (carrying the word column so the final
    vocabulary keeps its word → symbols mapping), then joins each
    document's word occurrences through that vocabulary."""
    return (_bpe_encoded(spark, sf_dir)
            .select("doc_id", "n_words", "n_tokens",
                    F.md5("encoded").alias("enc_fp"))
            .orderBy("doc_id"))


BPE_ENCODED_SQL = ("WITH " + _BPE_CTES
    + r""",
docenc AS (
  SELECT d.doc_id,
         CAST(COUNT(*) AS INT) AS n_words,
         CAST(SUM(len(string_split(v.sym, chr(31)))) AS BIGINT)
           AS n_tokens,
         md5(array_to_string(list(v.sym ORDER BY d.pos), ' ')) AS enc_fp
  FROM toksd d JOIN s4 v USING (word)
  GROUP BY d.doc_id
)
SELECT c.doc_id,
       COALESCE(e.n_words, 0) AS n_words,
       CAST(COALESCE(e.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(e.enc_fp, md5('')) AS enc_fp
FROM corpus c LEFT JOIN docenc e USING (doc_id)
ORDER BY doc_id
""")


def bpe_pack_manifest_q(spark, sf_dir):
    """TOKENIZE → PACK COMPOSITION ORACLE: the pipeline's last two
    stages chained the way a training run consumes them — learn BPE
    merges on the corpus (``bpe_merges``, oracle-green), encode every
    document with them (``bpe_encode``), then hand the REAL post-merge
    token counts to the concat-and-chunk placement manifest
    (operators/packing.py:token_pack via its ``count_col`` seam, which
    exists exactly for a tokenizer stage to fill; 64-token blocks so
    most documents span several). A green row pins the full
    composition: any drift in learning, the encode fold, or the
    prefix-sum layout shifts every downstream offset. DuckDB chains
    the shared learning-replay CTEs into the pack arithmetic in one
    query."""
    from n8n_tools_api_spark.operators.packing import token_pack

    enc = _bpe_encoded(spark, sf_dir).select("doc_id", "n_tokens")
    return (token_pack(enc, block_size=64, count_col="n_tokens")
            .orderBy("doc_id"))


BPE_PACK_SQL = ("WITH " + _BPE_CTES
    + r""",
counted AS (
  SELECT c.doc_id, CAST(COALESCE(e.n_tokens, 0) AS BIGINT) AS n_tokens
  FROM corpus c LEFT JOIN (
    SELECT d.doc_id,
           SUM(len(string_split(v.sym, chr(31)))) AS n_tokens
    FROM toksd d JOIN s4 v USING (word)
    GROUP BY d.doc_id) e USING (doc_id)
),
""" + _token_pack_sql("counted", 64))


def dataset_card_q(spark, sf_dir):
    """DATASET-CARD ORACLE (operators/textstats.py:dataset_card — the
    statistics table a released corpus ships with, the Dolma/FineWeb
    convention): per (lang, source) exact integer corpus stats with
    rollup subtotals and a grand total, levels labelled 'ALL' via
    grouping() so a genuine NULL dimension can never masquerade as a
    subtotal. A planted NULL-text and empty-text doc exercise the
    n_empty / short_docs branches. DuckDB replays the whitespace token
    count, the ROLLUP lattice, and the GROUPING() labels exactly."""
    from n8n_tools_api_spark.operators.textstats import dataset_card

    docs = _t(spark, sf_dir, "documents").select("lang", "source", "text")
    planted = spark.range(1).select(
        F.lit("xx").alias("lang"), F.lit("planted").alias("source"),
        F.lit("").alias("text")
    ).unionByName(spark.range(1).select(
        F.lit("xx").alias("lang"), F.lit("planted").alias("source"),
        F.lit(None).cast("string").alias("text")))
    return (dataset_card(docs.unionByName(planted))
            .orderBy("lang", "source"))


DATASET_CARD_SQL = r"""
WITH corpus AS (
  SELECT lang, source, text FROM documents
  UNION ALL SELECT 'xx', 'planted', ''
  UNION ALL SELECT 'xx', 'planted', NULL
),
base AS (
  SELECT lang, source,
         CAST(len([w for w in
                   regexp_split_to_array(trim(COALESCE(text, '')), '\s+')
                   if w <> '']) AS BIGINT) AS n_tok,
         CAST(length(COALESCE(text, '')) AS BIGINT) AS n_ch
  FROM corpus
)
SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
       CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(n_ch) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN n_tok < 32 THEN 1 ELSE 0 END) AS BIGINT)
         AS short_docs,
       CAST(MAX(n_tok) AS BIGINT) AS max_tokens
FROM base
GROUP BY ROLLUP(lang, source)
ORDER BY lang, source
"""


def url_canonical_dedup_q(spark, sf_dir):
    """URL-CANONICAL-DEDUP ORACLE: the first dedup stage of the public
    web-curation canon (RefinedWeb §3.2 URL dedup; CCNet/FineWeb keep
    the same stage) over URLs BUILT IN-QUERY from doc_id — ten
    spellings per family g = doc_id DIV 10, shape = doc_id % 10:

      0  https://ExampleG.COM:443/pG/sub/?utm_source=x&b=2&a=1#frag
         → collapses (case fold, :443 strip, trailing /, utm_ drop,
           param sort, fragment drop)
      1  https://www.exampleG.com/pG/sub?a=1&b=2 → collapses (www)
      2  …?b=2&a=1&fbclid=zz                     → collapses (tracking
         param + order)
      5  https://u:pw@exampleG.com/pG/sub?a=1&b=2#x → collapses
         (userinfo strip)
      8  HTTPS://EXAMPLEG.COM/pG/sub/?b=2&a=1&utm_medium=m& →
         collapses (upper scheme+host, empty param)
      3  :8080 port kept → unique; 4 http://…:80 → :80 stripped but
         scheme differs → unique; 9 extra c=3 param → unique;
      6  'not a url i' → identity canonical (kept, group of 1)
      7  NULL → '' pseudo-group (ALL shape-7 docs collapse into one
         group — the documented NULL pseudo-key)

    So each family yields exactly one 5-way dup group whose kept
    representative is the STRING-ascending min doc_id. DuckDB replays
    every canonicalization rule closed-form (same regexes — Java regex
    and RE2 agree on these patterns, ASCII input pinned)."""
    from n8n_tools_api_spark.operators.curation import url_dedup

    docs = _t(spark, sf_dir, "documents", below=400)
    i = F.col("doc_id").cast("string")
    g = F.expr("doc_id div 10").cast("string")
    shape = (F.col("doc_id") % 10).cast("int")
    url = (
        F.when(shape == 0, F.concat(
            F.lit("https://Example"), g, F.lit(".COM:443/p"), g,
            F.lit("/sub/?utm_source=x&b=2&a=1#frag")))
        .when(shape == 1, F.concat(
            F.lit("https://www.example"), g, F.lit(".com/p"), g,
            F.lit("/sub?a=1&b=2")))
        .when(shape == 2, F.concat(
            F.lit("https://example"), g, F.lit(".com/p"), g,
            F.lit("/sub?b=2&a=1&fbclid=zz")))
        .when(shape == 3, F.concat(
            F.lit("https://example"), g, F.lit(".com:8080/p"), g,
            F.lit("/sub?a=1&b=2")))
        .when(shape == 4, F.concat(
            F.lit("http://example"), g, F.lit(".com:80/p"), g,
            F.lit("/sub?a=1&b=2")))
        .when(shape == 5, F.concat(
            F.lit("https://u:pw@example"), g, F.lit(".com/p"), g,
            F.lit("/sub?a=1&b=2#x")))
        .when(shape == 6, F.concat(F.lit("not a url "), i))
        .when(shape == 7, F.lit(None).cast("string"))
        .when(shape == 8, F.concat(
            F.lit("HTTPS://EXAMPLE"), g, F.lit(".COM/p"), g,
            F.lit("/sub/?b=2&a=1&utm_medium=m&")))
        .otherwise(F.concat(
            F.lit("https://example"), g, F.lit(".com/p"), g,
            F.lit("/sub?a=1&b=2&c=3")))
    )
    corpus = docs.select(i.alias("doc_id"), url.alias("url"))
    return url_dedup(corpus).orderBy("doc_id")


def _url_canon_ctes(src: str) -> str:
    """Canonical-URL replay (operators/curation.py::canonical_url) over
    the rows of ``src``: scheme/host case fold, userinfo/www/default-port
    strip, trailing-slash strip, tracking-param drop, param sort,
    fragment drop, identity fallback → ``ucanon`` = src's columns plus
    ``canonical_url``. Java regex and RE2 agree on these patterns."""
    return rf"""u1 AS (
  SELECT *, COALESCE(url, '') AS u FROM {src}
),
u2 AS (
  SELECT *,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
           AS auth,
         regexp_replace(
           regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
           '/+$', '') AS path,
         regexp_extract(u, '\?([^#]*)', 1) AS qraw
  FROM u1
),
u3 AS (
  SELECT *,
         CASE WHEN scheme = 'http' THEN regexp_replace(h0, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(h0, ':443$', '')
              ELSE h0 END AS host
  FROM (SELECT *,
          regexp_replace(
            regexp_replace(lower(auth), '^[^@]*@', ''),
            '^www\.', '') AS h0
        FROM u2)
),
u4 AS (
  SELECT *,
         COALESCE(array_to_string(list_sort(
           [p for p in string_split(qraw, '&')
            if p <> ''
               and substr(regexp_replace(p, '=.*$', ''), 1, 4) <> 'utm_'
               and not list_contains(
                     ['fbclid', 'gclid', 'mc_cid', 'mc_eid', 'msclkid',
                      'ref'],
                     regexp_replace(p, '=.*$', ''))]), '&'), '') AS q
  FROM u3
),
ucanon AS (
  SELECT *,
         CASE WHEN auth <> '' THEN
                scheme || '://' || host || path
                || CASE WHEN q = '' THEN '' ELSE '?' || q END
              ELSE u END AS canonical_url
  FROM u4
)"""


URL_CANONICAL_SQL = r"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    CASE CAST(doc_id % 10 AS INT)
      WHEN 0 THEN 'https://Example' || g || '.COM:443/p' || g
                  || '/sub/?utm_source=x&b=2&a=1#frag'
      WHEN 1 THEN 'https://www.example' || g || '.com/p' || g
                  || '/sub?a=1&b=2'
      WHEN 2 THEN 'https://example' || g || '.com/p' || g
                  || '/sub?b=2&a=1&fbclid=zz'
      WHEN 3 THEN 'https://example' || g || '.com:8080/p' || g
                  || '/sub?a=1&b=2'
      WHEN 4 THEN 'http://example' || g || '.com:80/p' || g
                  || '/sub?a=1&b=2'
      WHEN 5 THEN 'https://u:pw@example' || g || '.com/p' || g
                  || '/sub?a=1&b=2#x'
      WHEN 6 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
      WHEN 7 THEN NULL
      WHEN 8 THEN 'HTTPS://EXAMPLE' || g || '.COM/p' || g
                  || '/sub/?b=2&a=1&utm_medium=m&'
      ELSE 'https://example' || g || '.com/p' || g || '/sub?a=1&b=2&c=3'
    END AS url
  FROM (SELECT doc_id, CAST(doc_id // 10 AS VARCHAR) AS g
        FROM documents WHERE doc_id < 400)
),
""" + _url_canon_ctes("src") + r"""
SELECT doc_id, url, canonical_url,
       CASE WHEN doc_id = first_doc THEN 'kept' ELSE 'url_dup' END AS status,
       first_doc, group_size
FROM (
  SELECT doc_id, url, canonical_url,
         min(doc_id) OVER (PARTITION BY canonical_url) AS first_doc,
         CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT)
           AS group_size
  FROM ucanon)
ORDER BY doc_id
"""


def host_link_stats_q(spark, sf_dir):
    """HOST LINK-GRAPH ORACLE (operators/linkgraph.py — outlink
    extraction → canonical-host edge set → degrees → 2 rounds of
    all-integer PageRank; the link-based host ranking Common Crawl
    seeds its frontier with) over pages BUILT IN-QUERY from
    documents<320: page i lives on host ``h{i%16}.example.org`` and its
    HTML links

    * ``https://h{(h+1)%16}.example.org/x`` — a clean absolute link;
    * ``HTTP://WWW.h{(h*3+1)%16}.EXAMPLE.ORG:80/y`` — same edge rules
      through canonicalization noise (case, www, port);
    * ``/local-{i}`` — relative, dropped;
    * ``https://h{h}.example.org/self`` — self-link, dropped;
    * for i%5==0 also ``https://sink.example/z`` — a DANGLING host
      (inlinks only, contributes no mass — the pinned leak).

    The distinct host graph is 17 nodes / 46 edges (h0 and h8's two
    outlinks coincide — 2h≡0 mod 16 — pinning the distinct-edge
    collapse).  DuckDB replays extraction, canonicalization, degrees,
    and both integer PageRank rounds closed-form."""
    from n8n_tools_api_spark.operators.linkgraph import host_link_stats

    docs = _t(spark, sf_dir, "documents", below=320)
    i = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 16).cast("string")
    h1 = ((F.col("doc_id") + 1) % 16).cast("string")
    h3 = ((F.col("doc_id") * 3 + 1) % 16).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="https://h'), h1,
        F.lit('.example.org/x">n</a><a href="HTTP://WWW.h'), h3,
        F.lit('.EXAMPLE.ORG:80/y">m</a><a href="/local-'), i,
        F.lit('">l</a><a href="https://h'), h,
        F.lit('.example.org/self">s</a>'),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<a href="https://sink.example/z">k</a>'))
        .otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = docs.select(
        i.alias("doc_id"),
        F.concat(F.lit("https://h"), h, F.lit(".example.org/page"), i)
        .alias("url"),
        html.alias("html"),
    )
    return host_link_stats(pages, iterations=2).orderBy("host")


# Closed-form replay: same href regex, same canonical-host rules, same
# distinct-edge collapse, same two all-integer damped rounds.
HOST_LINK_SQL = rf"""
WITH pages AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'https://h' || h || '.example.org/page' || CAST(doc_id AS VARCHAR)
           AS url,
         '<html><body><a href="https://h' || h1
         || '.example.org/x">n</a><a href="HTTP://WWW.h' || h3
         || '.EXAMPLE.ORG:80/y">m</a><a href="/local-'
         || CAST(doc_id AS VARCHAR)
         || '">l</a><a href="https://h' || h
         || '.example.org/self">s</a>'
         || CASE WHEN doc_id % 5 = 0
                 THEN '<a href="https://sink.example/z">k</a>'
                 ELSE '' END
         || '</body></html>' AS html
  FROM (SELECT doc_id,
               CAST(doc_id % 16 AS VARCHAR) AS h,
               CAST((doc_id + 1) % 16 AS VARCHAR) AS h1,
               CAST((doc_id * 3 + 1) % 16 AS VARCHAR) AS h3
        FROM documents WHERE doc_id < 320)
),
links AS (
  SELECT url, unnest(regexp_extract_all(COALESCE(html, ''),
                                        'href="([^"]*)"', 1)) AS href
  FROM pages
),
edges AS (
  SELECT DISTINCT src_host, dst_host
  FROM (
    SELECT {_host_sql("url")} AS src_host,
           {_host_sql("href")} AS dst_host
    FROM links)
  WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges)
),
odeg AS (
  SELECT src_host AS host, CAST(COUNT(*) AS BIGINT) AS out_deg
  FROM edges GROUP BY src_host
),
ideg AS (
  SELECT dst_host AS host, CAST(COUNT(*) AS BIGINT) AS in_deg
  FROM edges GROUP BY dst_host
),
r0 AS (
  SELECT host,
         CAST(1000000000000 AS BIGINT)
           // (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS r
  FROM nodes
),
m1 AS (
  SELECT e.dst_host AS host, CAST(SUM(r.r // o.out_deg) AS BIGINT) AS m
  FROM edges e
  JOIN r0 r ON r.host = e.src_host
  JOIN odeg o ON o.host = e.src_host
  GROUP BY e.dst_host
),
it1 AS (
  SELECT n.host,
         (15 * r0.r + 85 * COALESCE(m1.m, 0)) // 100 AS r, r0.r AS r_base
  FROM nodes n
  JOIN r0 ON r0.host = n.host
  LEFT JOIN m1 ON m1.host = n.host
),
m2 AS (
  SELECT e.dst_host AS host, CAST(SUM(r.r // o.out_deg) AS BIGINT) AS m
  FROM edges e
  JOIN it1 r ON r.host = e.src_host
  JOIN odeg o ON o.host = e.src_host
  GROUP BY e.dst_host
),
it2 AS (
  SELECT i.host, (15 * i.r_base + 85 * COALESCE(m2.m, 0)) // 100 AS r
  FROM it1 i
  LEFT JOIN m2 ON m2.host = i.host
)
SELECT i.host,
       CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(d.in_deg, 0) AS BIGINT) AS in_deg,
       CAST(i.r AS BIGINT) AS pr
FROM it2 i
LEFT JOIN odeg o ON o.host = i.host
LEFT JOIN ideg d ON d.host = i.host
ORDER BY i.host
"""


def web_dedup_keep_list_q(spark, sf_dir):
    """WEB DEDUP-LADDER ORACLE (operators/curation.py:
    web_dedup_keep_list — RefinedWeb §3.2's stage order: URL dedup →
    within-doc line strip → cross-doc boilerplate lines → exact text
    dedup, cheapest gate first) over documents<240, six docs per
    family g = doc_id div 6:

    * shapes 0-2: three spellings of ONE URL (case/:443/www/utm/gclid/
      trailing slash) — two become ``url_dup`` (text untouched,
      counters NULL); the survivor's text carries an in-doc repeated
      header (within-strip removes 1) and the family-class footer;
    * shapes 3-4: distinct URLs (4 is junk-identity) with IDENTICAL
      text — after the shared footer drops, both clean to the same
      body and the pair collapses as ``exact_dup`` (min id kept) —
      pinning that exact dedup runs on the POST-cleaning text;
    * shape 5: NULL URLs — one global ``''`` pseudo-group, min
      STRING id ('101') survives and is kept with its Solo body;
    * 'Shared footer {g%%8}' recurs in ~15 survivor docs per class →
      removed everywhere by the min_doc_freq=3 boilerplate rule,
      while the 2-doc 'Body family {g}' line stays (frequency
      boundary pinned).

    240 rows: 119 url_dup / 40 exact_dup / 81 kept.  DuckDB replays
    all four stages as one chained query."""
    from n8n_tools_api_spark.operators.curation import web_dedup_keep_list

    docs = _t(spark, sf_dir, "documents", below=240)
    i = F.col("doc_id").cast("string")
    g = F.expr("doc_id div 6").cast("string")
    f8 = F.expr("(doc_id div 6) % 8").cast("string")
    shape = (F.col("doc_id") % 6).cast("int")
    url = (
        F.when(shape == 0, F.concat(
            F.lit("https://Site"), g, F.lit(".COM:443/a"), g,
            F.lit("/?utm_q=1&x=2#f")))
        .when(shape == 1, F.concat(
            F.lit("https://www.site"), g, F.lit(".com/a"), g, F.lit("?x=2")))
        .when(shape == 2, F.concat(
            F.lit("HTTPS://SITE"), g, F.lit(".COM/a"), g,
            F.lit("/?x=2&gclid=9")))
        .when(shape == 3, F.concat(
            F.lit("https://site"), g, F.lit(".com/b"), g))
        .when(shape == 4, F.concat(F.lit("page ref "), i))
        .otherwise(F.lit(None).cast("string"))
    )
    text = (
        F.when(shape <= 2, F.concat(
            F.lit("H "), i, F.lit("\nContent "), i, F.lit("\nH "), i,
            F.lit("\nShared footer "), f8))
        .when(shape <= 4, F.concat(
            F.lit("Body family "), g, F.lit("\nShared footer "), f8))
        .otherwise(F.concat(
            F.lit("Solo "), i, F.lit("\nShared footer "), f8))
    )
    corpus = docs.select(i.alias("doc_id"), url.alias("url"),
                         text.alias("text"))
    return web_dedup_keep_list(corpus, min_doc_freq=3).orderBy("doc_id")


# One chained replay of all four stages: canonical URL + window,
# within-doc first-occurrence filter, cross-doc trimmed-key
# distinct-doc boilerplate rule (>= 3), md5 exact window.
WEB_DEDUP_SQL = r"""
WITH src AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'https://Site' || g || '.COM:443/a' || g
                  || '/?utm_q=1&x=2#f'
      WHEN 1 THEN 'https://www.site' || g || '.com/a' || g || '?x=2'
      WHEN 2 THEN 'HTTPS://SITE' || g || '.COM/a' || g || '/?x=2&gclid=9'
      WHEN 3 THEN 'https://site' || g || '.com/b' || g
      WHEN 4 THEN 'page ref ' || CAST(doc_id AS VARCHAR)
      ELSE NULL END AS url,
    CASE WHEN doc_id % 6 <= 2 THEN
           'H ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'Content ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'H ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'Shared footer ' || f8
         WHEN doc_id % 6 <= 4 THEN
           'Body family ' || g || chr(10) || 'Shared footer ' || f8
         ELSE
           'Solo ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'Shared footer ' || f8
    END AS text
  FROM (SELECT doc_id, CAST(doc_id // 6 AS VARCHAR) AS g,
               CAST((doc_id // 6) % 8 AS VARCHAR) AS f8
        FROM documents WHERE doc_id < 240)
),
""" + _url_canon_ctes("src") + r""",
udisp AS (
  SELECT doc_id, text,
         min(doc_id) OVER (PARTITION BY canonical_url) AS first_doc
  FROM ucanon
),
url_dups AS (
  SELECT doc_id, 'url_dup' AS status, first_doc AS canonical,
         CAST(NULL AS INT) AS lines_dropped_within,
         CAST(NULL AS INT) AS lines_dropped_boiler
  FROM udisp WHERE doc_id <> first_doc
),
survivors AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM udisp WHERE doc_id = first_doc
),
""" + _line_strip_ctes("survivors") + """,
l1 AS (
  SELECT doc_id, kept AS ls,
         CAST(len(ls) - len(kept) AS INT) AS lines_dropped_within
  FROM stripped
),
""" + _line_dedup_ctes("l1", 3) + r""",
exacted AS (
  SELECT doc_id, lines_dropped_within,
         CAST(len(ls) - len(kept) AS INT) AS lines_dropped_boiler,
         min(doc_id) OVER (
           PARTITION BY md5(array_to_string(kept, chr(10)))) AS canonical
  FROM rebuilt
)
SELECT doc_id, status, canonical, lines_dropped_within,
       lines_dropped_boiler
FROM (
  SELECT doc_id,
         CASE WHEN doc_id = canonical THEN 'kept'
              ELSE 'exact_dup' END AS status,
         canonical, lines_dropped_within, lines_dropped_boiler
  FROM exacted
  UNION ALL
  SELECT * FROM url_dups)
ORDER BY doc_id
"""


def stream_url_agreement(spark, sf_dir):
    """STREAMING URL-DEDUP AGREEMENT ORACLE: the REAL ingest-time
    canonical-URL prefilter (streaming/dedup_stream.py:
    url_dedup_stream — dropDuplicatesWithinWatermark over the
    canonical key, run through a parquet-source/sink availableNow
    query) AND its deterministic batch twin, both rolled up against
    the closed-form disposition of the planted corpus:

    * ``base``    — documents<150, batch 1, one clean URL per doc →
      all admitted (first fetch);
    * ``respell`` — batch 2, id<60: the SAME pages under
      case/www/:443/utm/trailing-slash respellings → all suppressed
      (canonicalization collapses them onto batch 1's claims);
    * ``newpath`` — batch 2, id<40: same hosts, DIFFERENT path → all
      admitted (path is identity-bearing);
    * ``nourl``   — 8 NULL-URL docs in batch 1 + 6 in batch 2 → ALL
      admitted (the pinned ingest exemption: un-URL'd docs carry no
      fetch identity; the BATCH operator's ''-pseudo-group collapse
      is dedup accounting, not ingest policy — divergence documented
      in streaming/dedup_stream.py:_url_key).

    DuckDB computes the expectation from the construction alone; the
    green row IS the claim stream ≡ twin ≡ spec."""
    from n8n_tools_api_spark.streaming import (
        url_dedup_stream, url_dedup_stream_batch_twin)

    base_ts = F.to_timestamp(F.lit("2024-06-01 12:00:00"))
    docs = _t(spark, sf_dir, "documents", below=150)
    did = F.col("doc_id").cast("string")
    t1 = F.timestamp_add("SECOND", F.col("doc_id").cast("int"), base_ts)
    t2 = F.timestamp_add("SECOND", (F.col("doc_id") + 600).cast("int"),
                         base_ts)
    b1 = docs.select(
        did.alias("doc_id"), t1.alias("event_time"),
        F.concat(F.lit("https://site"), did, F.lit(".com/p"), did,
                 F.lit("?x=1&y=2")).alias("url"),
        F.lit("base").alias("category"),
    ).unionByName(docs.where(F.col("doc_id") < 8).select(
        F.concat(F.lit("nourl1_"), did).alias("doc_id"),
        t1.alias("event_time"),
        F.lit(None).cast("string").alias("url"),
        F.lit("nourl").alias("category"),
    ))
    b2 = docs.where(F.col("doc_id") < 60).select(
        F.concat(F.lit("re_"), did).alias("doc_id"),
        t2.alias("event_time"),
        F.concat(F.lit("HTTPS://WWW.Site"), did, F.lit(".COM:443/p"), did,
                 F.lit("/?y=2&x=1&utm_src=a#top")).alias("url"),
        F.lit("respell").alias("category"),
    ).unionByName(docs.where(F.col("doc_id") < 40).select(
        F.concat(F.lit("np_"), did).alias("doc_id"),
        t2.alias("event_time"),
        F.concat(F.lit("https://site"), did, F.lit(".com/OTHER"), did)
        .alias("url"),
        F.lit("newpath").alias("category"),
    )).unionByName(docs.where(F.col("doc_id") < 6).select(
        F.concat(F.lit("nourl2_"), did).alias("doc_id"),
        t2.alias("event_time"),
        F.lit(None).cast("string").alias("url"),
        F.lit("nourl").alias("category"),
    ))
    admitted = _run_stream_rounds(
        spark, lambda st: url_dedup_stream(st, watermark="2 hours"),
        [b1, b2], "urldedup",
        schema="doc_id string, event_time timestamp, url string")
    allr = b1.unionByName(b2)
    twin = url_dedup_stream_batch_twin(allr).select(
        "doc_id", F.lit(1).alias("_t"))
    expect_admit = F.col("category") != "respell"
    return (
        allr.select("doc_id", "category")
        .join(admitted.withColumn("_s", F.lit(1)), "doc_id", "left")
        .join(twin, "doc_id", "left")
        .groupBy("category")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("_s").cast("bigint").alias("n_stream_admitted"),
            F.count("_t").cast("bigint").alias("n_twin_admitted"),
            F.count(F.when(F.col("_s").isNotNull() == expect_admit, 1))
            .cast("bigint").alias("n_agree"),
        )
        .orderBy("category")
    )


# Closed-form expectation from the corpus construction: every category
# admits fully except respell (0 of 60).
STREAM_URL_AGREEMENT_SQL = """
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'base' AS category,
         TRUE AS expect FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT 'nourl1_' || CAST(doc_id AS VARCHAR), 'nourl', TRUE
  FROM documents WHERE doc_id < 8
  UNION ALL
  SELECT 'nourl2_' || CAST(doc_id AS VARCHAR), 'nourl', TRUE
  FROM documents WHERE doc_id < 6
  UNION ALL
  SELECT 're_' || CAST(doc_id AS VARCHAR), 'respell', FALSE
  FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT 'np_' || CAST(doc_id AS VARCHAR), 'newpath', TRUE
  FROM documents WHERE doc_id < 40
)
SELECT category,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN expect THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stream_admitted,
       CAST(SUM(CASE WHEN expect THEN 1 ELSE 0 END) AS BIGINT)
         AS n_twin_admitted,
       CAST(COUNT(*) AS BIGINT) AS n_agree
FROM corpus
GROUP BY category
ORDER BY category
"""


# ---------------------------------------------------------------------------

ORACLE_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "top_orders_by_price": (top_orders_by_price, TOP_ORDERS_SQL),
    "customer_acctbal_rank": (customer_acctbal_rank, RANK_SQL),
    "nation_revenue_rollup": (nation_revenue_rollup, ROLLUP_SQL),
    "part_type_stats": (part_type_stats, PART_SQL),
    "order_priority_counts": (order_priority_counts, PRIORITY_SQL),
    "events_daily": (events_daily, EVENTS_DAILY_SQL),
    "events_type_stats": (events_type_stats, EVENTS_TYPE_SQL),
    "lang_stats": (lang_stats, LANG_SQL),
    "doc_token_counts": (doc_token_counts, TOKENS_SQL),
    "doc_quality_scores": (doc_quality_scores, QUALITY_SQL),
    "doc_fingerprints": (doc_fingerprints, FINGERPRINT_SQL),
    "exact_dedup_stats": (exact_dedup_stats, DEDUP_SQL),
    "cosine_topk": (cosine_topk, COSINE_SQL),
    "embedding_label_stats": (embedding_label_stats, NORM_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q12_priority_shipmode": (q12_priority_shipmode, Q12_SQL),
    "q14_brand_revenue_share": (q14_brand_revenue_share, Q14_SQL),
    "q17_small_quantity_parts": (q17_small_quantity_parts, Q17_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "part_brand_size_cube": (part_brand_size_cube, CUBE_SQL),
    "events_user_sessions": (events_user_sessions, SESSIONS_SQL),
    "orders_with_returns_semi": (orders_with_returns_semi, SEMI_SQL),
    "customers_without_orders_anti": (customers_without_orders_anti, ANTI_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "event_sessions_full": (event_sessions_full, SESSIONS_FULL_SQL),
    "extract_clean_fingerprints": (extract_clean_fingerprints, EXTRACT_CLEAN_SQL),
    "doc_chain_components": (doc_chain_components, CHAIN_COMPONENTS_SQL),
    "ocr_enhanced_images": (ocr_enhanced_images, OCR_ENHANCED_SQL),
    "processing_info_rollup": (processing_info_rollup, PROCESSING_INFO_SQL),
    "q4_late_shipment_orders": (q4_late_shipment_orders, Q4_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q13_customer_order_distribution": (q13_customer_order_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "ngram_jaccard_dups": (ngram_jaccard_dups, NGRAM_JACCARD_SQL),
    "doc_language_scores": (doc_language_scores, DOC_LANGUAGE_SQL),
    "stream_dedup_first_seen": (stream_dedup_first_seen, STREAM_DEDUP_SQL),
    "formatted_fingerprints": (formatted_fingerprints, FORMATTED_SQL),
    "curation_keep_list": (curation_keep_list, CURATION_SQL),
    "extract_documents_stats": (extract_documents_stats_q, EXTRACT_STATS_SQL),
    "language_id": (language_id_agreement, LANGUAGE_ID_SQL),
    "lineage_health": (lineage_health, LINEAGE_HEALTH_SQL),
    "curation_agreement": (curation_agreement, CURATION_AGREEMENT_SQL),
    "url_landing": (url_landing, URL_LANDING_SQL),
    "media_resize_plan": (media_resize_plan, MEDIA_RESIZE_SQL),
    "media_frame_samples": (media_frame_samples, MEDIA_FRAMES_SQL),
    "gopher_repetition": (gopher_repetition_q, GOPHER_REPETITION_SQL),
    "curation_quality_keep_list": (curation_quality_keep_list,
                                   CURATION_QUALITY_SQL),
    "gopher_word_stats": (gopher_word_stats_q, GOPHER_WORD_SQL),
    "c4_line_filter": (c4_line_filter_q, C4_SQL),
    "c4_span_dedup": (c4_span_dedup_q, C4_SPAN_SQL),
    "pii_redaction": (pii_redaction_q, PII_SQL),
    "host_cap_keep_list": (host_cap_keep_list, HOST_CAP_SQL),
    "boilerplate_strip": (boilerplate_strip_q, BOILERPLATE_SQL),
    "c4_curation_keep_list": (c4_curation_keep_list_q, C4_CURATION_SQL),
    "stream_neardup_agreement": (stream_neardup_agreement,
                                 STREAM_NEARDUP_AGREEMENT_SQL),
    "stream_curation_agreement": (stream_curation_agreement,
                                  STREAM_CURATION_AGREEMENT_SQL),
    "benchmark_decontam": (benchmark_decontam_q, BENCH_DECONTAM_SQL),
    "url_blocklist": (url_blocklist_q, URL_BLOCKLIST_SQL),
    "url_canonical_dedup": (url_canonical_dedup_q, URL_CANONICAL_SQL),
    "host_link_stats": (host_link_stats_q, HOST_LINK_SQL),
    "web_dedup_keep_list": (web_dedup_keep_list_q, WEB_DEDUP_SQL),
    "stream_url_agreement": (stream_url_agreement,
                             STREAM_URL_AGREEMENT_SQL),
    "mixture_sample_report": (mixture_sample_report_q, MIXTURE_SAMPLE_SQL),
    "web_curation_keep_list": (web_curation_keep_list_q, WEB_CURATION_SQL),
    "exact_substr_dedup": (exact_substr_dedup_q, EXACT_SUBSTR_SQL),
    "token_pack_manifest": (token_pack_manifest_q, TOKEN_PACK_SQL),
    "dsir_selection": (dsir_selection_q, DSIR_SQL),
    "quality_classifier": (quality_classifier_q, QUALITY_CLF_SQL),
    "classifier_curation_keep_list": (classifier_curation_keep_list_q,
                                      CLASSIFIER_CURATION_SQL),
    "c4_badwords": (c4_badwords_q, C4_BADWORDS_SQL),
    "corpus_expectations": (corpus_expectations_q,
                            CORPUS_EXPECTATIONS_SQL),
    "lm_perplexity_buckets": (lm_perplexity_buckets_q, LM_PPX_SQL),
    "ccnet_keep_list": (ccnet_keep_list_q, CCNET_KEEP_SQL),
    "line_dedup": (line_dedup_q, LINE_DEDUP_SQL),
    "repeated_line_strip": (repeated_line_strip_q, REPEATED_LINE_SQL),
    "shard_manifest": (shard_manifest_q, SHARD_MANIFEST_SQL),
    "bpe_merges": (bpe_merges_q, BPE_MERGES_SQL),
    "bpe_encoded_tokens": (bpe_encoded_tokens_q, BPE_ENCODED_SQL),
    "bpe_pack_manifest": (bpe_pack_manifest_q, BPE_PACK_SQL),
    "dataset_card": (dataset_card_q, DATASET_CARD_SQL),
}
