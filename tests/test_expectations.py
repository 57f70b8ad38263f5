"""Corpus expectation checking (operators/expectations.py) — the
``corpus_expectations`` oracle's semantics pins: one-pass metrics,
both verdicts per constraint kind, the empty-corpus fail-loudly rule,
declaration order, and constraint validation."""

import re

import duckdb
import pytest

from n8n_tools_api_spark.operators.expectations import corpus_expectations
from n8n_tools_api_spark.plans.catalog import CORPUS_EXPECTATIONS_SQL


def _run(spark, rows, suite):
    df = spark.createDataFrame(rows, "doc_id string, text string, n bigint")
    return [tuple(r) for r in corpus_expectations(df, suite).collect()]


ROWS = [("a", "x", 5), ("b", None, 9), ("c", "y", 2), ("a", "z", 11)]


class TestConstraintKinds:
    def test_every_kind_both_verdicts(self, spark):
        out = _run(spark, ROWS, [
            ("row_count_min", None, 3),        # 4 >= 3 pass
            ("row_count_min", None, 5),        # fail
            ("completeness_min", "text", 0.5),  # 0.75 pass
            ("completeness_min", "text", 0.9),  # fail
            ("uniqueness", "doc_id", None),     # dup 'a' fail
            ("uniqueness", "text", None),       # NULL -> 3/4 fail
            ("min_value", "n", 1),              # 2 >= 1 pass
            ("min_value", "n", 3),              # fail
            ("max_value", "n", 11),             # pass
            ("max_value", "n", 10),             # fail
        ])
        assert [r[0] for r in out] == list(range(10))  # declaration order
        assert [r[5] for r in out] == [True, False, True, False, False,
                                       False, True, False, True, False]
        assert out[2][3] == 0.75 and out[4][3] == 0.75

    def test_unique_column_passes_exactly(self, spark):
        rows = [("a", "x", 1), ("b", "y", 2), ("c", "z", 3)]
        out = _run(spark, rows, [("uniqueness", "doc_id", None)])
        assert out[0][3] == 1.0 and out[0][5] is True


class TestEmptyCorpus:
    def test_fails_loudly_except_zero_rowcount(self, spark):
        out = _run(spark, [], [
            ("row_count_min", None, 0),
            ("row_count_min", None, 1),
            ("completeness_min", "text", 0.0),
            ("uniqueness", "doc_id", None),
            ("min_value", "n", -999),
        ])
        assert out[0][5] is True          # 0 rows >= 0
        assert [r[5] for r in out[1:]] == [False] * 4
        assert all(r[3] is None for r in out[2:])  # NULL metrics


class TestAllNullNumericColumn:
    def test_min_max_fail_and_match_the_oracle(self, spark):
        # a non-empty corpus whose numeric column is all NULL: MIN/MAX
        # are NULL, so an uncoalesced comparison would be NULL, not False
        rows = [("a", "x", "en", None), ("b", "y", "en", None)]
        df = spark.createDataFrame(
            rows, "doc_id string, text string, lang string, n_chars bigint")
        out = [tuple(r) for r in corpus_expectations(df, [
            ("min_value", "n_chars", 0),
            ("max_value", "n_chars", 100000),
        ]).collect()]
        # the catalog oracle's own SQL, its corpus CTE swapped for the
        # same rows
        corpus = ("WITH corpus AS (SELECT * FROM (VALUES "
                  "('a', 'x', 'en', NULL::BIGINT), "
                  "('b', 'y', 'en', NULL::BIGINT)) "
                  "t(doc_id, text, lang, n_chars)),\nm AS (")
        sql = re.sub(r"WITH corpus AS \(.*?\n\),\nm AS \(",
                     lambda _: corpus, CORPUS_EXPECTATIONS_SQL,
                     count=1, flags=re.S)
        assert sql != CORPUS_EXPECTATIONS_SQL
        con = duckdb.connect()
        oracle = {r[1]: r for r in con.sql(sql).fetchall()}
        assert [r[3] for r in out] == [None, None]
        assert [oracle["min_value"][3], oracle["max_value"][3]] == [None, None]
        assert ([r[5] for r in out]
                == [oracle["min_value"][5], oracle["max_value"][5]]
                == [False, False])


class TestValidation:
    def test_bad_suites_raise(self, spark):
        df = spark.createDataFrame(ROWS, "doc_id string, text string, n bigint")
        for suite in ([],
                      [("nope", "text", 1)],
                      [("row_count_min", "text", 1)],
                      [("completeness_min", None, 0.5)],
                      [("uniqueness", "doc_id", 0.5)],
                      [("min_value", "n", None)]):
            with pytest.raises(ValueError):
                corpus_expectations(df, suite)


class TestOnePassShape:
    def test_single_aggregate_no_extra_exchanges(self, spark):
        df = spark.createDataFrame(ROWS, "doc_id string, text string, n bigint")
        plan = corpus_expectations(df, [
            ("completeness_min", "text", 0.5),
            ("uniqueness", "doc_id", None),
            ("min_value", "n", 0),
        ])._jdf.queryExecution().executedPlan().toString()
        # the distinct expand costs one exchange pair; nothing else is wide
        assert "EvalPython" not in plan
