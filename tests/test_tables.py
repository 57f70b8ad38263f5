"""The sf-table reader's one shape rule (sources/tables.py::read_sf_table).

Plan-only checks on the local[4] session: a full ``documents`` read of
the sf0.1 table (5000 rows in one row group) is spread by a keyed
repartition, a ``below=`` slice never is, and relational tables are
always a plain read.
"""

import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf01(sf_dir):
    path = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(path):
        pytest.skip(f"{path} not present")
    return path


def test_full_documents_read_is_key_repartitioned(spark, sf01):
    from n8n_tools_api_spark.sources.tables import read_sf_table

    plan = _plan(read_sf_table(spark, sf01, "documents"))
    assert plan.count("Exchange") == 1
    assert plan.count("hashpartitioning(doc_id") == 1


def test_slice_is_never_repartitioned(spark, sf01):
    from n8n_tools_api_spark.sources.tables import read_sf_table

    assert "Exchange" not in _plan(
        read_sf_table(spark, sf01, "documents", below=300))


@pytest.mark.parametrize("name", ["lineitem", "orders"])
def test_relational_tables_are_plain_reads(spark, sf01, name):
    from n8n_tools_api_spark.sources.tables import read_sf_table

    assert "Exchange" not in _plan(read_sf_table(spark, sf01, name))


def test_unknown_table_raises(spark, sf_dir):
    from n8n_tools_api_spark.sources.tables import read_sf_table

    with pytest.raises(ValueError, match="unknown table"):
        read_sf_table(spark, sf_dir, "document")


def test_below_matches_key_filter(spark, sf_dir):
    from n8n_tools_api_spark.sources.tables import read_sf_table

    got = read_sf_table(spark, sf_dir, "documents", below=40)
    want = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .where(F.col("doc_id") < 40)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.count() == 40
