"""Mirror of the driver's correctness gate: every oracle-backed query is
run through Spark AND DuckDB at sf0.001 and compared exactly (sorted
columns, sorted rows, exact values) — the same comparison the driver
does at sf0.01, so failures show up here first.
"""

import json
import os

import duckdb
import pandas as pd
import pytest

from n8n_tools_api_spark.plans import ORACLE_QUERIES, PIPELINE_QUERIES
from n8n_tools_api_spark.sources.tables import TABLES
from scripts.result_hashes import frame_hash

# rows-only queries have no oracle, so their full output is pinned as a
# frame_hash per query at sf0.001; regenerate with
#   python scripts/result_hashes.py --sf-dir <the sf0.001 corpus> \
#       --cpus 4 --queries <the PIPELINE_QUERIES names> --out <this file>
_GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                       "pipeline_sf0.001.json")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")):
            df[c] = df[c].map(lambda v: None if v is None or v != v else str(v))
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


@pytest.mark.parametrize("name", sorted(ORACLE_QUERIES))
def test_oracle_parity(spark, sf_dir, duck, name):
    fn, sql = ORACLE_QUERIES[name]
    spark_pd = _normalize(fn(spark, sf_dir).toPandas())
    duck_pd = _normalize(duck.execute(sql).fetchdf())
    assert list(spark_pd.columns) == list(duck_pd.columns), "column names differ"
    assert len(spark_pd) == len(duck_pd), "row counts differ"
    pd.testing.assert_frame_equal(spark_pd, duck_pd, check_dtype=False,
                                  check_exact=True)


@pytest.fixture(scope="module")
def pipeline_golden():
    with open(_GOLDEN) as f:
        return json.load(f)


def test_pipeline_golden_covers_registry(pipeline_golden):
    assert set(pipeline_golden) == set(PIPELINE_QUERIES)


def test_catalog_replays_are_not_pasted():
    # a chain oracle and the standalone oracles of its stages share one
    # fragment per replay: no window of 6 consecutive stripped lines
    # (each longer than 8 characters) occurs twice in plans/catalog.py
    from n8n_tools_api_spark.plans import catalog

    with open(catalog.__file__, encoding="utf-8") as f:
        lines = [line.strip() for line in f]
    first, repeats = {}, []
    for i in range(len(lines) - 5):
        window = tuple(lines[i:i + 6])
        if all(len(line) > 8 for line in window):
            if window in first:
                repeats.append((first[window] + 1, i + 1))
            else:
                first[window] = i
    assert repeats == [], "repeated 6-line windows (first, copy line)"
    for gone in ("_LANG_SCORE_COLS_ALL", "_FMT_LANG_PICK", "_FMT_LANG_SCORES"):
        assert not hasattr(catalog, gone), gone


@pytest.mark.parametrize("name", sorted(PIPELINE_QUERIES))
def test_pipeline_queries_run(spark, sf_dir, pipeline_golden, name):
    df = PIPELINE_QUERIES[name](spark, sf_dir)
    digest, n_rows = frame_hash(df)
    assert df.schema is not None
    # every rows-only query on this corpus is expected to be non-empty
    assert n_rows > 0, f"{name} returned no rows"
    if os.path.basename(os.path.normpath(sf_dir)) == "sf0.001":
        # the pins are taken at sf0.001; another test corpus has none
        assert [digest, n_rows] == pipeline_golden[name], \
            f"{name} output moved from its pinned hash"


# queries whose CONSTRUCTION legitimately runs Python-side DataFrame
# actions: everything that reaches the components fixpoint (one
# convergence .collect() per round) or the k-means/recall loops.
# Measured with the fixed classic-DataFrame patch by emptying this set
# and recording the failures. Construction of the other queries may
# still run Spark jobs the guard cannot see: minhash_near_dups and
# simhash_near_dups each run a localCheckpoint job at build time (the
# near-dup operators cut their self-joined input eagerly).
_EAGER_BY_DESIGN = {"near_dup_clusters", "curation_pipeline",
                    "ann_recall_evidence", "stream_curation",
                    "web_pipeline_lsh", "semdedup_status_counts"}


@pytest.mark.parametrize(
    "name", sorted(set(PIPELINE_QUERIES) - _EAGER_BY_DESIGN))
def test_query_construction_runs_no_driver_action(spark, sf_dir, name,
                                                  monkeypatch):
    """Building a query plan must not trigger driver actions (round-2
    verdict #5: embedding_near_dup_pairs sniffed the vector dim with
    `.first()`, one extra driver job per query).

    The guard catches Python-side DataFrame actions only; JVM-side cuts
    (``localCheckpoint``, a reliable parquet round-trip) and the jobs
    Spark runs to infer a parquet schema pass it unseen.

    Patches the CLASSIC DataFrame (the concrete runtime class on a
    non-Connect session), not the abstract ``pyspark.sql.DataFrame``
    parent: on PySpark 4 the classic subclass overrides every action,
    so a patch on the parent is dead code and the guard can never fire
    (round-5 review finding — verified by planting a .collect())."""
    from pyspark.sql.classic.dataframe import DataFrame

    def _boom(self, *a, **k):
        raise AssertionError(f"driver action during {name} plan construction")

    for action in ("first", "head", "collect", "count", "take", "toPandas"):
        monkeypatch.setattr(DataFrame, action, _boom)
    PIPELINE_QUERIES[name](spark, sf_dir)  # construction only, no execute
