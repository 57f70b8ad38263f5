import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from n8n_tools_api_spark.session import get_spark

    spark = get_spark(
        app_name="n8n-tools-api-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def reliable_cuts(spark, tmp_path):
    """``with reliable_cuts() as ck:`` runs its body with Spark's
    checkpoint dir set under ``tmp_path``, so every lineage cut is a
    reliable parquet cut (operators/materialize.py); ``ck`` is the
    local path of ``getCheckpointDir()``. The dir is cleared on exit."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def reliable():
        sc.setCheckpointDir(str(tmp_path))
        try:
            yield sc.getCheckpointDir().removeprefix("file:")
        finally:
            sc.setCheckpointDir(None)

    return reliable
