"""Iceberg table DDL + writer helpers for cluster deployment.

The sandbox has no Iceberg runtime jar, so local tests run against a
parquet warehouse (see session.py). This module is the deployment
contract: the exact DDL / write calls a cluster run issues once the
catalog from ``session.iceberg_configs`` is attached. Partitioning
follows SURVEY.md §4: ``bucket(doc_id)`` for pruning + balanced
parallelism (10^12 docs / 4096 buckets ≈ 250M docs per bucket, further
split by file), and the lineage table is the MERGE target that replaces
the parquet commit-marker protocol in operators/lineage.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CATALOG = "engine"

DOCUMENTS_INTERLEAVED_DDL = f"""
CREATE TABLE IF NOT EXISTS {CATALOG}.db.documents_interleaved (
  doc_id STRING,
  spans  ARRAY<STRUCT<kind:STRING, text:STRING, media_ref:STRING, offset:INT>>
)
USING iceberg
PARTITIONED BY (bucket(4096, doc_id))
TBLPROPERTIES (
  'write.target-file-size-bytes' = '268435456',
  'write.distribution-mode' = 'hash',
  'format-version' = '2'
)
"""

# the resume protocol's output: identity-partitioned on the
# content-derived bucket column (pmod(xxhash64(doc_id), n_buckets)) so
# overwritePartitions() replaces exactly the bucket groups a run
# re-processes — the Iceberg twin of the local dynamic-partition
# parquet overwrite in operators/lineage.py
EXTRACTED_SPANS_DDL = f"""
CREATE TABLE IF NOT EXISTS {CATALOG}.db.extracted_spans (
  doc_id STRING,
  spans  ARRAY<STRUCT<kind:STRING, text:STRING, media_ref:STRING, offset:INT>>,
  bucket INT
)
USING iceberg
PARTITIONED BY (bucket)
TBLPROPERTIES (
  'write.target-file-size-bytes' = '268435456',
  'format-version' = '2'
)
"""

MEDIA_BLOBS_DDL = f"""
CREATE TABLE IF NOT EXISTS {CATALOG}.db.media_blobs (
  media_key STRING,
  media_ref STRING,
  ext STRING,
  media_bytes BINARY
)
USING iceberg
PARTITIONED BY (truncate(2, media_key))
TBLPROPERTIES ('write.target-file-size-bytes' = '536870912')
"""

LINEAGE_DDL = f"""
CREATE TABLE IF NOT EXISTS {CATALOG}.db.extraction_lineage (
  run_id STRING,
  bucket INT,
  doc_count BIGINT,
  span_count BIGINT,
  media_ref_count BIGINT,
  wall_ms BIGINT
)
USING iceberg
"""

# idempotent per-bucket commit (replaces parquet append in lineage.py)
LINEAGE_MERGE = f"""
MERGE INTO {CATALOG}.db.extraction_lineage t
USING lineage_updates u
ON t.run_id = u.run_id AND t.bucket = u.bucket
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""


_AVAILABLE_CACHE: dict[str, bool] = {}


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg catalog is attached (cluster deployment).

    Cached per application — the probe is a driver SQL call and the
    resume protocol invokes a helper per bucket group (review finding);
    a catalog cannot appear or vanish within a session.

    Only "catalog not configured" (a parse/analysis error naming the
    catalog) is negative-cached silently. Any OTHER failure — e.g. a
    transient metastore error on a configured catalog — is logged once
    before caching, so a resumed run that silently fell back to the
    parquet protocol (ignoring lineage previously committed to Iceberg,
    reprocessing everything) leaves a visible trace (review finding).
    """
    app_id = spark.sparkContext.applicationId
    if app_id not in _AVAILABLE_CACHE:
        try:
            spark.sql(f"SHOW NAMESPACES IN {CATALOG}")
            _AVAILABLE_CACHE[app_id] = True
        except Exception as exc:
            msg = str(exc)
            not_configured = (
                "CATALOG_NOT_FOUND" in msg
                or "ParseException" in type(exc).__name__
                or f"Catalog '{CATALOG}' not found" in msg
            )
            if not not_configured:
                import logging

                logging.getLogger(__name__).warning(
                    "Iceberg catalog %s probe failed with an unexpected "
                    "error; falling back to the parquet protocol for this "
                    "application. Resume state committed to Iceberg will "
                    "NOT be seen. Error: %s", CATALOG, msg.splitlines()[0],
                )
            _AVAILABLE_CACHE[app_id] = False
    return _AVAILABLE_CACHE[app_id]


def _run_data_table(data_path: str) -> str:
    """Iceberg twin of the local protocol's per-run out_dir: one data
    table per destination path, so a fresh run's reset can never touch
    another run's committed buckets (review finding — a shared table
    with TRUNCATE had a global blast radius its local twin lacked)."""
    import hashlib
    import re as _re

    stem = _re.sub(r"[^A-Za-z0-9_]", "_", data_path.rstrip("/").rsplit("/", 1)[-1])
    digest = hashlib.sha256(data_path.encode()).hexdigest()[:8]
    return f"{CATALOG}.db.extracted_spans_{stem}_{digest}"


LINEAGE_SCHEMA = (
    "run_id string, bucket int, doc_count bigint, span_count bigint, "
    "media_ref_count bigint, wall_ms bigint"
)


def overwrite_extracted_buckets(spark: SparkSession, out: DataFrame,
                                data_path: str) -> None:
    """Idempotent per-bucket data write for the resume protocol.

    Iceberg: ``overwritePartitions()`` on this run's data table
    (created on demand from the EXTRACTED_SPANS_DDL shape) atomically
    replaces exactly the bucket partitions present in ``out`` (a re-run
    of a crashed group rewrites byte-identical data). Local: dynamic
    partition overwrite into the parquet warehouse — same semantics,
    same call-site.
    """
    if iceberg_available(spark):
        table = _run_data_table(data_path)
        spark.sql(EXTRACTED_SPANS_DDL.replace(
            f"{CATALOG}.db.extracted_spans", table))
        out.writeTo(table).overwritePartitions()
    else:
        out.write.mode("overwrite").partitionBy("bucket").parquet(data_path)


def read_extracted_data(spark: SparkSession, data_path: str) -> DataFrame:
    """This run's extracted output — the read twin of
    overwrite_extracted_buckets (review finding: the write moved to the
    Iceberg table but the read stayed on the parquet path)."""
    if iceberg_available(spark):
        return spark.table(_run_data_table(data_path))
    return spark.read.parquet(data_path)


def commit_lineage(spark: SparkSession, stats: DataFrame,
                   parquet_fallback: str) -> None:
    """Atomic lineage commit: Iceberg MERGE on cluster, parquet append
    (single-file atomicity) locally — same call-site either way."""
    if iceberg_available(spark):
        stats.createOrReplaceTempView("lineage_updates")
        spark.sql(LINEAGE_MERGE)
    else:
        stats.write.mode("append").parquet(parquet_fallback)


def read_lineage(spark: SparkSession, parquet_fallback: str) -> DataFrame:
    """The lineage table (Iceberg) or its local parquet twin; an empty
    DF with the right schema when neither exists yet."""
    if iceberg_available(spark):
        return spark.table(f"{CATALOG}.db.extraction_lineage")
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(parquet_fallback)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def clear_run_outputs(spark: SparkSession, data_path: str,
                      lineage_path: str, run_id: str) -> None:
    """Fresh-run reset (see operators/lineage.py for why BOTH go) —
    scoped to THIS run's outputs on both deployments.

    Iceberg: DROP this run's data table, DELETE only this run_id's
    lineage rows (a TRUNCATE of shared tables would wipe other runs'
    committed buckets — review finding). Local: recursive delete of the
    run's out_dir paths via the Hadoop FileSystem API (works for
    file://, hdfs://, s3a:// alike — os.path/shutil would silently
    no-op off-local).
    """
    if iceberg_available(spark):
        spark.sql(f"DROP TABLE IF EXISTS {_run_data_table(data_path)}")
        escaped = run_id.replace("'", "''")
        spark.sql(f"DELETE FROM {CATALOG}.db.extraction_lineage "
                  f"WHERE run_id = '{escaped}'")
        return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for path in (data_path, lineage_path):
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)
