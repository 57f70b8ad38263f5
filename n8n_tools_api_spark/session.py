"""SparkSession factory with the engine's scale-oriented defaults.

Local mode is for correctness; the same builder settings are what we'd
ship in ``spark-submit --conf`` on a 1000-executor cluster:

* AQE on (runtime coalesce + skew-join splitting) — media-heavy
  documents skew span sizes by ~50x (FIXTURES.md §1 profile), so skew
  handling is load-bearing, not cosmetic.
* Arrow on, with a reduced ``maxRecordsPerBatch``: rows carry multi-KB
  (at 100 TB scale multi-MB) base64 payloads; default 10k-row batches
  would balloon executor memory during pandas UDF transfer.
* shuffle partitions default to the local core count; on a real cluster
  this is set to 2-3x total cores (or left to AQE's coalescing with a
  high initial value).

Iceberg: the container has no Iceberg runtime jar, so local tests run on
a parquet warehouse. ``iceberg_configs()`` returns the exact ``--conf``
set for cluster deployment (hadoop catalog; swap for hive/glue/rest in
production) — the writer code in operators/lineage.py degrades from
Iceberg MERGE to an atomic parquet commit-marker protocol when the
catalog is absent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_configs(warehouse: str) -> dict[str, str]:
    """The --conf set to enable the Iceberg catalog on a real cluster."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        "spark.sql.catalog.engine": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.engine.type": "hadoop",
        "spark.sql.catalog.engine.warehouse": warehouse,
    }


def _default_driver_memory() -> str:
    """Size the local-mode JVM heap to the machine.

    In ``local[k]`` the driver JVM hosts every executor thread: k
    concurrent tasks share ONE heap, so the old fixed 8g default gave
    32 tasks ~256 MB of execution memory each — sort/aggregate buffers
    spilled and GC dominated CPU-dense stages (guide §5). A quarter of
    physical RAM, clamped to [8g, 32g], keeps headroom for Python
    workers and concurrent sessions. On a real cluster this value only
    sizes the (data-free) driver and ``spark.executor.memory`` governs
    the workers; override via $SPARK_DRIVER_MEMORY either way.
    """
    try:
        phys_gib = (os.sysconf("SC_PHYS_PAGES")
                    * os.sysconf("SC_PAGE_SIZE")) // (1 << 30)
    except (ValueError, OSError):
        return "8g"
    return f"{min(32, max(8, phys_gib // 4))}g"


def get_spark(
    app_name: str = "n8n-tools-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    cores = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(n, os.cpu_count() or 8) if n else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime SMJ -> shuffled-hash rewrite for small build sides:
        # AQE applies it per-join only when every post-shuffle partition
        # is under this threshold, so big-data joins keep the spillable
        # sort-merge path — a scale-adaptive setting, not a local tune
        # (guide §3.1; default 0 disables the rewrite entirely)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
