"""Loaders for the driver-generated testdata star schema (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


# (rows, row_groups) per path — footer metadata is immutable testdata,
# so one driver-side read per path per process is enough
_LAYOUT_CACHE: dict[str, tuple[int, int]] = {}


def _parquet_layout(path: str) -> tuple[int, int]:
    """Total (rows, row_groups) of a parquet file or directory."""
    if path in _LAYOUT_CACHE:
        return _LAYOUT_CACHE[path]
    import glob
    import os

    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet")))
    rows = groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
    _LAYOUT_CACHE[path] = (rows, max(groups, 1))
    return _LAYOUT_CACHE[path]


def read_sf_table(spark: SparkSession, sf_dir: str, name: str,
                  below: int | None = None) -> DataFrame:
    """Read an sf table; the table's shape alone decides its layout.

    * ``below=N`` is a fixture slice: ``key < N`` on the table's first
      column (its key), never repartitioned. A keyed repartition would
      fan a few hundred rows into cores-sized exchanges whose empty
      tasks dominate the chain (guide §1.2, scheduling overhead:
      measured ~30% of the web/C4 curation chains' wall time).
    * A full read of ``documents`` or ``embeddings`` is repartitioned
      by its key when the footer shows fewer row groups than cores and
      at least 1500 rows per group. Parquet splits at the ROW GROUP, so
      maxPartitionBytes cannot help (guide §2.5, input skew): the sf
      tables hold one row group per ~1M rows, and at sf1.0 every
      per-doc regex/shingle/signature map ran on one core (10-18 s per
      query). The hash repartition is deterministic with no sort,
      unlike round-robin; results are layout-invariant (COVERAGE.md
      cross-layout sweep). A many-file production corpus never
      triggers it.
    * Relational tables are always a plain read: their scan+aggregate
      and join consumers shrink the data map-side before any exchange,
      and an up-front repartition measured a net loss there
      (events_daily 0.4 s -> 1.4 s, q1 0.5 s -> 0.9 s at sf1.0).
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    key = df[df.columns[0]]
    if below is not None:
        return df.where(key < below)
    if name not in ("documents", "embeddings"):
        return df
    try:
        rows, groups = _parquet_layout(path)
    except Exception:
        return df  # exotic layout: fall back to the plain read
    cores = spark.sparkContext.defaultParallelism
    if groups < cores and rows // groups >= 1500:
        df = df.repartition(min(cores * 2, max(rows // 1000, cores)), key)
    return df


def write_bucketed(df, name: str, key: str, n_buckets: int = 16) -> None:
    """Persist a table bucketed+sorted on its join key (SURVEY.md §4).

    Both sides of a recurring equi-join written this way join with NO
    exchange — the shuffle is paid once at write time and amortized
    over every subsequent join. The repartition guarantees ONE file
    per bucket, which additionally eliminates the sort below the join
    when ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
    (sorted-scan ordering is opt-in since Spark 3.0). This is the
    co-located-join strategy for the engine's hot keys (orderkey,
    doc_id) at 100 TB; pinned by tests/test_bucketing.py.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a crashed previous write can leave the managed location behind
    # with no table over it — clear it through the Hadoop FS API
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{name.lower()}")
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)
    (
        # repartition on the key first: bucketBy alone writes one file
        # per (input partition × bucket), and multiple files per bucket
        # force a Sort under every downstream SortMergeJoin (review
        # finding) — one file per bucket makes the scan's sort order
        # satisfy the join, eliminating BOTH the exchange and the sort
        df.repartition(n_buckets, key)
        .write
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)  # managed table in the session warehouse
    )
