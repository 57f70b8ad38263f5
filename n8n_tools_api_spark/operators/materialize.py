"""Lineage cuts for iterative loops and multiply-consumed frames.

Iterative operators (connected components, Lloyd refinement, the
curation keep-list) must cut lineage every round or downstream actions
replay the whole chain, and a frame read by two consumers (a self-join,
two union branches) must be cut or its upstream runs once per consumer.
Every such cut in the engine goes through ``RoundMaterializer``; callers
never call ``localCheckpoint``/``checkpoint`` themselves and never pick
when or where the cut runs. Where is a deployment setting, read here and
nowhere else: Spark's own reliable-checkpoint dir, ``spark.checkpoint.dir``
(``--conf`` at submit time) or ``SparkContext.setCheckpointDir``. One
rule, two modes:

* **local** (no checkpoint dir, the default): every cut is a LAZY
  ``localCheckpoint`` — blocks live in executor storage and are written
  by the first action that reads the frame. Two facts, measured on
  ``local[4]`` (Spark 4.1), make lazy enough everywhere:

  - a lazy cut persists its RDD, and Spark's block write lock computes
    each partition once even when one job reads the cut twice (a
    ``unionByName`` of two filters, then a self-join, each computed the
    upstream once per row — ``tests/test_operators.py`` pins this). That
    is the persisted-RDD contract (Zaharia et al., NSDI 2012);
  - building a lazy cut runs no result job: over an exchange-free input
    it starts no job at all, and over a ``groupBy`` AQE runs only the
    map stage (1 job, where an eager cut ran 2).

  So an eager cut only ever added one result-stage job. NOT
  fault-tolerant: localCheckpoint truncates lineage, so on a real
  cluster a lost executor makes the blocks unrecoverable and kills the
  job mid-loop.
* **reliable** (checkpoint dir set, e.g. ``hdfs://…`` or any
  Hadoop-visible path): each cut is written to
  ``<getCheckpointDir()>/<namespace>/<tag>`` as parquet and read back.
  It is eager by nature: the write IS the cut, and a lost executor
  re-reads from shared storage instead of killing a multi-hour run.
  Rounds no longer needed are deleted via the Hadoop FileSystem API,
  so s3a/hdfs/local paths all behave. Chosen over ``df.checkpoint()``
  because PySpark's reliable RDD checkpoint recomputes the plan a
  second time when the internal RDD isn't persisted, and parquet files
  are inspectable/resumable artifacts.

Path levels: ``setCheckpointDir(d)`` itself creates a fresh
``<d>/<uuid>`` per SparkContext, so two driver processes sharing one
root already land in disjoint subtrees and the path needs no
applicationId level of its own. Within one process each
``RoundMaterializer`` takes its own namespace from a process-wide
counter, so a run that reuses a tag never overwrites files that a frame
returned by an earlier run still reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class RoundMaterializer:
    """Materialize per-round DataFrames; see module docstring."""

    _seq = 0  # the process-wide namespace counter (module docstring)

    def __init__(self):
        RoundMaterializer._seq += 1
        self.namespace = f"m{RoundMaterializer._seq:04d}"
        self._paths: dict[str, str] = {}

    def __call__(self, df: DataFrame, tag: str) -> DataFrame:
        root = df.sparkSession.sparkContext.getCheckpointDir()
        if root is None:
            return df.localCheckpoint(eager=False)
        path = f"{root}/{self.namespace}/{tag}"
        df.write.mode("overwrite").parquet(path)
        self._paths[tag] = path
        return df.sparkSession.read.parquet(path)

    def release(self, tag: str) -> None:
        """Drop a round's reliable files once nothing references them.

        No-op in local mode (localCheckpoint blocks are reclaimed with
        the RDD) and for unknown tags. Never call while a returned
        frame for ``tag`` is still a dependency of an unexecuted plan.
        """
        path = self._paths.pop(tag, None)
        if path is None:
            return
        try:  # Hadoop FS delete so s3a/hdfs paths behave like local
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(hconf)
            if fs.exists(p):
                fs.delete(p, True)
        except Exception:
            pass  # best-effort cleanup; stale round files are harmless
