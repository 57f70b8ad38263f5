"""Spark-side helpers of the benchmark: session set-up and teardown,
result digests, and job accounting read back from Spark's status store.

Nothing here reaches inside the engine: the benchmark times its own
calls into the engine's public functions and reads what Spark already
records (``statusTracker`` job groups, the status store's job, stage
and executor data).
"""

from __future__ import annotations

import os
import signal
import time

from measure import process_tree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warm_worker(batches):
    # the extraction UDF imports refsem inside the task; doing it here
    # moves that import into set-up for every worker the warm-up spawns
    import n8n_tools_api_spark.refsem  # noqa: F401

    yield from batches


def start_session(master: str, cores: int):
    """The engine's session plus the warm-up query and one Python worker
    per core. Returns ``(spark, get_spark_s)``."""
    from n8n_tools_api_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=cores,
                      extra={"spark.ui.showConsoleProgress": "false"})
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000).selectExpr("sum(id)").collect()
    (spark.range(0, cores, numPartitions=cores)
     .mapInPandas(_warm_worker, "id long").collect())
    return spark, get_spark_s


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the Python worker daemon and its workers) has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the JVM's gateway server exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def frame_digest(df) -> str:
    """Order-independent digest of a DataFrame, computed by Spark.

    Each row hashes to 64 bits over its columns in name order, cast to
    string, plus one NULL flag per column (so NULL, "" and an empty
    array all differ); the digest is the row count and the exact
    decimal sum of the row hashes.
    """
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols],
                   *[F.col(c).isNull() for c in cols])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(h.cast("decimal(38,0)")).alias("s")).first()
    return f"{r['n']}:{r['s']}"


class JobAccount:
    """Jobs, stages, tasks, busy intervals, shuffle and spill of a job
    group, read from the status store once the group's jobs have ended."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = sc._jvm
        # stageData(stageId, details, taskStatus, withSummaries, quantiles)
        self._stage_args = (False, jvm.java.util.ArrayList(), False,
                            sc._gateway.new_array(jvm.double, 0))

    def group(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        # status events arrive asynchronously; let the bus drain first
        self.jsc.listenerBus().waitUntilEmpty()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        intervals, stage_ids = [], set()
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  end.get().getTime() / 1e3))
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "failed_tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "intervals": intervals}
        for sid in stage_ids:
            try:
                attempts = self.store.stageData(sid, *self._stage_args)
            except Py4JJavaError:  # evicted from the store's retention
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        return out

    def executor_totals(self) -> tuple[float, int]:
        """(JVM GC seconds, failed tasks) summed over executors so far."""
        seq = self.store.executorList(True)
        gc_ms = failed = 0
        for i in range(seq.size()):
            e = seq.apply(i)
            gc_ms += e.totalGCTime()
            failed += e.failedTasks()
        return gc_ms / 1e3, failed


def versions(spark) -> dict:
    import platform

    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
