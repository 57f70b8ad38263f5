"""Process-isolated scaling evidence for suite 3 (composed curation).

Runs `curation_keep_list(use_lsh=True)` under `local-cluster[N, C, M]`
— Spark's multi-JVM local cluster, where each executor is a SEPARATE
process with its own heap, GC, and Python workers. This models a real
cluster's per-node isolation far better than `local[N]` (one shared
JVM), and is the headline evidence for the north rule's two-cluster-
size criterion: the thread-mode (local[N]) suite-3 numbers in
BENCH/BASELINE.md under-report scaling because all executor threads
contend on one heap and one GC; the executor-mode numbers here do not.

Usage:
    python scripts/lc_curation_bench.py N_EXECUTORS [CORES_EACH] [MB_EACH]

    # the measured N -> 4N pair (2 cores vs 8 cores, same input):
    python scripts/lc_curation_bench.py 1
    python scripts/lc_curation_bench.py 4

Prereq: the curation corpus from scripts/scaling_bench.py (suite 3
generates /tmp/spark_graft_bench/curation_corpus_r384.parquet).
Prints one `LCLINE {...}` JSON with seconds, docs/sec, status counts
(which must be identical across levels), and 1-min load before/after.
"""
import json
import os
import sys
import time

from _repo import REPO  # first: the package on every import path

from pyspark.sql import SparkSession, functions as F

n_exec = int(sys.argv[1]) if len(sys.argv) > 1 else 1
cores = int(sys.argv[2]) if len(sys.argv) > 2 else 2
mb_each = int(sys.argv[3]) if len(sys.argv) > 3 else (10240 if n_exec <= 4 else 4096)
total = n_exec * cores
corpus_path = os.environ.get(
    "SPARK_GRAFT_LC_CORPUS",
    "/tmp/spark_graft_bench/curation_corpus_r384.parquet")

spark = (SparkSession.builder
         .master(f"local-cluster[{n_exec},{cores},{mb_each}]")
         .appName(f"lc-curation-{n_exec}x{cores}")
         .config("spark.sql.shuffle.partitions", str(total))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.executorEnv.PYTHONPATH", REPO)
         .config("spark.driver.memory", "8g")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from n8n_tools_api_spark.operators.curation import curation_keep_list  # noqa: E402

total_bytes = sum(os.path.getsize(os.path.join(corpus_path, f))
                  for f in os.listdir(corpus_path) if f.endswith(".parquet"))
spark.conf.set("spark.sql.files.maxPartitionBytes",
               str(max(total_bytes // (total * 4), 1 << 20)))
spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))

corpus = spark.read.parquet(corpus_path)
n = corpus.count()
load0 = os.getloadavg()[0]
t0 = time.perf_counter()
out = curation_keep_list(corpus, use_lsh=True)
counts = {r["status"]: r["n"]
          for r in out.groupBy("status").agg(F.count("*").alias("n")).collect()}
sec = time.perf_counter() - t0
print("LCLINE " + json.dumps({
    "executors": n_exec, "cores_each": cores, "total_cores": total,
    "docs": n, "seconds": round(sec, 2),
    "docs_per_sec": round(n / sec, 1), "counts": counts,
    "load_1min": [round(load0, 1), round(os.getloadavg()[0], 1)]}))
spark.stop()
