"""Determinism under task retry: on ``local[2,2]`` every task gets one
retry, and a test-only upstream ``mapInPandas`` fails the first attempt
of partition 0.

* Extraction: the fault fires inside the same stage as
  ``extract_spans``; the retried pass must hash like a fault-free pass
  and like refsem run on the driver, and later tasks on the reused
  workers must still extract correctly (the worker wrapper's
  ``finally`` runs on the failed task).
* The components loop: the fault fires under the pairs that feed
  ``near_dup_components`` on its distributed path, whose every round is
  a lazy lineage cut; the labels must hash like a fault-free loop's.
  The same loop runs again in reliable mode (Spark's checkpoint dir
  set), where every round is a parquet write-and-read cut, and must
  hash the same.

It runs in a subprocess because the session master is fixed per JVM."""

import json
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]

JOB = r'''
import json
import os
import sys

sys.path.insert(0, sys.argv[1])

from pyspark import TaskContext

from n8n_tools_api_spark.operators.dedup import near_dup_components
from n8n_tools_api_spark.operators.extract import OUTPUT_SCHEMA, extract_spans
from n8n_tools_api_spark.refsem import extract_document
from n8n_tools_api_spark.session import get_spark
from n8n_tools_api_spark.sources import bench_corpus
from n8n_tools_api_spark.sources.synthetic import generate_bench_doc
from scripts.result_hashes import frame_hash

N_DOCS, SEED = 300, 5
spark = get_spark(master="local[2,2]", shuffle_partitions=2,
                  extra={"spark.driver.memory": "1g"})
sc = spark.sparkContext
corpus = bench_corpus(spark, N_DOCS, SEED, partitions=4, cache_dir=sys.argv[2])


def fail_first_attempt(batches):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected task failure")
    yield from batches


def run(build, group):
    sc.setJobGroup(group, group)
    digest, rows = frame_hash(build())
    tracker = sc.statusTracker()
    failed = sum(tracker.getStageInfo(sid).numFailedTasks
                 for jid in tracker.getJobIdsForGroup(group)
                 for sid in tracker.getJobInfo(jid).stageIds)
    return {"digest": digest, "rows": rows, "failed_tasks": failed}


out = {
    "retried": run(lambda: extract_spans(
        corpus.mapInPandas(fail_first_attempt, schema=corpus.schema)),
        "retried"),
    "later": run(lambda: extract_spans(corpus), "later"),
}
# a 25-doc drifting chain plus two small components: several rounds
chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(24)]
pairs = spark.createDataFrame(chain + [("x", "y"), ("y", "z"), ("p", "q")],
                              "doc_a string, doc_b string")
out["loop_retried"] = run(lambda: near_dup_components(
    pairs.mapInPandas(fail_first_attempt, schema=pairs.schema),
    small_graph_max_edges=0), "loop_retried")
out["loop_clean"] = run(lambda: near_dup_components(
    pairs, small_graph_max_edges=0), "loop_clean")
sc.setCheckpointDir(sys.argv[3])
out["loop_reliable"] = run(lambda: near_dup_components(
    pairs.mapInPandas(fail_first_attempt, schema=pairs.schema),
    small_graph_max_edges=0), "loop_reliable")
out["loop_reliable"]["cut_files"] = sum(
    len(fs) for _, _, fs in os.walk(sys.argv[3]))
driver_rows = [
    (f"bdoc_{i:08d}",
     [(s["kind"], s["text"], s["media_ref"], s["offset"])
      for s in extract_document(generate_bench_doc(i, SEED))])
    for i in range(N_DOCS)
]
out["driver"] = dict(zip(("digest", "rows"), frame_hash(
    spark.createDataFrame(driver_rows, OUTPUT_SCHEMA))))
spark.stop()
print("RESULT " + json.dumps(out))
'''


@pytest.fixture(scope="module")
def retry_out(tmp_path_factory):
    tmp_path = tmp_path_factory.mktemp("retry")
    job = tmp_path / "retry_job.py"
    job.write_text(JOB)
    proc = subprocess.run(
        [sys.executable, str(job), str(REPO), str(tmp_path / "corpus"),
         str(tmp_path / "rounds")],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_retried_extraction_hashes_like_a_clean_pass(retry_out):
    out = retry_out
    assert out["retried"]["failed_tasks"] >= 1  # the fault did fire
    assert out["later"]["failed_tasks"] == 0
    assert out["driver"]["rows"] == 300
    assert out["retried"]["rows"] == out["later"]["rows"] == 300
    assert out["retried"]["digest"] == out["driver"]["digest"]
    assert out["later"]["digest"] == out["driver"]["digest"]


def test_retried_components_loop_hashes_like_a_clean_loop(retry_out):
    out = retry_out
    assert out["loop_retried"]["failed_tasks"] >= 1  # the fault did fire
    assert out["loop_clean"]["failed_tasks"] == 0
    assert out["loop_retried"]["rows"] == out["loop_clean"]["rows"] == 30
    assert out["loop_retried"]["digest"] == out["loop_clean"]["digest"]


def test_retried_reliable_components_loop_hashes_like_a_clean_loop(retry_out):
    out = retry_out
    assert out["loop_reliable"]["failed_tasks"] >= 1  # the fault did fire
    assert out["loop_reliable"]["cut_files"] > 0  # its rounds are parquet
    assert out["loop_reliable"]["rows"] == out["loop_clean"]["rows"] == 30
    assert out["loop_reliable"]["digest"] == out["loop_clean"]["digest"]
