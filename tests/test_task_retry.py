"""Determinism under task retry, extraction half: on ``local[2,2]`` every
task gets one retry. A test-only upstream ``mapInPandas`` fails the
first attempt of partition 0 inside the same stage as ``extract_spans``;
the retried pass must hash like a fault-free pass and like refsem run on
the driver, and later tasks on the reused workers must still extract
correctly (the worker wrapper's ``finally`` runs on the failed task).

It runs in a subprocess because the session master is fixed per JVM."""

import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]

JOB = r'''
import json
import sys

sys.path.insert(0, sys.argv[1])

from pyspark import TaskContext

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


def run(df, group):
    sc.setJobGroup(group, group)
    digest, rows = frame_hash(df)
    tracker = sc.statusTracker()
    failed = sum(tracker.getStageInfo(sid).numFailedTasks
                 for jid in tracker.getJobIdsForGroup(group)
                 for sid in tracker.getJobInfo(jid).stageIds)
    return {"digest": digest, "rows": rows, "failed_tasks": failed}


out = {
    "retried": run(extract_spans(
        corpus.mapInPandas(fail_first_attempt, schema=corpus.schema)),
        "retried"),
    "later": run(extract_spans(corpus), "later"),
}
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


def test_retried_extraction_hashes_like_a_clean_pass(tmp_path):
    job = tmp_path / "retry_job.py"
    job.write_text(JOB)
    proc = subprocess.run(
        [sys.executable, str(job), str(REPO), str(tmp_path / "corpus")],
        cwd=REPO, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])

    assert out["retried"]["failed_tasks"] >= 1  # the fault did fire
    assert out["later"]["failed_tasks"] == 0
    assert out["driver"]["rows"] == 300
    assert out["retried"]["rows"] == out["later"]["rows"] == 300
    assert out["retried"]["digest"] == out["driver"]["digest"]
    assert out["later"]["digest"] == out["driver"]["digest"]
