"""Tests of the benchmark's own helpers, on tiny inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

import pytest

import run as bench_run
import workloads
from measure import (
    RssSampler, busy_seconds, cpu_times, driver_gap_seconds, e2e_metrics,
    geomean, op_metrics, process_tree, rows_digest, sink_seconds,
    steal_share, tree_cpu_seconds, tree_rss_bytes, udf_seconds,
)

HERE = os.path.dirname(os.path.abspath(__file__))


# --- digests -------------------------------------------------------------

ROWS = [(1, "a", None), (2, "b", [1, 2]), (3, "", [])]


def test_rows_digest_ignores_row_and_column_order():
    shuffled = ROWS[::-1]
    permuted = [(r[2], r[0], r[1]) for r in ROWS]
    base = rows_digest(["id", "s", "arr"], ROWS)
    assert rows_digest(["id", "s", "arr"], shuffled) == base
    assert rows_digest(["arr", "id", "s"], permuted) == base
    assert base[1] == 3


def test_rows_digest_nulls_and_empty_arrays():
    # frame_hash's normalization: NULL reads as "", an empty array does not
    null = rows_digest(["x"], [(None,)])
    assert rows_digest(["x"], [("",)]) == null
    assert rows_digest(["x"], [([],)]) != null
    assert rows_digest(["x"], [([],)]) != rows_digest(["x"], [([1],)])
    assert rows_digest(["x"], [])[1] == 0


def test_rows_digest_matches_result_hashes_frame_hash():
    path = os.path.join(os.path.dirname(HERE), "scripts", "result_hashes.py")
    if not os.path.exists(path):
        pytest.skip("scripts/result_hashes.py is not in this checkout")
    import importlib.util

    spec = importlib.util.spec_from_file_location("result_hashes", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    class Frame:
        columns = ["id", "s", "arr"]

        def collect(self):
            return [dict(zip(self.columns, r)) for r in ROWS]

    assert mod.frame_hash(Frame()) == rows_digest(Frame.columns, ROWS)


# --- statistics and layer arithmetic ------------------------------------

def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    assert geomean([1e-3, 1e3, 1.0]) == pytest.approx(1.0)
    for bad in ([], [1.0, 0.0], [-1.0]):
        with pytest.raises(ValueError):
            geomean(bad)


def test_e2e_metrics():
    m = e2e_metrics({"a": [1.0, 3.0, 2.0], "b": [4.0]})
    assert m["suite_s"] == pytest.approx(6.0)
    assert m["query_geomean_s"] == pytest.approx(math.sqrt(8.0))


def test_op_metrics_cpu_and_wall():
    samples = {"a": [[1.0, 10.0], [3.0, 30.0], [2.0, 20.0]], "b": [[4.0, 40.0]]}
    m = op_metrics(samples)
    assert m["suite_cpu_s"] == pytest.approx(60.0)
    assert m["query_geomean_cpu_s"] == pytest.approx(math.sqrt(800.0))
    assert m["wall.suite_s"] == pytest.approx(6.0)
    assert m["wall.query_geomean_s"] == pytest.approx(math.sqrt(8.0))


def test_layer_subtractions():
    assert udf_seconds(noop_extract_s=3.5, scan_s=0.5) == pytest.approx(3.0)
    assert sink_seconds(parquet_s=4.0, noop_s=3.5) == pytest.approx(0.5)
    # overlapping and nested jobs count once; the gaps between them stay
    intervals = [(10.0, 11.0), (10.5, 12.0), (10.6, 10.7), (13.0, 13.5)]
    assert busy_seconds(intervals) == pytest.approx(2.5)
    assert busy_seconds([]) == 0.0
    assert driver_gap_seconds(4.0, intervals) == pytest.approx(1.5)


# --- /proc process-tree RSS ---------------------------------------------

def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, resident pages)."""
    for pid, (ppid, comm, pages) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "statm").write_text(f"1000 {pages} 10 1 0 50 0\n")
    (root / "self").mkdir()  # non-numeric entries are ignored


def test_process_tree_and_rss_on_fake_proc(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, "python3", 100),
        11: (10, "java", 1000),
        12: (11, "python3 -m pyspark.daemon", 50),  # spaces in comm
        13: (12, "odd) name", 7),                   # ')' in comm
        20: (1, "unrelated", 99999),
    })
    assert sorted(process_tree(10, str(tmp_path))) == [10, 11, 12, 13]
    page = os.sysconf("SC_PAGE_SIZE")
    assert tree_rss_bytes(10, str(tmp_path)) == (100 + 1000 + 50 + 7) * page
    assert tree_rss_bytes(12, str(tmp_path)) == (50 + 7) * page


def test_tree_cpu_seconds_on_fake_proc(tmp_path):
    # utime stime cutime cstime are fields 14-17 of /proc/<pid>/stat
    for pid, ppid, ticks in ((10, 1, (5, 1, 2, 2)), (11, 10, (30, 10, 0, 0)),
                             (20, 1, (999, 0, 0, 0))):
        d = tmp_path / str(pid)
        d.mkdir()
        pre = " ".join(["0"] * 9)   # pgrp .. cmajflt
        (d / "stat").write_text(
            f"{pid} (x y) S {ppid} {pre} {' '.join(map(str, ticks))} 0 0\n")
    hz = os.sysconf("SC_CLK_TCK")
    assert tree_cpu_seconds(10, str(tmp_path)) == pytest.approx(50 / hz)


def test_steal_share(tmp_path):
    (tmp_path / "stat").write_text(
        "cpu  100 0 20 800 10 0 5 15 40 0\ncpu0 1 2 3\n")
    before = cpu_times(str(tmp_path))
    assert before == [100, 0, 20, 800, 10, 0, 5, 15, 40, 0]
    after = [200, 0, 40, 1500, 10, 0, 10, 65, 90, 0]
    # 50 stolen ticks of 875; guest ticks (already in user) do not count
    assert steal_share(before, after) == pytest.approx(50 / 875)
    assert steal_share(before, before) == 0.0


def test_rss_sampler_sees_a_live_child():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; b = bytearray(64 << 20); "
                              "time.sleep(5)"])
    try:
        time.sleep(1.0)
        assert child.pid in process_tree(os.getpid())
        sampler = RssSampler(interval_s=0.05).start()
        time.sleep(0.3)
        peak = sampler.stop()
    finally:
        child.kill()
        child.wait(timeout=10)
    assert peak >= 64 << 20


# --- the benchmark definition ---------------------------------------------

def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        workloads.PER_LAYER
    assert set(workloads.CORE_LEAVES) <= set(workloads.LEAVES)
    assert set(workloads.CHAIN_LEAVES) <= set(workloads.LEAVES)


def test_every_leaf_has_a_pinned_digest():
    with open(workloads.PINS) as f:
        pins = json.load(f)
    assert set(pins) == set(workloads.LEAVES)


# --- Spark-side helpers, on a small local session --------------------------

@pytest.fixture(scope="module")
def spark():
    from sparkside import start_session, stop_session

    bench_run.prepare_env()
    session, _ = start_session("local[2]", 2)
    yield session
    stop_session(session)


def test_frame_digest_order_independent_and_null_aware(spark):
    from sparkside import frame_digest

    schema = "doc_id string, spans array<struct<kind:string,text:string>>"
    rows = [("d1", [("text", "a")]), ("d2", []), ("d3", None),
            ("d4", [("text", None)]), ("d5", [("text", "")])]
    base = frame_digest(spark.createDataFrame(rows, schema))
    shuffled = spark.createDataFrame(rows[::-1], schema).repartition(3)
    assert frame_digest(shuffled) == base
    assert base.startswith("5:")
    # an empty span array, a NULL array, a NULL text and "" all differ
    for i, other in ((1, None), (2, []), (3, [("text", "")]),
                     (4, [("text", None)])):
        changed = list(rows)
        changed[i] = (rows[i][0], other)
        assert frame_digest(spark.createDataFrame(changed, schema)) != base


def test_replay_matches_spark_extraction_on_a_few_hundred_docs(spark):
    from n8n_tools_api_spark.operators import extract_spans
    from n8n_tools_api_spark.sources import (
        INTERLEAVED_SCHEMA, generate_bench_doc,
    )

    seed, n = 5, 300
    docs = [(f"bdoc_{i:08d}",
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in generate_bench_doc(i, seed)]) for i in range(n)]
    out = extract_spans(spark.createDataFrame(docs, INTERLEAVED_SCHEMA))
    rows = out.collect()
    ids = workloads.replay_ids(seed, n, 40)
    assert workloads.replay_mismatches(rows, seed, ids) == 0
    tampered = [r if r["doc_id"] != f"bdoc_{ids[0]:08d}"
                else {"doc_id": r["doc_id"], "spans": r["spans"][:-1]}
                for r in rows]
    assert workloads.replay_mismatches(tampered, seed, ids) == 1


def test_pinned_digests_reproduce(spark):
    from n8n_tools_api_spark.plans import ORACLE_QUERIES

    with open(workloads.PINS) as f:
        pins = json.load(f)
    workloads.catalog_session_conf(spark, 2)
    for leaf in ("q1_pricing_summary", "q3_shipping_priority"):
        df = ORACLE_QUERIES[leaf][0](spark, workloads.SF_DIR)
        assert list(rows_digest(df.columns, df.collect())) == pins[leaf]


def test_job_account_counts_a_group(spark):
    from sparkside import JobAccount

    acct = JobAccount(spark)
    sc = spark.sparkContext
    sc.setJobGroup("test-group", "two jobs")
    df = spark.range(0, 1000, numPartitions=4)
    df.count()
    df.groupBy((df.id % 7).alias("k")).count().collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    g = acct.group("test-group")
    assert g["jobs"] >= 2
    assert g["stages"] >= 2 and g["tasks"] >= 4
    assert g["shuffle_write_bytes"] > 0
    assert 0 < busy_seconds(g["intervals"]) < 60
    gc_s, failed = acct.executor_totals()
    assert gc_s >= 0 and failed == 0


def test_replay_ids_are_seeded():
    assert workloads.replay_ids(1, 100, 5) == workloads.replay_ids(1, 100, 5)
    assert workloads.replay_ids(1, 100, 5) != workloads.replay_ids(2, 100, 5)
