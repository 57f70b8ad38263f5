#!/usr/bin/env python
"""Skew-handling evidence: adversarial upstream layout vs salted layout.

At ingest, media-heavy documents cluster — same crawl source, same
landing batch — so a partition-by-source layout puts most of the
expensive docs in a few tasks and the stage runs at the speed of its
tail. `salted_repartition` breaks those clusters by adding an
image-count-bucket salt to the partition key.

This script builds a corpus where ALL heavy docs share one source key,
then times extraction under (a) the adversarial source layout and
(b) the salted layout — interleaved pairs, alternating which layout
runs first, each side best of three — and regenerates BENCH/SKEW.md.

    python scripts/skew_report.py   # from any directory; local[<all cores>],
                                    # ~30 min on 4 cores
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time

from _repo import REPO  # first: the package on every import path

from pyspark.sql import functions as F

from n8n_tools_api_spark.operators import extract_spans, salted_repartition
from n8n_tools_api_spark.session import get_spark
from n8n_tools_api_spark.sources import bench_corpus

WORK = os.path.join(tempfile.gettempdir(), "spark_graft_bench")
N_DOCS = 60_000
PARTS = 32
REPEATS = 3
PAIRS = 5


def main() -> None:
    cpus = os.cpu_count()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=PARTS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 << 20))

    corpus = bench_corpus(spark, N_DOCS)
    # make heavy docs carry production-scale payloads: the corpus's
    # canonical 1x1 test images are ~70 bytes, far cheaper than real
    # crawl media — inflate heavy docs' image spans to ~24KB each
    # (deterministic payload) so the decode+hash cost ratio is honest
    import base64 as b64mod

    import pandas as pd

    def inflate(batches):
        for pdf in batches:
            out = []
            for spans in pdf["spans"]:
                spans = list(spans)
                n_img = sum(1 for s in spans if s["kind"] == "image")
                if n_img >= 20:
                    spans = [
                        (s["kind"],
                         ("iVBORw0KGgo" + b64mod.b64encode(
                             ((s["text"] or "x")[:24]).encode() * 256).decode())
                         if s["kind"] == "image" else s["text"],
                         s["media_ref"], s["offset"])
                        for s in spans
                    ]
                else:
                    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                             for s in spans]
                out.append(spans)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": out})

    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    inflated_path = f"{WORK}/skew_corpus"
    if not os.path.exists(f"{inflated_path}/_SUCCESS"):
        corpus.mapInPandas(inflate, schema=schema).write.mode("overwrite") \
            .parquet(inflated_path)
    corpus = spark.read.parquet(inflated_path)

    # adversarial upstream layout: every media-heavy doc carries the
    # same source key (one crawl source), light docs spread over many
    img_count = F.size(F.filter("spans", lambda s: s["kind"] == F.lit("image")))
    tagged = corpus.withColumn(
        "source",
        F.when(img_count >= 20, F.lit("heavy-src"))
        .otherwise(F.concat(F.lit("src-"), F.pmod(F.xxhash64("doc_id"), F.lit(200)).cast("string"))),
    )

    def timed(df) -> float:
        best = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            extract_spans(df.select("doc_id", "spans")).write.mode("overwrite") \
                .parquet(f"{WORK}/skew_out")
            sec = time.perf_counter() - t0
            best = sec if best is None else min(best, sec)
        return best

    clustered = tagged.repartition(PARTS, "source")
    # same coarse key kept in the partitioning — salt breaks the cluster
    salted = salted_repartition(tagged, PARTS, partition_cols=("source",))
    clu, sal = [], []
    for i in range(PAIRS):
        order = [("clustered", clustered), ("salted", salted)]
        if i % 2:
            order.reverse()
        t = {name: timed(df) for name, df in order}
        clu.append(t["clustered"])
        sal.append(t["salted"])
        print(f"pair {i + 1}: clustered={clu[-1]:.2f}s salted={sal[-1]:.2f}s",
              flush=True)
    spark.stop()

    q1, _, q3 = statistics.quantiles(clu, n=4)
    med_c, med_s = statistics.median(clu), statistics.median(sal)
    wins = sum(c - s > q3 - q1 for c, s in zip(clu, sal))
    rows = "\n".join(
        f"| {i + 1} | {'clustered' if i % 2 == 0 else 'salted'} "
        f"| {c:.2f} | {s:.2f} | {c / s:.2f}x |"
        for i, (c, s) in enumerate(zip(clu, sal)))
    with open(f"{REPO}/BENCH/SKEW.md", "w") as f:
        f.write(f"""# Skew handling A/B (generated by scripts/skew_report.py)

Corpus: {N_DOCS} docs, 5% media-heavy (30-50 image spans inflated to
~8KB base64 payloads — production-shaped decode+hash cost, roughly an
order of magnitude over a text doc), ALL heavy docs sharing one
upstream source key. Extraction to parquet over {PARTS} partitions,
local[{cpus}], {PAIRS} interleaved pairs (the side named first ran
first), each side best of {REPEATS}.

| pair | first | clustered by source (s) | `salted_repartition` (s) | speedup |
|---|---|---|---|---|
{rows}

Median clustered {med_c:.2f} s (IQR {q1:.2f}–{q3:.2f}), median salted
{med_s:.2f} s: **{med_c / med_s:.2f}x**. Salted beat clustered by more
than the clustered IQR in {wins} of {PAIRS} pairs. The clustered layout
runs at the speed of the tail task holding the heavy source; salting
spreads the heavy docs across up to {PARTS} tasks. At 10^12 docs the
same mechanism applies to ingest-batch and host-prefix clustering.
""")
    print(f"clustered={med_c:.2f}s salted={med_s:.2f}s "
          f"speedup={med_c / med_s:.2f}x wins={wins}/{PAIRS}")


if __name__ == "__main__":
    main()
