"""Process-isolated N -> 4N scaling spot-check for the round-5
training-pipeline operators (exact_substr_dedup / benchmark_decontam /
token_pack / lm_ppx), complementing the suite-1..3 evidence in
BENCH/BASELINE.md with measurements for the newest heavy operator.

Same methodology as scripts/lc_curation_bench.py: the identical job
runs under `local-cluster[N, C, M]` (multi-JVM — each executor its own
process, heap, GC, Python workers) at two parallelism levels on the
same input; output rollups must be identical across levels.

Usage:
    python scripts/lc_op_bench.py OP N_EXECUTORS [CORES_EACH] [MB_EACH]
    # the N -> 4N pair:
    python scripts/lc_op_bench.py exact_substr 1
    python scripts/lc_op_bench.py exact_substr 4

The corpus is generated once (seeded, no wall clock): sf0.1 documents
replicated REPLICAS times with remapped doc_ids. Replication plants
cross-replica exact window duplicates, so exact_substr carries a real
dedup load (every window duplicated across replicas).
"""
import json
import os
import sys
import time

from _repo import REPO  # first: the package on every import path

from pyspark.sql import SparkSession, functions as F

OP = sys.argv[1] if len(sys.argv) > 1 else "exact_substr"
n_exec = int(sys.argv[2]) if len(sys.argv) > 2 else 1
cores = int(sys.argv[3]) if len(sys.argv) > 3 else 2
mb_each = int(sys.argv[4]) if len(sys.argv) > 4 else 10240
total = n_exec * cores
# Shuffle-partition count defaults to the core count (production sizing),
# but can be pinned across levels to hold per-task state constant when a
# pair needs partitioning isolated from parallelism (the lm_ppx 8M pair:
# partitions-scaled N ran 4x-larger per-task aggregation hash maps).
SHUFFLE_PARTS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", str(total)))
REPLICAS = int(os.environ.get("SPARK_GRAFT_OP_REPLICAS", "20"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
corpus_path = f"/tmp/spark_graft_bench/op_corpus_r{REPLICAS}.parquet"

spark = (SparkSession.builder
         .master(f"local-cluster[{n_exec},{cores},{mb_each}]")
         .appName(f"lc-{OP}-{n_exec}x{cores}")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTS))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.executorEnv.PYTHONPATH", REPO)
         .config("spark.driver.memory", "8g")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

if not os.path.exists(corpus_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    reps = spark.range(REPLICAS).select(
        F.col("id").cast("string").alias("r"))
    docs.crossJoin(F.broadcast(reps)).select(
        F.concat(F.lit("r"), "r", F.lit("_"), "doc_id").alias("doc_id"),
        "text",
    ).repartition(32).write.mode("overwrite").parquet(corpus_path)

total_bytes = sum(os.path.getsize(os.path.join(corpus_path, f))
                  for f in os.listdir(corpus_path) if f.endswith(".parquet"))
spark.conf.set("spark.sql.files.maxPartitionBytes",
               str(max(total_bytes // (total * 4), 1 << 20)))
spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))

corpus = spark.read.parquet(corpus_path)
n = corpus.count()
load0 = os.getloadavg()[0]
t0 = time.perf_counter()

if OP == "exact_substr":
    from n8n_tools_api_spark.operators.dedup import exact_substr_dedup

    out = exact_substr_dedup(corpus, window=50)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_removed").cast("bigint").alias("tokens_removed"),
        F.sum(F.when(F.col("n_dup_windows") > 0, 1).otherwise(0))
        .cast("bigint").alias("docs_touched"),
    ).collect()[0].asDict()
elif OP == "decontam":
    from n8n_tools_api_spark.functions.text import words
    from n8n_tools_api_spark.operators.decontaminate import (
        ngram_decontaminate,
    )

    bench = (corpus.where(F.col("doc_id").startswith("r0_"))
             .select(words(F.col("text"), lower=True).alias("w"))
             .where(F.size("w") >= 25)
             .select(F.array_join(F.slice("w", 5, 21), " ").alias("text")))
    out = ngram_decontaminate(corpus, bench, n=13, broadcast_hits=False)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("contaminated").cast("int")).cast("bigint")
        .alias("contaminated"),
    ).collect()[0].asDict()
elif OP == "token_pack":
    from n8n_tools_api_spark.operators.packing import token_pack

    out = token_pack(corpus, 2048)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.max(F.col("start_offset") + F.col("n_tokens") + 1)
        .alias("stream_len"),
        F.max("last_block").alias("max_block"),
    ).collect()[0].asDict()
elif OP == "token_pack_shard":
    # the 100-TB layout mode: per-shard streams, fully parallel
    # windows (256 shards from the replica prefix of the doc_id)
    from n8n_tools_api_spark.operators.packing import token_pack

    sharded = corpus.withColumn(
        "shard",
        F.pmod(F.xxhash64(F.split(F.col("doc_id"), "_").getItem(0)),
               F.lit(256)))
    out = token_pack(sharded, 2048, shard_col="shard")
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("n_tokens") + 1).cast("bigint").alias("total_stream"),
        F.countDistinct("shard").alias("shards"),
        F.max("last_block").alias("max_block"),
    ).collect()[0].asDict()
elif OP == "lm_ppx":
    # CCNet-style LM scoring. The reference slice is FIXED (the r0_
    # replica, ~5k docs) while the scored corpus grows with REPLICAS —
    # the operator's documented contract (a fixed curated reference
    # corpus, like CCNet's Wikipedia), which keeps the per-group count
    # tables broadcastable at ANY corpus scale. 16 pseudo-languages
    # hashed from the doc_id exercise the per-group LM fan-out.
    from n8n_tools_api_spark.operators.lm_ppx import lm_perplexity

    grouped = corpus.withColumn(
        "lang",
        F.substring(F.md5(F.concat(F.lit("ppxlang:"), "doc_id")), 1, 1))
    out = lm_perplexity(grouped, F.col("doc_id").startswith("r0_"))
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_bigrams").cast("bigint").alias("bigrams"),
        F.sum("surprisal_q16").cast("bigint").alias("surprisal_total"),
        F.sum("ppx_q16").cast("bigint").alias("ppx_sum"),
    ).collect()[0].asDict()
elif OP == "line_dedup":
    # sf texts are single-line; break sentences into lines so the
    # operator carries a real line-granularity load (every line then
    # recurs in all REPLICAS docs — worst-case removal volume)
    from n8n_tools_api_spark.operators.dedup import line_dedup

    lined = corpus.withColumn(
        "text",
        F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"))
    out = line_dedup(lined)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_lines").cast("bigint").alias("lines"),
        F.sum("n_removed").cast("bigint").alias("lines_removed"),
    ).collect()[0].asDict()
elif OP == "url_dedup":
    # constant-size canonical families (the realistic shape — real URL
    # dup groups are a handful of recrawls/spellings, not O(corpus)):
    # docs group by (base doc, replica div 5), each family carrying the
    # SAME underlying URL under 5 spellings (case / www / port /
    # tracking-param / trailing-slash), so the canonical key space
    # GROWS with the corpus — the high-cardinality regime the operator
    # documents — while every group still exercises the collapse
    from n8n_tools_api_spark.operators.curation import url_dedup

    rep = F.regexp_extract(F.col("doc_id"), r"^r(\d+)_", 1).cast("int")
    base = F.concat(F.split(F.col("doc_id"), "_").getItem(1),
                    F.lit("f"), F.expr("cast(regexp_extract(doc_id, "
                                       "'^r(\\\\d+)_', 1) as int) div 5"))
    rmod = rep % 5
    url = (
        F.when(rmod == 0, F.concat(
            F.lit("https://Host"), base, F.lit(".Example.COM:443/p"), base,
            F.lit("/?utm_s=x&b=2&a=1#f")))
        .when(rmod == 1, F.concat(
            F.lit("https://www.host"), base, F.lit(".example.com/p"), base,
            F.lit("?a=1&b=2")))
        .when(rmod == 2, F.concat(
            F.lit("https://host"), base, F.lit(".example.com/p"), base,
            F.lit("?b=2&a=1#section-"), base))
        .when(rmod == 3, F.concat(
            F.lit("HTTPS://HOST"), base, F.lit(".EXAMPLE.COM/p"), base,
            F.lit("/?a=1&b=2&gclid=z")))
        .otherwise(F.concat(
            F.lit("https://u@host"), base, F.lit(".example.com/p"), base,
            F.lit("?b=2&a=1&")))
    )
    out = url_dedup(corpus.select("doc_id", url.alias("url")))
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum(F.when(F.col("status") == "kept", 1).otherwise(0))
        .cast("bigint").alias("kept"),
        F.sum("group_size").cast("bigint").alias("group_size_total"),
    ).collect()[0].asDict()
elif OP == "line_strip":
    # zero-shuffle scan op: 8-word lines + a planted 3x page header so
    # every doc carries real within-doc removals
    from n8n_tools_api_spark.operators.dedup import strip_repeated_lines

    hdr = F.concat(F.lit("HDR "), F.split(F.col("doc_id"), "_").getItem(1))
    lined = corpus.select(
        "doc_id",
        F.concat(
            hdr, F.lit("\n"),
            F.regexp_replace("text", r"((?:\S+ ){7}\S+) ", "$1\n"),
            F.lit("\n"), hdr, F.lit("\ntrailer\n"), hdr).alias("text"))
    out = strip_repeated_lines(lined)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_lines").cast("bigint").alias("lines"),
        F.sum("n_removed").cast("bigint").alias("lines_removed"),
    ).collect()[0].asDict()
elif OP == "linkgraph":
    # millions of pages collapse onto a 65,536-host graph with 3
    # outlinks per host (the distinct-edge collapse IS the load), then
    # 2 all-integer PageRank rounds over (host, int64) rows
    from n8n_tools_api_spark.operators.linkgraph import host_link_stats

    hid = (F.conv(F.substring(F.md5(F.concat(F.lit("lg:"), "doc_id")),
                              1, 8), 16, 10).cast("bigint") % 65536)
    h = hid.cast("string")
    d1 = ((hid + 1) % 65536).cast("string")
    d2 = ((hid * 31 + 7) % 65536).cast("string")
    d3 = ((hid * 131 + 3) % 65536).cast("string")
    pages = corpus.select(
        "doc_id",
        F.concat(F.lit("https://h"), h, F.lit(".example.org/"), "doc_id")
        .alias("url"),
        F.concat(
            F.lit('<a href="https://h'), d1, F.lit('.example.org/x">1</a>'),
            F.lit('<a href="https://h'), d2, F.lit('.example.org/y">2</a>'),
            F.lit('<a href="https://h'), d3, F.lit('.example.org/z">3</a>'),
            F.lit('<a href="/rel">r</a>')).alias("html"))
    out = host_link_stats(pages, iterations=2)
    rollup = out.agg(
        F.count("*").alias("hosts"),
        F.sum("pr").cast("bigint").alias("pr_total"),
        F.max("in_deg").cast("bigint").alias("max_in_deg"),
        F.sum("out_deg").cast("bigint").alias("edges"),
    ).collect()[0].asDict()
elif OP == "bpe":
    # the corpus-scale stage is the word-frequency shuffle; the 8
    # learning rounds iterate over the (fixed-size) vocab table
    from n8n_tools_api_spark.operators.bpe import bpe_learn

    merges = bpe_learn(corpus, 8).collect()
    rollup = {"merges": len(merges),
              "last_merged": merges[-1]["merged"] if merges else None,
              "pair_count_total": int(sum(m["pair_count"] for m in merges))}
elif OP == "qclf":
    # trained-classifier scoring at corpus scale: the training slices
    # are FIXED (the r0_ replica split by base-id parity, with planted
    # class markers) while the scored corpus grows with REPLICAS — the
    # operator's documented contract (training counts are bounded by
    # the fixed labeled set, so the ≤4096-row weight table broadcasts
    # at ANY corpus scale); the measured load is the scoring path:
    # gram explode → broadcast weight join → one doc-keyed BIGINT sum
    from n8n_tools_api_spark.operators.qualityclf import (
        quality_classifier_scores)

    base_id = F.split(F.col("doc_id"), "_").getItem(1).cast("bigint")
    r0 = corpus.where(F.col("doc_id").startswith("r0_"))
    pos = r0.where(base_id % 2 == 0).select(
        F.concat(F.col("text"),
                 F.lit(" curated encyclopedia citation verified"))
        .alias("text"))
    neg = r0.where(base_id % 2 == 1).select(
        F.concat(F.col("text"),
                 F.lit(" clickbait spamword lottery jackpot"))
        .alias("text"))
    out = quality_classifier_scores(corpus, pos, neg)
    rollup = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_grams").cast("bigint").alias("grams"),
        F.sum("score_q16").cast("bigint").alias("score_total"),
        F.sum(F.col("decision").cast("int")).cast("bigint").alias("kept"),
    ).collect()[0].asDict()
else:
    raise SystemExit(f"unknown op {OP}")

sec = time.perf_counter() - t0
print("LCLINE " + json.dumps({
    "op": OP, "executors": n_exec, "cores_each": cores,
    "total_cores": total, "docs": n, "seconds": round(sec, 2),
    "docs_per_sec": round(n / sec, 1), "rollup": rollup,
    "load_1min": [round(load0, 1), round(os.getloadavg()[0], 1)]}))
spark.stop()
