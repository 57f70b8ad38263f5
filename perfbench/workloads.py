"""The benchmark's workloads and the layer measurements of a traced run.

Every workload is a closed loop with one client: each operation starts
when the previous one has finished, in this one process, on
``local[<nproc>]``. Every operation's output is checked outside its
timed window; an operation that raises or fails its check counts as
failed. See README.md for why each workload was chosen.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
import traceback

from measure import (
    busy_seconds, cpu_times, driver_gap_seconds, median, op_metrics,
    rows_digest, sink_seconds, steal_share, tree_cpu_seconds, udf_seconds,
)
from sparkside import JobAccount, frame_digest

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "catalog_digests.json")

N_DOCS = 8000        # bench corpus size of the extraction workload
# bench_corpus writes one file per generation partition. Its default of
# 256 files costs ~17 s to generate on 4 cores for any corpus size; one
# file per 250 docs keeps generation in budget and gives the quarter
# corpus of the weak-scaling leg a quarter of the files.
DOCS_PER_FILE = 250
REPLAY_DOCS = 32     # docs per run replayed through refsem on the driver
REFSEM_DOCS = 400    # docs per run in the driver-side refsem timing
N_BUCKETS, GROUP_SIZE, CRASH_AFTER = 16, 8, 1   # two bucket groups, crash after one
WARMUP_PAIR_DOCS = 500   # corpus of the untimed crash-plus-resume pair
CATALOG_WARMUP_PASSES = 2   # untimed passes before an untraced catalog's loop
BENCH_DOCS_FOR_CONF = 120000   # bench.py's corpus size, which sizes its splits

# The catalog leaves the benchmark runs, in bench.py's order: the four
# TPC-H-style queries, the five composed chains (ROADMAP item 4) and every
# other leaf ROADMAP.md cites by name. bench.py times 49; all 49 take
# ~120 s in one fresh session on 4 cores, more than a traced run may
# spend, so the others are left out rather than run when time allows.
LEAVES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "q10_returned_items", "doc_token_counts", "doc_quality_scores",
    "exact_dedup_stats", "curation_keep_list", "gopher_word_stats",
    "c4_badwords", "c4_curation_keep_list", "url_blocklist",
    "web_curation_keep_list", "dsir_selection",
    "classifier_curation_keep_list", "ccnet_keep_list", "bpe_merges",
    "url_canonical_dedup", "host_link_stats", "corpus_expectations",
    "minhash_near_dups", "simhash_near_dups",
)
# The subset an untraced catalog run times; a traced run times all of
# LEAVES. gopher_word_stats reads through the rescue reader and tokenizes
# (ROADMAP items 2 and 3); curation_keep_list is a composed chain (item
# 4). Shorter leaves (q10_returned_items, doc_quality_scores) were tried
# and dropped: their medians moved 24-37 % between runs of the same code,
# against 15-27 % for these two.
CORE_LEAVES = ("gopher_word_stats", "curation_keep_list")
CHAIN_LEAVES = (
    "curation_keep_list", "c4_curation_keep_list", "web_curation_keep_list",
    "classifier_curation_keep_list", "ccnet_keep_list",
)

REFSEM_TIMINGS = (
    "extract_document_us_per_doc", "clean_extracted_text_us_per_span",
    "strip_boilerplate_us_per_span", "render_document_text_us_per_doc",
    "image_span_us_per_span",
)
# The end-to-end metrics are CPU time of the process tree: on a virtual
# machine whose host steals 1-24 % of the CPU from run to run, wall times
# of the same code spread 28 % over ten runs and CPU times 6-12 %, and
# the median wall set-up of two sets of ten runs differed by 26-30 %.
# The wall times stay as per-layer metrics and in every run's context.
E2E_OPS = ("suite_cpu_s", "query_geomean_cpu_s")

END_TO_END = {"setup_s": "s", "suite_cpu_s": "cpu-s",
              "query_geomean_cpu_s": "cpu-s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    **{f"refsem.{m}": "us" for m in REFSEM_TIMINGS},
    "refsem.spans_in": "count",
    "refsem.spans_out": "count",
    "extract.udf_s": "s",
    "extract.udf_ideal_s": "s",
    "extract.udf_overhead_ratio": "ratio",
    "extract.sink_s": "s",
    "extract.jobs": "count",
    "extract.tasks": "count",
    "extract.weak_scaling_eff_1to4": "ratio",
    "lineage.crash_leg_s": "s",
    "lineage.resume_s": "s",
    "lineage.jobs": "count",
    "lineage.jobs_per_group": "count",
    "lineage.overhead_ratio": "ratio",
    "lineage.buckets_processed": "count",
    "lineage.buckets_skipped": "count",
    **{f"plans.{leaf}.wall_s": "s" for leaf in LEAVES},
    "plans.build_s_total": "s",
    "plans.jobs_total": "count",
    "plans.stages_total": "count",
    "plans.tasks_total": "count",
    "plans.busy_s_total": "s",
    "plans.driver_gap_s_total": "s",
    "plans.shuffle_write_bytes_total": "bytes",
    "plans.spill_bytes_total": "bytes",
    **{f"plans.{leaf}.{m}": u for leaf in CHAIN_LEAVES
       for m, u in (("jobs", "count"), ("driver_gap_s", "s"))},
    "spark.failed_tasks": "count",
    "spark.jvm_gc_s": "s",
    "process.peak_rss_mb": "MB",
    "wall.docs_per_s": "docs/s",
    "wall.suite_s": "s",
    "wall.query_geomean_s": "s",
    **{f"trace.overhead.{m}": END_TO_END[m] for m in E2E_OPS},
}


class Run:
    """State of one benchmark run: the session, the closed-loop
    counters, the per-operation load record and the layer metrics."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool,
                 cores: int, work_dir: str, cache_dir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.acct = JobAccount(spark)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.loads: list[list] = []
        self.layers: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.overhead: dict[str, float] = {}
        self.info: dict = {}
        self.op_cpu: list[list] = []   # [name, wall s, tree CPU s, steal share]
        self.last_cpu_s = 0.0

    def timed(self, name: str, fn, group: str | None = None):
        """Call ``fn`` once; returns ``(seconds, result)`` and records the
        1-minute load before and after, and the CPU time of the process
        tree and the machine's CPU steal share over the call."""
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        load0 = os.getloadavg()[0]
        cpu0, ticks0 = tree_cpu_seconds(os.getpid()), cpu_times()
        t0 = time.perf_counter()
        try:
            result = fn()
        finally:
            sec = time.perf_counter() - t0
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.loads.append([name, round(load0, 2),
                               round(os.getloadavg()[0], 2)])
            self.last_cpu_s = tree_cpu_seconds(os.getpid()) - cpu0
            self.op_cpu.append([name, sec, self.last_cpu_s,
                                steal_share(ticks0, cpu_times())])
        return sec, result

    def operation(self, name: str, fn) -> bool:
        """One closed-loop operation; ``fn`` returns False when the
        output check fails. Exceptions count as failures."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            self.problems.append(name)
        return ok

    def loop(self, seconds: float, op, min_ops: int) -> None:
        """Closed loop: call ``op(i)`` until ``seconds`` have passed."""
        end = time.monotonic() + seconds
        i = 0
        while i < min_ops or time.monotonic() < end:
            op(i)
            i += 1

    def work(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def phases(self, op, min_ops: int) -> tuple[list, list]:
        """One checked but untimed warm-up operation, then the closed loop
        over ``seconds``. A traced run alternates untraced and traced
        operations, so their difference is the tracing overhead. Returns
        the wall times of each kind."""
        untraced, traced = [], []
        op(-1, [], None)

        def step(i):
            if self.trace and i % 2:
                op(i, traced, f"op{i}")
            else:
                op(i, untraced, None)

        self.loop(self.seconds, step, min_ops * (2 if self.trace else 1))
        return untraced, traced

    def corpus(self, n_docs: int = N_DOCS):
        """The seeded bench corpus, as a fresh DataFrame on every call."""
        return corpus(self.spark, self.cache_dir, self.seed, n_docs)

    def set_overhead(self, untraced: dict, traced: dict) -> None:
        a, b = op_metrics(untraced), op_metrics(traced)
        self.overhead = {m: b[m] - a[m] for m in E2E_OPS}


# --- shared inputs -----------------------------------------------------

def corpus(spark, cache_dir: str, seed: int, n_docs: int):
    """``sources.bench_corpus``, generated once into the benchmark's cache
    and re-read as a fresh DataFrame on every call."""
    from n8n_tools_api_spark.sources import bench_corpus

    return bench_corpus(spark, n_docs, seed,
                        partitions=max(1, n_docs // DOCS_PER_FILE),
                        cache_dir=cache_dir)


def corpus_path(cache_dir: str, n_docs: int, seed: int) -> str:
    # the cache layout of sources.bench_corpus
    return f"{cache_dir}/corpus_n{n_docs}_s{seed}.parquet"


def size_splits(spark, n_rows: int, cores: int) -> None:
    """bench.py's split sizing: about four task waves per core."""
    est_bytes = max(n_rows * 900, 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(est_bytes // (cores * 4), 1 << 20)))
    spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))


def prepare_corpus(run: Run, n_docs: int) -> None:
    """Generate (or reuse) the corpus and size the splits; untimed."""
    size_splits(run.spark, run.corpus(n_docs).count(), run.cores)


def replay_ids(seed: int, n_docs: int, k: int) -> list[int]:
    return sorted(random.Random(seed * 7919 + 11).sample(range(n_docs), k))


def replay_mismatches(rows, seed: int, ids) -> int:
    """Documents whose extracted spans differ from a driver-side
    ``refsem.extract_document`` replay of the same generated input."""
    from n8n_tools_api_spark.refsem import extract_document
    from n8n_tools_api_spark.sources import generate_bench_doc

    got = {r["doc_id"]: [tuple(s) for s in (r["spans"] or [])] for r in rows}
    bad = 0
    for idx in ids:
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in extract_document(generate_bench_doc(idx, seed))]
        if got.get(f"bdoc_{idx:08d}") != want:
            bad += 1
    return bad


def check_extracted(run: Run, df, n_docs: int,
                    expected: str | None) -> tuple[bool, str]:
    """Digest the output; on the first check also replay a seeded
    sample through refsem. Returns (ok, digest)."""
    from pyspark.sql import functions as F

    digest = frame_digest(df)
    if expected is not None:
        return digest == expected, digest
    ids = replay_ids(run.seed, n_docs, REPLAY_DOCS)
    rows = (df.where(F.col("doc_id").isin([f"bdoc_{i:08d}" for i in ids]))
            .collect())
    bad = replay_mismatches(rows, run.seed, ids)
    run.info["replayed_docs"] = len(ids)
    run.info["replay_mismatches"] = bad
    return bad == 0 and digest.startswith(f"{n_docs}:"), digest


# --- extract -----------------------------------------------------------

def extract_passes(run: Run, n_docs: int, min_ops: int):
    """``Run.phases`` over checked parquet extraction passes of the
    ``n_docs`` corpus. Returns the untraced and traced ``[wall s, CPU s]``
    samples, the output digest and the traced passes' job accounts."""
    from n8n_tools_api_spark.operators import extract_spans

    prepare_corpus(run, n_docs)
    out = run.work(f"extract_{n_docs}")
    state: dict = {"digest": None, "groups": []}

    def op(i, samples, group):
        def one():
            sec, _ = run.timed(
                "extract",
                lambda: extract_spans(run.corpus(n_docs))
                .write.mode("overwrite").parquet(out),
                group)
            ok, digest = check_extracted(run, run.spark.read.parquet(out),
                                         n_docs, state["digest"])
            state["digest"] = state["digest"] or digest
            samples.append([sec, run.last_cpu_s])
            if group:
                state["groups"].append(run.acct.group(group))
            return ok
        run.operation("extract", one)

    untraced, traced = run.phases(op, min_ops)
    return untraced, traced, state["digest"], state["groups"]


def extract(run: Run) -> None:
    # a traced run takes one untraced and one traced pass; the layer
    # measurements after them must fit in the same run budget
    untraced, traced, digest, groups = extract_passes(
        run, N_DOCS, min_ops=1 if run.trace else 3)
    run.info["digest"] = digest
    run.info["op_walls"] = {"untraced": untraced, "traced": traced}
    run.e2e = op_metrics({"extract": untraced})
    run.e2e["wall.docs_per_s"] = N_DOCS / run.e2e["wall.suite_s"]
    if run.trace:
        run.set_overhead({"extract": untraced}, {"extract": traced})
        parquet_s = median([wall for wall, _ in traced])
        extract_layers(run, parquet_s, groups)
        lineage_layers(run, digest, parquet_s)


def extract_layers(run: Run, parquet_s: float, groups: list) -> None:
    from n8n_tools_api_spark.operators import extract_spans

    scan_s = source_layers(run)
    noop_s = median([run.timed(
        "extract_noop",
        lambda: extract_spans(run.corpus())
        .write.format("noop").mode("overwrite").save())[0]
        for _ in range(2)])
    refsem = refsem_layers(run)
    udf = udf_seconds(noop_s, scan_s)
    ideal = refsem["refsem.extract_document_us_per_doc"] * N_DOCS / run.cores / 1e6
    run.layers.update(refsem)
    run.layers.update({
        "extract.udf_s": udf,
        "extract.udf_ideal_s": ideal,
        "extract.udf_overhead_ratio": udf / ideal,
        "extract.sink_s": sink_seconds(parquet_s, noop_s),
        "extract.jobs": median([g["jobs"] for g in groups]),
        "extract.tasks": median([g["tasks"] for g in groups]),
    })


def source_layers(run: Run) -> float:
    scan_s = median([run.timed(
        "scan",
        lambda: run.corpus().write.format("noop").mode("overwrite").save())[0]
        for _ in range(3)])
    path = corpus_path(run.cache_dir, N_DOCS, run.seed)
    run.layers["sources.scan_s"] = scan_s
    run.layers["sources.input_bytes"] = sum(
        os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))
    return scan_s


def refsem_layers(run: Run, reps: int = 3) -> dict:
    """Single-threaded driver timing of the refsem functions the
    extraction UDF calls, over a seeded sample of the same corpus."""
    from n8n_tools_api_spark import refsem
    from n8n_tools_api_spark.sources import generate_bench_doc

    rng = random.Random(run.seed * 104729 + 7)
    docs = [generate_bench_doc(i, run.seed)
            for i in rng.sample(range(N_DOCS), REFSEM_DOCS)]
    texts, htmls, page_lists, images = [], [], [], []
    for spans in docs:
        pages = []
        for s in sorted(spans, key=lambda s: s["offset"]):
            kind = s["kind"]
            if kind == "text":
                texts.append(s["text"])
            elif kind == "html":
                htmls.append(s["text"])
            elif kind == "pdf_page":
                pages.append({"index": len(pages), "markdown": s["text"]})
            elif kind == "image":
                images.append(s["text"])
        if pages:
            page_lists.append(pages)
    cleaned_inputs = texts + [refsem.strip_boilerplate(h) for h in htmls]

    def image_span(text):
        # the image branch of extract_document
        if refsem.validate_base64_image(text):
            return (refsem.classify_image_span(text),
                    refsem.media_ref_for(text, "media"))
        return refsem.classify_image_span("", annotation=text.strip())

    def us_per_item(fn, items) -> float:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            walls.append(time.perf_counter() - t0)
        return median(walls) / len(items) * 1e6

    return {
        "refsem.extract_document_us_per_doc":
            us_per_item(refsem.extract_document, docs),
        "refsem.clean_extracted_text_us_per_span":
            us_per_item(refsem.clean_extracted_text, cleaned_inputs),
        "refsem.strip_boilerplate_us_per_span":
            us_per_item(refsem.strip_boilerplate, htmls),
        "refsem.render_document_text_us_per_doc":
            us_per_item(refsem.render_document_text, page_lists),
        "refsem.image_span_us_per_span": us_per_item(image_span, images),
        "refsem.spans_in": sum(len(d) for d in docs),
        "refsem.spans_out": sum(len(refsem.extract_document(d)) for d in docs),
    }


# --- the resumable write path, in a traced extract run -------------------

def lineage_layers(run: Run, ref_digest: str, extract_s: float) -> None:
    """A crash-plus-resume pair through ``resumable_extract`` on the same
    corpus: the first call crashes after half of its bucket groups, the
    second resumes the run, and the ``read_extracted`` output must digest
    like the plain extraction's. The first pair in a session pays the
    write path's warm-up, so an untimed pair on a small corpus goes first;
    it is checked the same way, against its row count."""
    from n8n_tools_api_spark.operators.lineage import (
        read_extracted, resumable_extract,
    )

    crashed = list(range(CRASH_AFTER * GROUP_SIZE))
    resumed = list(range(CRASH_AFTER * GROUP_SIZE, N_BUCKETS))

    def pair(i, n_docs, group, digest_ok) -> dict:
        out = run.work("resume")
        run_id = f"perfbench-{run.seed}-{i}"
        result: dict = {}

        def call(**kw):
            return resumable_extract(run.spark, run.corpus(n_docs), out,
                                     run_id, n_buckets=N_BUCKETS,
                                     group_size=GROUP_SIZE, **kw)

        def crash_call():
            try:
                call(fail_after_groups=CRASH_AFTER)
            except RuntimeError as exc:
                return "simulated crash" in str(exc)
            return False

        def one():
            crash_s, crash_ok = run.timed("resume_crash", crash_call, group)
            resume_s, res = run.timed("resume_resume", call, group)
            result.update(crash_s=crash_s, resume_s=resume_s, res=res)
            digest = frame_digest(read_extracted(run.spark, out))
            return (crash_ok and res["skipped_buckets"] == crashed
                    and res["processed_buckets"] == resumed
                    and digest_ok(digest))
        run.operation("extract_resume", one)
        return result

    pair(0, WARMUP_PAIR_DOCS, None,
         lambda d: d.startswith(f"{WARMUP_PAIR_DOCS}:"))
    timed = pair(1, N_DOCS, "pair1", lambda d: d == ref_digest)
    if "res" not in timed:   # the pair raised; the run is already failed
        return
    jobs = run.acct.group("pair1")["jobs"]
    run.layers.update({
        "lineage.crash_leg_s": timed["crash_s"],
        "lineage.resume_s": timed["resume_s"],
        "lineage.jobs": jobs,
        "lineage.jobs_per_group": jobs / (N_BUCKETS // GROUP_SIZE),
        "lineage.overhead_ratio":
            (timed["crash_s"] + timed["resume_s"]) / extract_s,
        "lineage.buckets_processed": len(timed["res"]["processed_buckets"]),
        "lineage.buckets_skipped": len(timed["res"]["skipped_buckets"]),
    })


# --- catalog -----------------------------------------------------------

def catalog_session_conf(spark, cores: int) -> None:
    """The conf bench.py leaves in place when it times the leaves."""
    size_splits(spark, BENCH_DOCS_FOR_CONF, cores)


def catalog(run: Run) -> None:
    from n8n_tools_api_spark.plans import ORACLE_QUERIES, PIPELINE_QUERIES

    catalog_session_conf(run.spark, run.cores)
    with open(PINS) as f:
        pins = json.load(f)
    order = list(LEAVES)
    random.Random(run.seed).shuffle(order)
    core = [leaf for leaf in order if leaf in CORE_LEAVES]
    run.info["leaf_order"] = order if run.trace else list(core)
    untraced: dict[str, list] = {}
    traced: dict[str, list] = {}
    stats: dict[str, dict] = {}
    run.info["digests"] = {}
    run.info["leaf_walls"] = {"untraced": untraced, "traced": traced}

    def leaf_op(leaf, walls, group):
        fn = (ORACLE_QUERIES[leaf][0] if leaf in ORACLE_QUERIES
              else PIPELINE_QUERIES[leaf])

        def one():
            def build_and_collect():
                t0 = time.perf_counter()
                df = fn(run.spark, SF_DIR)
                build_s = time.perf_counter() - t0
                return build_s, df.columns, df.collect()
            sec, (build_s, cols, rows) = run.timed(leaf, build_and_collect,
                                                   group)
            walls.setdefault(leaf, []).append([sec, run.last_cpu_s])
            if group:
                stats[leaf] = dict(run.acct.group(group), wall_s=sec,
                                   build_s=build_s)
            digest = list(rows_digest(cols, rows))
            run.info["digests"][leaf] = digest
            return digest == pins.get(leaf)
        run.operation(leaf, one)

    if run.trace:
        # every leaf traced once; the core leaves also untraced, next to
        # the traced run and alternating which goes first, since a
        # leaf's first run in a session is its slowest
        n_core = 0
        for leaf in order:
            runs = [(traced, f"plans:{leaf}")]
            if leaf in CORE_LEAVES:
                runs.insert(n_core % 2, (untraced, None))
                n_core += 1
            for walls, group in runs:
                leaf_op(leaf, walls, group)
        run.e2e = op_metrics(untraced)
        run.set_overhead(untraced, {k: traced[k] for k in untraced})
        plan_layers(run, stats)
        return

    # Two checked but untimed passes first: a leaf's first runs in a fresh
    # JVM pay class loading and code generation that later runs skip (the
    # JIT still makes the second pass ~30 % slower than the fifth), and
    # the seeded order decides which leaf pays the most.
    for _ in range(CATALOG_WARMUP_PASSES):
        for leaf in core:
            leaf_op(leaf, {}, None)

    # Each timed pass reshuffles the order from the same seeded stream, so
    # a leaf's median is taken over several positions and does not hang
    # on which leaf happens to run before it.
    rng = random.Random(run.seed)

    def one_pass(i):
        rng.shuffle(core)
        for leaf in core:
            leaf_op(leaf, untraced, None)

    # four timed passes at least; the median leaves out the slowest
    run.loop(run.seconds, one_pass, min_ops=4)
    run.e2e = op_metrics(untraced)


def plan_layers(run: Run, stats: dict) -> None:
    """Per-leaf and total plan metrics over the traced leaves. Every leaf
    runs in every traced run, so the totals cover the same leaves each
    time; a leaf that raised is a failed run, and its figures are absent."""
    layers = run.layers
    for leaf, s in stats.items():
        layers[f"plans.{leaf}.wall_s"] = s["wall_s"]
        s["gap_s"] = driver_gap_seconds(s["wall_s"], s["intervals"])
        s["busy_s"] = busy_seconds(s["intervals"])
    done = list(stats.values())
    layers.update({
        "plans.build_s_total": sum(s["build_s"] for s in done),
        "plans.jobs_total": sum(s["jobs"] for s in done),
        "plans.stages_total": sum(s["stages"] for s in done),
        "plans.tasks_total": sum(s["tasks"] for s in done),
        "plans.busy_s_total": sum(s["busy_s"] for s in done),
        "plans.driver_gap_s_total": sum(s["gap_s"] for s in done),
        "plans.shuffle_write_bytes_total":
            sum(s["shuffle_write_bytes"] for s in done),
        "plans.spill_bytes_total": sum(s["spill_bytes"] for s in done),
    })
    for leaf in CHAIN_LEAVES:
        if leaf in stats:
            layers[f"plans.{leaf}.jobs"] = stats[leaf]["jobs"]
            layers[f"plans.{leaf}.driver_gap_s"] = stats[leaf]["gap_s"]


WORKLOADS = {
    "extract": extract,
    "catalog": catalog,
}
