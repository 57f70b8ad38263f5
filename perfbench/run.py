#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. The last
line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run context (versions, cores, loads, digests). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
MB = 1 << 20
# the weak-scaling legs: a quarter of this corpus on local[1] against all
# of it on local[4], each in a fresh process
SCALING_DOCS = 2000


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and put the package on the Python workers' path."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JDK_JAVA_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JDK_JAVA_OPTIONS"), java_opts) if p)
    sys.path.insert(0, ROOT)


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def probe_extract(seed: int, cores: int, n_docs: int) -> dict:
    """The extraction workload's passes over ``n_docs`` on
    ``local[cores]`` in a fresh process: a weak-scaling leg of a traced
    run. Returns the median pass wall time and the pass counts."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "extract",
           "--seed", str(seed), "--seconds", "0",
           "--probe-extract", str(cores), str(n_docs)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=150, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_probe_extract(args) -> int:
    from measure import median
    from sparkside import start_session, stop_session
    from workloads import Run, extract_passes

    cores, n_docs = args.probe_extract
    spark, _ = start_session(f"local[{cores}]", cores)
    try:
        run = Run(spark, args.seed, args.seconds, False, cores,
                  os.path.join(STATE, "work", f"probe_{cores}"),
                  os.path.join(STATE, "cache"))
        samples, _, _, _ = extract_passes(run, n_docs, min_ops=3)
    finally:
        stop_session(spark)
    print(json.dumps({"extract_s": median([wall for wall, _ in samples]),
                      "attempted": run.attempted, "failed": run.failed}))
    return 0


def weak_scaling(run, seed: int) -> float:
    """N -> 4N weak-scaling efficiency: the median pass of a quarter of
    the corpus on one core over that of the whole corpus on four, both
    timed by the same probe. Each leg is one checked operation."""
    legs = {}
    for cores in (1, 4):
        def leg(cores=cores):
            res = probe_extract(seed, cores, SCALING_DOCS * cores // 4)
            legs[cores] = res["extract_s"]
            return res["failed"] == 0 and res["attempted"] > 0
        run.operation(f"scaling_local{cores}", leg)
    return legs[1] / legs[4] if len(legs) == 2 else 0.0


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe-extract", nargs=2, type=int,
                    metavar=("CORES", "DOCS"), help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "n8n_tools_api_spark")):
        print(f"error: the engine package is not in {ROOT}; run the "
              "benchmark from a checkout of the repository", file=sys.stderr)
        return 2
    args = parse_args(argv)
    prepare_env()
    if args.probe_extract:
        return run_probe_extract(args)

    from measure import RssSampler, cpu_times, steal_share, tree_cpu_seconds
    from sparkside import start_session, stop_session, versions
    from workloads import END_TO_END, PER_LAYER, WORKLOADS, Run

    cpu0 = cpu_times()
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    spark, get_spark_s = start_session(master, cores)
    # set-up is the CPU time of the process tree from process start on,
    # since wall set-up moves with the host's CPU steal; the wall figure
    # goes to the context
    setup_s = tree_cpu_seconds(os.getpid())
    setup_wall_s = seconds_since_process_start()
    sampler = RssSampler().start()
    spark_versions = versions(spark)
    run = Run(spark, args.seed, args.seconds, bool(args.trace), cores,
              os.path.join(STATE, "work"), os.path.join(STATE, "cache"))
    try:
        gc0, failed0 = run.acct.executor_totals()
        WORKLOADS[args.workload](run)
        gc1, failed1 = run.acct.executor_totals()
    finally:
        stop_session(spark)
        peak = sampler.stop()

    if args.trace:
        values = {name: 0 for name in PER_LAYER}  # layers this workload skips
        values.update(run.layers)
        values["session.get_spark_s"] = get_spark_s
        values["spark.failed_tasks"] = failed1 - failed0
        values["spark.jvm_gc_s"] = gc1 - gc0
        values["process.peak_rss_mb"] = peak / MB
        for m, v in run.overhead.items():
            values[f"trace.overhead.{m}"] = v
        if args.workload == "extract":
            values["extract.weak_scaling_eff_1to4"] = weak_scaling(
                run, args.seed)
        values.update((k, v) for k, v in run.e2e.items()
                      if k.startswith("wall."))
        units = PER_LAYER
    else:
        # One set-up per run: a second one is a fresh JVM, ~14 s a run on
        # 4 cores, which the benchmark's run budget cannot carry.
        values = dict(run.e2e, setup_s=setup_s)
        units = END_TO_END
    context = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cores, "master": master, "versions": spark_versions,
        "git_commit": git_commit(), "load_1min": run.loads,
        "cpu_steal_share": steal_share(cpu0, cpu_times()),
        "error_rate": run.failed / max(run.attempted, 1),
        "problems": run.problems, "setup_wall_s": setup_wall_s,
        "peak_rss_mb": peak / MB, "op_cpu": run.op_cpu,
        "e2e_wall": {k: v for k, v in run.e2e.items() if k.startswith("wall.")},
        **({"untraced_half": run.e2e} if args.trace else {}), **run.info,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
