"""Benchmark of the search engine (see perfbench/README.md).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Runs one workload in this process on local[nproc] and prints, as the last
line of standard output, one JSON object: {"correct", "attempted",
"failed", "metrics"}. The metrics are the end-to-end ones with --trace 0
and the per-layer ones with --trace 1. The line before it is a JSON report
with the environment, the input sizes, every metric under its own name
with unit and sample count, and any failed check. Scratch files go under
.perfbench_work/ in the repository root; the trace of a --trace 1 run is
written there too.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

from measure import cpu_jiffies, peak_rss_bytes, process_tree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def configure_env(workdir: str) -> dict:
    """Environment of this process (and so of the JVM and the Python
    workers it starts). The engine's own defaults (32 cores, a 48g heap)
    are sized for a much larger host."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(6, mem_kb // (6 * 2**20)))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_JAVA_OPTS": "",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        # every JVM Spark starts (launcher and driver): temp files in the
        # checkout, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
        # Spark's Python workers import search_engine_spark too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        # keep every job and stage of a run in the status store
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 pyspark-shell",
    }
    os.environ.update(env)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it and the Python
    workers it started have exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError("Spark's processes did not exit")
        time.sleep(0.2)


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (out.stderr or out.stdout).splitlines()[0] if out.returncode == 0 else "unknown"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "fresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print(f"perfbench: no search_engine_spark package under {ROOT}", file=sys.stderr)
        return 2

    load_at_start = os.getloadavg()
    steal_at_start = cpu_jiffies()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(WORK, f"{name}-{os.getpid()}")
    env = configure_env(workdir)
    sys.path.insert(0, ROOT)

    import pyspark

    import inputs
    import report
    import workloads
    from search_engine_spark.oracle import engine as oracle
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.pages import generate_pages_pandas
    from sparktrace import NullTracer, SparkTracer

    # benchmark prep, not timed: the base corpus and its oracle
    pdf = generate_pages_pandas(inputs.corpus_ids(args.seed, 0, workloads.BASE_PAGES))
    base_oracle = oracle.build_index(pdf)

    cores = int(env["SPARK_GRAFT_CPUS"])
    tracer = SparkTracer() if args.trace else NullTracer()
    counters: dict = {}
    with tracer.span("session.start") as session:
        spark = get_spark("perfbench", master=f"local[{cores}]")
    try:
        tracer.attach(spark)
        run = workloads.Run(spark, tracer, args.seed, args.seconds, workdir)
        with tracer.span("workload", workload=args.workload) as root_span:
            workloads.WORKLOADS[args.workload](run, pdf, base_oracle)
        if args.trace:
            # traced-only work, kept outside the workload span
            run.facts["index"] = workloads.index_layer(run.index)
            counters = tracer.job_counters()
        rss_bytes, rss_procs = peak_rss_bytes(os.getpid())
    finally:
        stop_spark(spark)
    shutil.rmtree(workdir, ignore_errors=True)
    steal, total = (b - a for a, b in zip(steal_at_start, cpu_jiffies()))

    e2e = report.end_to_end(args.workload, run, session.wall)
    ledger = run.ledger
    rep = {
        "workload": args.workload,
        "why": workloads.WHY[args.workload],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": {
            "base_pages": workloads.BASE_PAGES,
            "base_indexed_docs": base_oracle.n_docs,
            "batch_pages": workloads.BATCH_PAGES,
            "fresh_slice": workloads.FRESH_SLICE,
            "build_config": workloads.BUILD_CONFIG,
            **{k: v for k, v in run.facts.items() if k != "index"},
        },
        # the same span in untraced and traced runs: a pair of runs gives
        # the traced over the untraced wall
        "workload_wall_s": root_span.wall,
        "env": {
            **env,
            "nproc": cores,
            "loadavg_at_start": load_at_start,
            "cpu_steal_share": steal / total if total else 0.0,
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "java": java_version(),
        },
        "metrics": report.named_metrics(args.workload, run, e2e, rss_bytes, rss_procs),
        "failures": ledger.failures,
    }
    metrics = e2e
    if args.trace:
        metrics = report.per_layer(run, tracer, counters, cores, root_span)
        trace_path = os.path.join(WORK, f"trace-{name}.jsonl")
        tracer.write(trace_path, counters)
        rep["trace_file"] = os.path.relpath(trace_path, ROOT)
        rep["self_s_by_span"] = report.self_time_by_span(tracer)
        rep["per_layer_moves"] = {k: v[2] for k, v in report.PER_LAYER.items()}
    print(json.dumps(rep), flush=True)
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
