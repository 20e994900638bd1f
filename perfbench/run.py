#!/usr/bin/env python3
"""End-to-end benchmark of the document-vector-indexer engine.

    python3 perfbench/run.py --workload headline_queries --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Generates its inputs from ``--seed``,
starts one Spark session the way the CLI does (``session.get_spark``),
runs one workload (see ``workloads.py``), checks the outputs and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload layer by layer under the span recorder and reports the
per-layer metrics instead. End-to-end times are scaled to a reference
host speed by a pure-Python loop timed before the set-up, after the
build and after the requests (see ``DESIGN.md``); the raw times are in
the detail record on standard error. Everything the run writes stays under
``.perfbench_work/`` in the working directory; generated star fixtures
are cached there between runs.

Host pinning lives here, not in the package: ``local[<cores>]``, a
driver memory of a quarter of host RAM (at most 4g), and Spark's local
and temporary directories inside the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import spans

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
# The host loop's median on the 4-core host the benchmark was first
# measured on; end-to-end times are reported at that host speed.
REF_LOOP_S = 0.055



def bench_metrics(section: str) -> dict[str, str]:
    """Name -> unit of every metric in one section of BENCHMARK.json
    (``end_to_end`` or ``per_layer``); the file is the one list of what a
    run prints."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def pin_host(work: str) -> int:
    """Environment for the session: cores, driver memory, local dirs."""
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    return cores


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the JVM it launched."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smallest inputs, for the self-test")
    args = p.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import bench  # noqa: F401  (the package and its bench keys must be present)
    import document_vector_indexer_spark  # noqa: F401

    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    t = time.perf_counter()
    loop_start = workloads.host_loop_s()
    loop_s = time.perf_counter() - t  # not part of the set-up
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    slots = pin_host(work)

    from document_vector_indexer_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START - loop_s
    try:
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark, slots)
        run = workloads.Run(spark, args.seed, args.seconds, work, workloads.cache_dir(base),
                            workloads.Sizes(args.size == "tiny"), tracer)
        t = time.perf_counter()
        workloads.WORKLOADS[args.workload](run)
        wall = time.perf_counter() - t
        # the shared host's speed drifts by up to 2x within minutes; each
        # time is scaled by the host loop measured on either side of it
        loops = [loop_start, *run.host_loops, workloads.host_loop_s()]
        build_scale = 2 * REF_LOOP_S / (loops[0] + loops[1])
        request_scale = 2 * REF_LOOP_S / (loops[1] + loops[2])
        confs = {k: spark.conf.get(k) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold", "spark.master", "spark.driver.memory")}
        if tracer:
            names = bench_metrics("per_layer")
            totals = tracer.counters.collect(-1, tracer.counters.high_water())
            layers = {**run.layers, **{f"spark.{c}": totals[c] for c in spans.COUNTERS},
                      "session.get_spark_s": get_spark_s, "trace.wall_s": wall,
                      "trace.overhead_s": tracer.overhead_s,
                      "process.peak_rss_mb": peak_rss_mb(spark)}
            unlisted = sorted(set(layers) - set(names))
            if unlisted:
                raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {unlisted}")
            # a layer this workload bypasses reads 0
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in names.items()}
            tracer.write(os.path.join(base, f"trace-{args.workload}.json"))
        else:
            values = {
                "setup_s": setup_s * build_scale,
                "build_s": statistics.median(run.build_s) * build_scale,
                "request_s_mean": statistics.fmean(run.request_s) * request_scale,
            }
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in bench_metrics("end_to_end").items()}
        detail = {"workload": args.workload, "seed": args.seed, "confs": confs,
                  "get_spark_s": get_spark_s, "setup_s": setup_s, "workload_s": wall,
                  "host_loop_s": loops,
                  "builds": run.build_s, "requests": run.request_s,
                  "failures": run.failures[:20], **run.info}
        print("perfbench detail " + json.dumps(detail, default=str), file=sys.stderr)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
