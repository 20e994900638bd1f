#!/usr/bin/env python3
"""Per-key scaling sweep: every registry query at two scale factors,
sorted by data cost (t_big − t_small) — the measurement that caught
the r5 hot-path defects (quadratic char-fold in the CDC chunker,
interpreted-HOF gram building in decontaminate; see SCALE.md
"Measured scaling"). Run it after adding or reworking operators:
a key whose delta towers over its peers has a bad constant even when
its plan shape is right.

Usage:
    python tools/scaling_sweep.py [small_sf_dir] [big_sf_dir]
    (defaults /root/testdata/sf0.001 and /root/testdata/sf0.1)
    SWEEP_KEYS=q_a,q_b  limits to a key subset (targeted ramps)
    SWEEP_CONFS=engine  uses the ENGINE session defaults instead of
                        the pinned bench confs — REQUIRED past ~sf1:
                        the r10 second decade measured the pinned
                        8-partition uncompressed confs kneeing at sf10
                        (q_dedup_near 6.2x slower on identical data;
                        SCALE.md), so sweep absolutes at that scale
                        are only meaningful under engine confs.

Default bench-session confs (``bench.bench_session``: AQE off, 8
shuffle partitions, locality/compress off) keep numbers comparable with
bench.py's; min-of-2 warm runs per (key, sf) after a warmup run.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> None:
    from bench import _ingest_subprocess, bench_session
    from document_vector_indexer_spark.queries.registry import all_queries
    from document_vector_indexer_spark.session import get_spark

    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    dests = {s: tempfile.mkdtemp(prefix="dvi_sweep_") for s in (small, big)}
    _ingest_subprocess([(s, d) for s, d in dests.items()])
    engine_confs = os.environ.get("SWEEP_CONFS") == "engine"
    if engine_confs:
        spark = get_spark(app_name="dvi-scaling-sweep")
    else:
        spark = bench_session("dvi-scaling-sweep", 8)
    spark.sparkContext.setLogLevel("ERROR")

    only = os.environ.get("SWEEP_KEYS")
    keys = [k.strip() for k in only.split(",") if k.strip()] if only else None
    res: dict[str, tuple[float, float]] = {}
    try:
        for name, spec in all_queries().items():
            if keys is not None and name not in keys:
                continue
            try:
                times = []
                for s in (small, big):
                    spec.fn(spark, dests[s]).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs = []
                    for _ in range(2):
                        t0 = time.perf_counter()
                        spec.fn(spark, dests[s]).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        runs.append(time.perf_counter() - t0)
                    times.append(min(runs))
                res[name] = (times[0], times[1])
            except Exception as e:  # keep sweeping past a broken key
                print(f"ERR {name}: {str(e)[:100]}", file=sys.stderr)
        for name, (a, b) in sorted(res.items(), key=lambda kv: kv[1][0] - kv[1][1]):
            print(
                f"{name:28s} {os.path.basename(small)}={a:.3f} "
                f"{os.path.basename(big)}={b:.3f} delta={b - a:+.3f}"
            )
    finally:
        for d in dests.values():
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
