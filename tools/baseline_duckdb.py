#!/usr/bin/env python3
"""Measure the DuckDB comparator for BASELINE.md: runs each headline
query's oracle SQL at the bench scale factor and prints per-query
wall-clock. (DuckDB is the operative baseline — the reference publishes
no numbers; see BASELINE.md.)"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from bench import HEADLINE  # noqa: E402
from document_vector_indexer_spark.queries.registry import all_queries  # noqa: E402
from tests.parity_util import duckdb_conn  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    con = duckdb_conn(sf_dir)
    specs = all_queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        sql = specs[name].oracle
        if sql is None:
            continue
        con.execute(sql).fetchall()  # warm (I/O cache)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    print(
        json.dumps(
            {
                "comparator": f"duckdb-{duckdb.__version__}",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
