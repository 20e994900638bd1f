#!/usr/bin/env python3
"""Fresh-process driver simulation — the correctness gate, runnable
outside pytest: for each requested registry key, run the Spark query
AND its DuckDB oracle over the same parquet and compare exactly
(sorted columns, sorted rows, bit-equal floats — ``tests.parity_util``
semantics, the driver's own check).

Usage:
    python tools/driver_sim.py [key ...]        # default: ALL keys
    SIM_SF_DIR=/root/testdata/sf0.1 python tools/driver_sim.py q_rfm

Builds a PLAIN SparkSession and runs each key through
``tests.parity_util.check_key``, which sets a hostile session time zone
(America/New_York) before the key, to prove ``ensure_oracle_confs``
protects oracle parity. ``SIM_SF_DIR`` may hold single-file
fixtures or an engine ingest (directories of part files). Exit 0 iff
every requested key passes. All keys take ~5 min at sf0.01 on a
4-core host (local[8])."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E  # noqa: E402
from tests.parity_util import check_key, duckdb_conn  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
    qs, oracles = E.queries(), E.oracle_sql()
    keys = sys.argv[1:] or list(qs)
    con = duckdb_conn(sf_dir)
    bad = []
    for k in keys:
        if k not in qs:
            print(f"{k}: NOT A KEY")
            bad.append(k)
            continue
        t0 = time.time()
        try:
            n = check_key(spark, con, sf_dir, k, qs[k], oracles.get(k))
            if n is None:
                print(f"{k}: OK ({time.time() - t0:.2f}s)")
            else:
                print(f"{k}: rows-only {n} rows ({time.time() - t0:.2f}s)")
        except Exception as e:  # noqa: BLE001 - report and keep sweeping
            print(f"{k}: FAIL {type(e).__name__}: {str(e)[:300]}")
            bad.append(k)
    print("BAD:", bad if bad else "none")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
