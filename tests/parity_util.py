"""Local stand-in for the driver's DuckDB oracle comparison.

The driver sorts columns by name, then value-hashes order-insensitively.
We reproduce that *strictly*: after sorting columns and rows, values
must compare exactly (floats bit-equal) — if a query needs tolerance it
must be rewritten to be deterministic, not the test loosened.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from document_vector_indexer_spark.io import TABLES

# The session time zone the correctness check runs each key under: a key
# stays oracle-exact only if its entry callable resets the oracle confs.
HOSTILE_TZ = "America/New_York"


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over a corpus whose tables are single parquet files
    (the fixtures) or directories of part files (an engine ingest)."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_key(spark, con, sf_dir: str, name: str, fn, oracle: "str | None"):
    """The correctness check of one key: run its entry callable under the
    hostile session time zone, then compare with its oracle. A rows-only
    key (no oracle) is only counted; its row count is returned."""
    spark.conf.set("spark.sql.session.timeZone", HOSTILE_TZ)
    df = fn(spark, sf_dir)
    if oracle is None:
        return df.count()
    compare(df, con, oracle, name)
    return None


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # row order is irrelevant to the driver's hash; sort for comparison
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str) -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(con.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} duckdb={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} duckdb={len(want)}"
    # The driver's value hash is TYPE-sensitive: a DuckDB HUGEINT (un-cast
    # sum(BIGINT), surfaces as float64 in fetchdf) against a Spark BIGINT
    # hash-mismatches even when every value is identical — the round-3
    # red rows. Catch the integer-vs-float kind split here; exact dtype
    # equality stays relaxed (int32 vs int64 hashes the same driver-side).
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        assert not (gk in "iu" and wk == "f") and not (
            gk == "f" and wk in "iu"
        ), (
            f"{name}.{c}: integer/float kind mismatch spark={got[c].dtype} "
            f"duckdb={want[c].dtype} — un-cast sum()? (DuckDB HUGEINT rule)"
        )
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=True, obj=name
    )


def formatted_plan(spark, spark_df) -> str:
    """Formatted-explain string of a DataFrame (same output the plan
    tests parse)."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return spark_df._jdf.queryExecution().explainString(mode)


def tree_of(plan: str) -> str:
    """The operator-tree portion of a formatted plan — node names
    appear a second time in the per-node detail blocks (lines like
    ``(1) Scan parquet``), so substring counting must stop where the
    details begin. Shared by test_plans and test_searchops."""
    import re as _re

    body = plan.split("== Physical Plan ==")[1]
    lines = []
    for line in body.splitlines():
        if _re.match(r"^\(\d+\) ", line.strip()):
            break
        lines.append(line)
    return "\n".join(lines)
