"""Runs every key through the entry point (``__spark_entry__``) against
its DuckDB oracle at sf0.01, each under a hostile session time zone —
the same check that produces CORRECTNESS_r{N}.json."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as E
from tests.parity_util import check_key, duckdb_conn

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

QUERIES = E.queries()
ORACLES = E.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity(spark, con, name):
    # a rows-only key (no oracle) only has to run
    check_key(spark, con, SF_DIR, name, QUERIES[name], ORACLES.get(name))
