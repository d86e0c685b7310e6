"""The oracle gate inside the test suite: every ``queries()`` entry at
sf0.01 must match its DuckDB ``oracle_sql()`` restatement (columns,
row count, order-insensitive value hash). A query without an oracle
only has to run. ``tools/check_oracles.py`` is the same gate as a
command-line tool."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracles import connect, mismatch  # noqa: E402

QUERIES, ORACLES = entry.queries(), entry.oracle_sql()


@pytest.fixture(scope="module")
def oracle_sf_dir(sf_dir):
    """The sf0.01 tables, next to the suite's default scale factor."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def duck(oracle_sf_dir):
    con = connect(oracle_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, oracle_sf_dir, name):
    got = QUERIES[name](spark, oracle_sf_dir).toPandas()
    if name in ORACLES:
        why = mismatch(got, duck.execute(ORACLES[name]).df())
        assert why is None, f"{name}: {why}"
