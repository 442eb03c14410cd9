"""Every driver query vs its DuckDB oracle at sf0.001.

Runs each ``__spark_entry__.queries()`` entry on the shared session and its
``oracle_sql()`` twin on DuckDB, and compares them with the driver's own
check (row count, column names, exact sorted values) from
tools/check_oracle.py.
"""

import os

import pytest

import __spark_entry__ as entry_mod
from tools.check_oracle import TABLES, compare

pytestmark = pytest.mark.spark

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    ok, detail = compare(got, duck.execute(ORACLES[name]).fetchdf())
    assert ok, detail
