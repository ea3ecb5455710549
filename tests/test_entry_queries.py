"""The driver's correctness gate inside Tier-1: every
__spark_entry__.queries() entry against its oracle_sql() twin on DuckDB
over the sf0.01 tables — row count, column names and value hash, through
the same comparison `python tools/check_entry.py` prints."""

import pytest

import __spark_entry__ as E
from tools.check_entry import compare_query, oracle_connection

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF)
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert set(E.queries()) == set(E.oracle_sql())


@pytest.mark.parametrize("name", list(E.queries()))
def test_query_matches_oracle(spark, oracle, name):
    ok, report = compare_query(spark, oracle, name, SF)
    assert ok, report
