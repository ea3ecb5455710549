"""The driver's correctness gate inside Tier-1: every
__spark_entry__.queries() entry against its oracle_sql() twin on DuckDB
over the sf0.01 tables — row count, column names and value hash, through
the same comparison `python tools/check_entry.py` prints."""

import sys

import duckdb
import pytest

import __spark_entry__ as E
import metacheck_spark
from tools.check_entry import compare_query, main, oracle_connection

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


def test_quality_summary_counts_null_caption_kept(spark, tmp_path):
    """A null caption abstains on every pitfall predicate, so the row is
    kept in both engines. The sf tables hold no null text, so the gate
    above cannot see this case."""
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES (1::BIGINT, NULL::VARCHAR),"
        " (2, 'a photo of a fox')) t(doc_id, text))"
        f" TO '{tmp_path}/documents.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    ok, report = compare_query(spark, con, "quality_summary", str(tmp_path))
    assert ok, report
    # doc 1: null caption -> W015 only; doc 2 -> seeded W010 trigger
    assert con.execute(E.oracle_sql()["quality_summary"]).fetchall() == [
        (2, 2, 2, 0, 2)
    ]
    con.close()


def test_check_entry_rejects_unknown_query_names(monkeypatch, capsys):
    """A mistyped query name fails the tool before any session starts,
    instead of checking nothing and passing."""

    def no_session(*args, **kwargs):
        raise AssertionError("check_entry started a Spark session")

    monkeypatch.setattr(metacheck_spark, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", ["check_entry.py", SF, "no_such_query"])
    assert main() != 0
    assert "no_such_query" in capsys.readouterr().out
