"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries()[name] on Spark and the matching oracle_sql()[name]
on DuckDB over the same parquet tables, compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/check_entry.py [sf_dir] [name ...]

`oracle_connection` and `compare_query` are the comparison itself, shared
with tests/test_entry_queries.py.
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table of `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare_query(spark, con, name: str, sf_dir: str) -> tuple[bool, str]:
    """Run queries()[name] on Spark and oracle_sql()[name] on `con`:
    (whether rows, columns and hash all match, a printable report)."""
    sdf = entry_mod.queries()[name](spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    orel = con.execute(entry_mod.oracle_sql()[name])
    ocols, orows = [d[0] for d in orel.description], orel.fetchall()
    ok_rows = len(srows) == len(orows)
    ok_cols = sorted(scols) == sorted(ocols)
    ok_hash = ok_cols and value_hash(scols, srows) == value_hash(ocols, orows)
    report = (
        f"{name:28s} rows={len(srows):7d}/{len(orows):<7d} "
        f"cols={'ok' if ok_cols else f'MISMATCH {scols} vs {ocols}'} "
        f"hash={'ok' if ok_hash else 'MISMATCH'}"
    )
    if not ok_hash and ok_cols and len(srows) < 50:
        report += f"\n  spark : {sorted(srows)[:5]}\n  oracle: {sorted(orows)[:5]}"
    return ok_rows and ok_cols and ok_hash, report


def main() -> int:
    from metacheck_spark import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(entry_mod.queries()))
    if unknown:
        print("unknown queries:", ", ".join(unknown))
        return 2

    con = oracle_connection(sf_dir)
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    failed = []
    for name in entry_mod.queries():
        if only and name not in only:
            continue
        ok, report = compare_query(spark, con, name, sf_dir)
        print(report)
        if not ok:
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
