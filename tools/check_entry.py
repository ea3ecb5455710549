"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries()[name] on Spark and the matching oracle_sql()[name]
on DuckDB over the same parquet tables, compare row count, column names,
and an order-insensitive value hash.

Usage: python tools/check_entry.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from metacheck_spark import get_spark  # noqa: E402

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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):7d} (rows-only, no oracle)")
            continue
        orel = con.execute(oracles[name])
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        ok_hash = ok_cols and value_hash(scols, srows) == value_hash(ocols, orows)
        ok = ok_rows and ok_cols and ok_hash
        print(
            f"{name:28s} rows={len(srows):7d}/{len(orows):<7d} "
            f"cols={'ok' if ok_cols else f'MISMATCH {scols} vs {ocols}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if not ok:
            failed.append(name)
            if not ok_hash and ok_cols and len(srows) < 50:
                print("  spark :", sorted(srows)[:5])
                print("  oracle:", sorted(orows)[:5])
    spark.stop()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
