"""Local emulation of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and, where oracle_sql() provides
SQL, on DuckDB — compare row count, column names, and an order-insensitive
value hash. Usage: python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Spark Python workers import the package too, from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod  # noqa: E402
from deduplicate_text_datasets_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(repr(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("|".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        twall = time.time() - t0
        if name not in oracles:
            print(f"  {name:24s} rows-only: {len(srows):7d} rows  {twall:6.1f}s")
            continue
        odf = con.execute(oracles[name]).fetchall()
        ocols = [d[0] for d in con.execute(oracles[name]).description]
        ok_rows = len(srows) == len(odf)
        ok_cols = sorted(scols) == sorted(ocols)
        sh, oh = value_hash(srows, scols), value_hash(odf, ocols)
        ok_hash = sh == oh
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"  {name:24s} {status} rows {len(srows)}/{len(odf)} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
            f"hash {'=' if ok_hash else f'{sh} vs {oh}'}  {twall:6.1f}s"
        )
        if not ok_hash and ok_rows and ok_cols:
            # print a sample diff for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {tuple(repr(r[i]) for i in order) for r in srows}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            oset = {tuple(repr(r[i]) for i in oorder) for r in odf}
            print("    spark-only:", list(sset - oset)[:3])
            print("    duck-only :", list(oset - sset)[:3])
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
