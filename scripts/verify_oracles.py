"""Local replica of the driver's correctness gate: run every REGISTRY query
on Spark and its DuckDB oracle at a given sf dir, compare row count, column
names, and an order-insensitive value hash, in a host-sized session
(``get_spark()``: local[nproc], or ``SPARK_GRAFT_CPUS``). Usage:

    python scripts/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, ".")
os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(str(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from splade_spark.entry_queries import REGISTRY
    from splade_spark.session import get_spark

    spark = get_spark()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = 0
    for name, (fn, sql) in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if sql is None:
            print(f"{name:28s} rows={len(srows)} (rows-only, no oracle)")
            continue
        drel = con.sql(sql)
        drows = drel.fetchall()
        dcols = [d[0] for d in drel.description]
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = ok_cols and value_hash(srows, scols) == value_hash(drows, dcols)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:28s} {status}  rows {len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} hash={'=' if ok_hash else 'DIFF'}"
        )
        if status == "FAIL" and ok_cols:
            s_set = {tuple(str(x) for x in r) for r in srows}
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            d_set = {tuple(str(r[i]) for i in order) for r in drows}
            s_canon = {tuple(str(r[i]) for i in order) for r in srows}
            extra = list(s_canon - d_set)[:3]
            missing = list(d_set - s_canon)[:3]
            print(f"   spark-only: {extra}")
            print(f"   duck-only : {missing}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
