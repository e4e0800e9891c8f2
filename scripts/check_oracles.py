"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row-count, schema width, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with float
rounding already applied inside the queries)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fuzzylink_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    only = sys.argv[1:] or None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols} "
                  f"({time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"  WARNING: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = [d[0] for d in rel.description]
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            failures.append(name)
            continue
        sh = table_hash(srows, scols)
        dh = table_hash(drows, dcols)
        ok = (len(srows) == len(drows)
              and sorted(scols) == sorted(dcols)
              and sh == dh)
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: spark {len(srows)}x{len(scols)} vs duckdb "
              f"{len(drows)}x{len(dcols)} hash {'==' if sh == dh else sh + ' != ' + dh} "
              f"({time.time()-t0:.1f}s)")
        if not ok:
            failures.append(name)
            if sorted(scols) != sorted(dcols):
                print(f"  cols: spark={sorted(scols)} duckdb={sorted(dcols)}")
            if len(srows) and len(drows):
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in srows)
                ld = sorted("\x1f".join(norm_cell(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"  first diff:\n   spark : {a[:160]}\n   duckdb: {b[:160]}")
                        break
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
