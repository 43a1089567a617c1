#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every query in
__spark_entry__.queries() on Spark AND its oracle_sql() on DuckDB over the
same parquet tables, then compare row count, column names, and
order-insensitive values (sorted by all columns, cell-by-cell).

Usage: python scripts/check_oracle.py [-k substring] [--sf DIR]
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    """Canonicalize a cell for comparison across engines."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 == 0.0
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def compare(name, spark_rows, duck_rows, spark_cols, duck_cols):
    issues = []
    if len(spark_rows) != len(duck_rows):
        issues.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
    if sorted(spark_cols) != sorted(duck_cols):
        issues.append(f"columns spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return issues
    # align column order by name (the driver sorts columns by name)
    order_s = [spark_cols.index(c) for c in sorted(spark_cols)]
    order_d = [duck_cols.index(c) for c in sorted(duck_cols)]
    s = sorted(
        [tuple(canon(r[i]) for i in order_s) for r in spark_rows], key=sort_key
    )
    d = sorted(
        [tuple(canon(r[i]) for i in order_d) for r in duck_rows], key=sort_key
    )
    n_diff = 0
    first = None
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            n_diff += 1
            if first is None:
                first = (i, a, b)
    if n_diff:
        issues.append(f"{n_diff} differing rows; first at {first[0]}:\n  spark={first[1]}\n  duck ={first[2]}")
    return issues


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", default=None, help="comma-separated substring filters on query names")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01"))
    ap.add_argument(
        "--limit", type=int, default=None,
        help="check only the first N registry entries (the driver gate "
        "samples the first 50 — this replicates exactly that prefix)",
    )
    args = ap.parse_args()
    # one line per query, flushed as it prints: a stopped sweep that was
    # redirected to a file keeps every result printed so far
    sys.stdout.reconfigure(line_buffering=True)

    import duckdb

    import __spark_entry__ as entry
    from target_parquet_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    ks = args.k.split(",") if args.k else None
    names = [n for n in qs if ks is None or any(k in n for k in ks)]
    if args.limit is not None:
        names = names[: args.limit]
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, args.sf)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            n_fail += 1
            continue
        issues = compare(name, spark_rows, duck_rows, spark_cols, duck_cols)
        if issues:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for i in issues:
                print(f"      {i}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(spark_rows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
