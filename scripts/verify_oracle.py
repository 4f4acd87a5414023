#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + order-insensitive value multiset.

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, date):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from scrapy_processors_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="verify-oracle", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {type(e).__name__}: {str(e)[:300]}"))
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        if name not in os_:
            print(f"OK?   {name}: rows={len(srows)} (rows-only check, no oracle)")
            continue
        try:
            ores = con.sql(os_[name])
            ocols = ores.columns
            orows = ores.fetchall()
        except Exception as e:
            failures.append((name, f"oracle error: {str(e)[:300]}"))
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sc, oc = canon(srows, scols), canon(orows, ocols)
            if sc != oc:
                diff = next((i for i, (a, b) in enumerate(zip(sc, oc)) if a != b), None)
                detail = f" first diff @{diff}:\n  spark : {sc[diff][:200]}\n  oracle: {oc[diff][:200]}" if diff is not None else ""
                problems.append("value mismatch" + detail)
        if problems:
            failures.append((name, "; ".join(p.splitlines()[0] for p in problems)))
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: rows={len(srows)}")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
