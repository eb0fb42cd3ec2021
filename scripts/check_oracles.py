"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() through DuckDB at the
given sf dir, compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if v is None:
        return "NULL"
    return str(v)


def canon_rows(cols, rows):
    return sorted(tuple(canon_cell(v) for v in row) for row in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from esmarc_spark.session import get_spark

    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.time()
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            spark_sec = time.time() - t0
            if name not in oracles:
                print(f"  {name:24s} rows-only: {len(s_rows)} rows  ({spark_sec:.1f}s)")
                if not s_rows:
                    failures.append((name, "empty result"))
                continue
            t0 = time.time()
            rel = con.sql(oracles[name])
            d_cols = [c.lower() for c in rel.columns]
            d_rows = rel.fetchall()
            duck_sec = time.time() - t0
        except Exception as e:  # noqa: BLE001 - one broken query must not hide the rest
            error = f"{type(e).__name__}: {(str(e).splitlines() or [''])[0]}"
            print(f"  ERROR {name}: {error}")
            failures.append((name, error))
            continue
        problems = []
        if [c.lower() for c in s_cols] != d_cols:
            problems.append(f"columns {s_cols} != {d_cols}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} != {len(d_rows)}")
        a = canon_rows(s_cols, s_rows)
        b = canon_rows(d_cols, d_rows)
        if a != b:
            diff_a = [r for r in a if r not in set(b)][:3]
            diff_b = [r for r in b if r not in set(a)][:3]
            problems.append(f"values differ; spark-only={diff_a} duck-only={diff_b}")
        status = "OK " if not problems else "FAIL"
        print(
            f"  {name:24s} {status} rows={len(s_rows)} spark={spark_sec:.1f}s duck={duck_sec:.1f}s"
        )
        for p in problems:
            print(f"      {p}")
            failures.append((name, p))
    spark.stop()
    if failures:
        print(f"\n{len(failures)} failure(s)")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
