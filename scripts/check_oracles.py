"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry and compares against
``oracle_sql()`` via DuckDB on the same parquet: row count, column
names, and order-insensitive value multiset (exact equality; floats
compared to 1e-9 after both engines' own rounding).

Usage: PYTHONPATH=/root/repo python scripts/check_oracles.py [sf_dir] [q1,q2,...]
"""

from __future__ import annotations

import math
import sys
from decimal import Decimal

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return v
    return v


def row_key(row):
    out = []
    for v in row:
        v = normalize(v)
        if isinstance(v, float):
            out.append(round(v, 9))
        else:
            out.append(v)
    return tuple(out)


def compare(name, spark_df, duck_rows, duck_cols) -> list[str]:
    problems = []
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        problems.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return problems
    s_rows = [tuple(r[c] for c in s_cols) for r in spark_df.collect()]
    d_idx = {c: i for i, c in enumerate(duck_cols)}
    d_rows = [tuple(r[d_idx[c]] for c in s_cols) for r in duck_rows]
    if len(s_rows) != len(d_rows):
        problems.append(f"row counts differ: spark={len(s_rows)} duck={len(d_rows)}")
    sm = sorted(map(row_key, s_rows), key=repr)
    dm = sorted(map(row_key, d_rows), key=repr)
    if sm != dm:
        diff_s = [r for r in sm if r not in set(dm)][:3]
        diff_d = [r for r in dm if r not in set(sm)][:3]
        problems.append(f"values differ; spark-only={diff_s} duck-only={diff_d}")
    return problems


def main(sf_dir: str, only: set[str] | None = None) -> int:
    import __spark_entry__ as entry_mod
    from batch_import_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    failures = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            res = con.execute(oracles[name])
            duck_rows = res.fetchall()
            duck_cols = [d[0] for d in res.description]
            problems = compare(name, df, duck_rows, duck_cols)
            if problems:
                failures += 1
                print(f"FAIL {name}: " + " | ".join(problems))
            else:
                print(f"OK   {name}: {len(duck_rows)} rows match")
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{len(qs)} queries, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
            set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None,
        )
    )
