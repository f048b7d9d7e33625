"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB over the
same sf dir, compare row count + schema-insensitive sorted values."""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.9g}"
    if hasattr(val, "timestamp"):
        return str(val)
    return str(val)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    from flame_spark.queries import QUERIES, ORACLE_SQL
    from flame_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark("check_oracles", cpus=8)
    failures = []
    for name, fn in QUERIES.items():
        if ONLY and name not in ONLY:
            continue
        sql = ORACLE_SQL.get(name)
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERROR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if sql is None:
            print(f"[ROWS-ONLY ] {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            rel = con.sql(sql)
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"[DUCK-ERROR ] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(c.lower() for c in scols) == sorted(dcols)
        ok_vals = False
        if ok_count and ok_cols:
            ok_vals = rows_key(scols, srows) == rows_key(dcols, drows)
        status = "OK" if (ok_count and ok_cols and ok_vals) else "MISMATCH"
        print(
            f"[{status:>9}] {name}: spark {len(srows)} rows, duck {len(drows)} rows"
            + ("" if ok_cols else f"  COLS spark={sorted(scols)} duck={sorted(dcols)}")
        )
        if status == "MISMATCH":
            failures.append(name)
            if ok_count and ok_cols:
                sk, dk = rows_key(scols, srows), rows_key(dcols, drows)
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                for a, b in diff:
                    print(f"    spark={a}\n     duck={b}")
    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
