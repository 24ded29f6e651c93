"""Driver-style correctness harness: runs every __spark_entry__ query against
its DuckDB oracle at a given sf_dir and compares row count, column names, and
order-insensitive values (the same contract as CORRECTNESS_r{N}.json).

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"WEAK {name}: rows={len(sdf)} (no oracle)")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} != {len(odf)}")
            n_fail += 1
            continue
        a, b = canon(sdf), canon(odf)
        try:
            eq = a.astype(str).equals(b.astype(str))
        except Exception:  # noqa: BLE001
            eq = False
        if eq:
            print(f"PASS {name}: rows={len(sdf)} ({dt:.1f}s)")
            n_pass += 1
        else:
            diff = (a.astype(str) != b.astype(str)).any(axis=1)
            print(f"FAIL {name}: value mismatch in {int(diff.sum())}/{len(a)} rows")
            print("  spark:", a[diff].head(3).to_dict("records"))
            print("  duck :", b[diff].head(3).to_dict("records"))
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
