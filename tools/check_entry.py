"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its DuckDB oracle at sf0.01, compare
row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    from geotrellis_landsat_emr_demo_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {e}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duck] {name}: {e}")
            continue
        a, b = canon(sdf), canon(odf)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns {list(a.columns)} vs {list(b.columns)}"))
            print(f"[FAIL-cols] {name}: {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            print(f"[FAIL-rows] {name}: {len(a)} vs {len(b)}")
            continue
        if not a.equals(b):
            diff = (a != b)
            ncell = int(diff.sum().sum())
            failures.append((name, f"{ncell} mismatched cells"))
            print(f"[FAIL-vals] {name}: {ncell} mismatched cells")
            mask = diff.any(axis=1)
            print("  spark:", a[mask].head(3).to_dict("records"))
            print("  duck :", b[mask].head(3).to_dict("records"))
            continue
        print(f"[OK] {name}: {len(a)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [f[0] for f in failures])
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
