"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() twin at a given sf
dir, compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from go_muse_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def verdict(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """True when a and b hold the same rows in any order: equal row
    counts and column names, and after canon() equal values, floats
    within atol 1e-9 with rtol 0 (jitter below the rounding)."""
    a, b = canon(a), canon(b)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    if a.equals(b):
        return True
    try:
        return bool(all(
            np.allclose(a[c], b[c], rtol=0, atol=1e-9)
            if pd.api.types.is_float_dtype(a[c])
            else (a[c] == b[c]).all()
            for c in a.columns
        ))
    except Exception:
        return False


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per fixture table of sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(app="oracle-check", driver_mem="8g")
    con = oracle_con(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spdf = sdf.toPandas()
        if name not in oracles:
            print(f"{name:26s} rows={len(spdf):7d}  (rows-only, no oracle)")
            continue
        opdf = con.sql(oracles[name]).df()
        ok_vals = verdict(spdf, opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        status = "OK " if ok_vals else "FAIL"
        print(f"{name:26s} rows={len(spdf):7d}/{len(opdf):7d} cols={'=' if ok_cols else 'DIFF'} -> {status}")
        if not ok_vals:
            failures += 1
            a, b = canon(spdf), canon(opdf)
            if not ok_cols:
                print("  spark cols:", list(a.columns))
                print("  duck  cols:", list(b.columns))
            elif len(a) == len(b):
                neq = ~(a == b).all(axis=1)
                print("  first diffs (spark | duck):")
                print(pd.concat([a[neq].head(3), b[neq].head(3)], axis=1))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
