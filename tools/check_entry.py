"""Local emulation of the driver's correctness gate: run every queries()
entry against its oracle_sql() in DuckDB at a given SF and compare
row-count + column names + order-insensitive values.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def dtype_kinds(df: pd.DataFrame) -> dict:
    """Coarse dtype kind per column ('i' int/bool, 'f' float, 'M' datetime,
    'O' other). The driver's value hash is dtype-sensitive (an int64 1 and a
    float64 1.0 hash differently), so a kind mismatch between engine and
    oracle is a hash failure even when values compare equal."""
    kinds = {}
    for c in df.columns:
        k = df[c].dtype.kind
        kinds[str(c)] = "i" if k in "iub" else ("f" if k == "f" else ("M" if k == "M" else "O"))
    return kinds


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out.columns = [str(c) for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime"):
            out[c] = out[c].astype("datetime64[us]").astype(str)
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif str(out[c].dtype).startswith("float"):
            out[c] = out[c].astype(float).round(6)
        elif str(out[c].dtype).startswith(("int", "uint", "bool")):
            out[c] = out[c].astype("int64")
    out = out.sort_values(list(out.columns)).reset_index(drop=True)
    return out


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from modin_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            mine = fn(spark, sf).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: engine raised {type(e).__name__}: {str(e)[:200]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: {len(mine)} rows (no oracle)")
            continue
        try:
            ref = con.execute(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle raised {str(e)[:200]}")
            continue
        ka, kb = dtype_kinds(mine), dtype_kinds(ref)
        kind_mismatch = {c: (ka[c], kb[c]) for c in ka if c in kb and ka[c] != kb[c]}
        a, b = normalize(mine), normalize(ref)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} != {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(a)} != {len(b)}")
            continue
        eq = True
        signflips = {}
        for c in a.columns:
            if a[c].dtype == float:
                av = a[c].fillna(-9e18).to_numpy()
                bv = b[c].fillna(-9e18).to_numpy()
                col_eq = np.allclose(av, bv, rtol=0, atol=1e-9)
                # the driver's value hash is SIGN-BIT sensitive: -0.0 vs
                # +0.0 compare equal everywhere except that hash (r13's
                # expanding_pair_cov red row). Flag bit-level sign flips on
                # equal values as failures here too.
                flip = (np.signbit(av) != np.signbit(bv)) & (av == bv)
                if col_eq and flip.any():
                    signflips[c] = int(flip.sum())
            else:
                col_eq = (a[c].fillna("␀") == b[c].fillna("␀")).all() if a[c].dtype == object else (
                    a[c].fillna(-9e18) == b[c].fillna(-9e18)
                ).all()
            if not col_eq:
                eq = False
                bad = (a[c] != b[c])
                print(f"      {name}.{c}: first diffs:\n{pd.concat([a[c][bad].head(3), b[c][bad].head(3)], axis=1)}")
        if eq and kind_mismatch:
            failures.append(name)
            print(f"FAIL  {name}: values equal but dtype kinds differ (driver hash would fail): {kind_mismatch}")
        elif eq and signflips:
            failures.append(name)
            print(f"FAIL  {name}: values equal but signed-zero flips (driver hash would fail): {signflips}")
        elif eq:
            print(f"OK    {name}: {len(a)} rows")
        else:
            failures.append(name)
            print(f"FAIL  {name}: value mismatch")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
