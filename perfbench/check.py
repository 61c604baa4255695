"""Correctness checks, run inside the benchmark command but outside the
timed passes.

Batch ops (``relational``, ``ordered_udf``) are compared with the DuckDB
oracle from ``__spark_entry__.oracle_sql()`` using the normalization and the
strictness of ``tools/check_entry.py``: same column names and row count,
order-insensitive values, floats within 1e-9, equal dtype kinds and no
signed-zero flips. Interactive results are compared with plain pandas on the
same parquet files.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd


def _check_entry():
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_entry

    return check_entry


# Oracle results that take DuckDB minutes, stored with the benchmark:
# <op>-sf<sf>-<sha1 of the SQL>.parquet, made by ``prepare`` and copied here.
# The key holds the SQL's hash, so an edited oracle query is run again.
SHIPPED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle")


def _digest(sql: str) -> str:
    return hashlib.sha1(sql.encode()).hexdigest()[:16]


def _oracle_path(data_dir: str, op: str, sql: str) -> str:
    shipped = os.path.join(SHIPPED, f"{op}-{os.path.basename(data_dir)}-{_digest(sql)}.parquet")
    if os.path.exists(shipped):
        return shipped
    return os.path.join(data_dir, "oracle", f"{op}-{_digest(sql)}.parquet")


def prepare(data_dir: str, sf: float, seed: int, ops) -> None:
    """Make the fixture data and the DuckDB oracle results of ``ops``
    unless they exist. Both are made once per checkout: the data never
    changes for a directory, and some oracles take minutes (see
    ``SHIPPED``). Results are keyed by a hash of their SQL."""
    import datagen

    datagen.ensure(data_dir, sf, seed)
    if not ops:
        return
    import duckdb
    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    todo = [op for op in ops if not os.path.exists(_oracle_path(data_dir, op, sqls[op]))]
    if not todo:
        return
    os.makedirs(os.path.join(data_dir, "oracle"), exist_ok=True)
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for op in todo:
            path = _oracle_path(data_dir, op, sqls[op])
            tmp = f"{path}.tmp{os.getpid()}"
            con.execute(sqls[op]).df().to_parquet(tmp)
            os.replace(tmp, path)
    finally:
        con.close()


def oracle_frames(data_dir: str, ops) -> dict[str, pd.DataFrame]:
    """The cached oracle results of ``ops`` (see ``prepare``)."""
    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    return {op: pd.read_parquet(_oracle_path(data_dir, op, sqls[op])) for op in ops}


def compare_oracle(mine: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """None when ``mine`` matches the oracle result, else the reason."""
    ce = _check_entry()
    ka, kb = ce.dtype_kinds(mine), ce.dtype_kinds(ref)
    kind_mismatch = {c: (ka[c], kb[c]) for c in ka if c in kb and ka[c] != kb[c]}
    a, b = ce.normalize(mine), ce.normalize(ref)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    signflips = {}
    for c in a.columns:
        if a[c].dtype == float:
            av = a[c].fillna(-9e18).to_numpy()
            bv = b[c].fillna(-9e18).to_numpy()
            if not np.allclose(av, bv, rtol=0, atol=1e-9):
                return f"value mismatch in {c}"
            flip = (np.signbit(av) != np.signbit(bv)) & (av == bv)
            if flip.any():
                signflips[c] = int(flip.sum())
        elif a[c].dtype == object:
            if not (a[c].fillna("␀") == b[c].fillna("␀")).all():
                return f"value mismatch in {c}"
        elif not (a[c].fillna(-9e18) == b[c].fillna(-9e18)).all():
            return f"value mismatch in {c}"
    if kind_mismatch:
        return f"dtype kinds differ: {kind_mismatch}"
    if signflips:
        return f"signed-zero flips: {signflips}"
    return None


def compare_pandas(mine, ref) -> str | None:
    """None when an interactive result equals the plain-pandas result:
    exact for labels, strings and integers, floats within a relative 1e-9
    (Spark and pandas add in different orders)."""
    try:
        if isinstance(ref, pd.DataFrame):
            pd.testing.assert_frame_equal(mine, ref, check_dtype=False, rtol=1e-9, atol=1e-9)
        elif isinstance(ref, pd.Series):
            pd.testing.assert_series_equal(mine, ref, check_dtype=False, rtol=1e-9, atol=1e-9)
        elif isinstance(ref, float):
            if not np.isclose(float(mine), ref, rtol=1e-9, atol=1e-9):
                return f"{mine!r} != {ref!r}"
        elif mine != ref:
            return f"{str(mine)[:200]!r} != {str(ref)[:200]!r}"
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    return None


if __name__ == "__main__":
    # python3 perfbench/check.py <data_dir> <sf> <seed> [op ...]
    sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
    prepare(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4:])
