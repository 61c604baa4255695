"""Round-6 ADVICE/VERDICT fixes, each differential against pandas (the
reference defers these semantics to pandas itself — ref
/root/reference/modin/pandas/series.py dt/str accessors delegate, merge
suffix validation in pandas merge machinery).

1. dt.round half-up for ODD-microsecond freq multiples (ternary precedence).
2. parquet null-stats veto for columns missing from any file (schema evolution).
3. to_datetime(unit='ns') exact past 2^53 (decimal division, no double).
4. str.extract: flags reach the JVM regex; optional groups -> NaN not ''.
5. merge with suffixes=(None, None) + overlapping columns raises ValueError.
6. concat_rows order survives ORDER values > 2^53 (decimal order, no double).
"""

import re

import numpy as np
import pandas as pd
import pytest

import modin_spark.pandas as mpd
from modin_spark.plans import optimized_plan


def test_dt_round_odd_freq_rounds_up(spark):
    # 3us: values with remainder 2us (> 3//2) must round UP — the old
    # precedence bug froze `up` to False for every odd-µs freq.
    ts = pd.Series(pd.to_datetime([11, 2, 4, 5, 7, 8], unit="us"))
    got = mpd.from_pandas(ts.to_frame("t"))["t"].dt.round("3us").to_pandas()
    exp = ts.dt.round("3us")
    assert list(got) == list(exp)


def test_dt_round_even_freq_half_to_even_unchanged(spark):
    ts = pd.Series(pd.to_datetime(["2024-01-01 00:00:30", "2024-01-01 00:01:30",
                                   "2024-01-01 00:02:29", "2024-01-01 00:02:31"]))
    got = mpd.from_pandas(ts.to_frame("t"))["t"].dt.round("1min").to_pandas()
    exp = ts.dt.round("1min")
    assert list(got) == list(exp)


def test_parquet_nonnull_veto_on_schema_evolution(tmp_path, spark):
    # file A carries column `v` (all non-null); file B predates `v` entirely.
    # `v` must NOT be proven non-null for the directory: B's rows read as null.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from modin_spark.pandas.io import _parquet_nonnull_cols

    d = tmp_path / "evolved"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": [10, 20]}), d / "a.parquet")
    pq.write_table(pa.table({"k": [3, 4]}), d / "b.parquet")
    proven = _parquet_nonnull_cols(str(d))
    assert "k" in proven
    assert "v" not in proven


def test_to_datetime_ns_exact_past_2_53(spark):
    # 1.7e18 ns epochs: double division is off by up to ~1µs. Pick values
    # whose float64(ns)/1000 rounds to the WRONG microsecond.
    ns = [1_700_000_000_123_456_789, 1_700_000_000_123_457_001, 2**60 + 999]
    s = pd.Series(ns)
    got = mpd.to_datetime(mpd.from_pandas(s.to_frame("n"))["n"], unit="ns").to_pandas()
    exp = pd.to_datetime(s, unit="ns").dt.floor("us")
    assert list(got) == list(exp)


def test_str_extract_flags_ignorecase(spark):
    s = pd.Series(["Alpha-1", "BETA-2", "gamma-3", None])
    ms = mpd.from_pandas(s.to_frame("x"))["x"]
    got = ms.str.extract(r"([a-z]+)-(\d)", flags=re.IGNORECASE).to_pandas()
    exp = s.str.extract(r"([a-z]+)-(\d)", flags=re.IGNORECASE)
    for c in range(2):
        assert list(got.iloc[:, c].fillna("␀")) == list(exp.iloc[:, c].fillna("␀"))


def test_str_extract_optional_group_nan(spark):
    s = pd.Series(["ab", "a", "zzz"])
    ms = mpd.from_pandas(s.to_frame("x"))["x"]
    got = ms.str.extract(r"(a)(b)?").to_pandas()
    exp = s.str.extract(r"(a)(b)?")
    for c in range(2):
        assert list(got.iloc[:, c].fillna("␀")) == list(exp.iloc[:, c].fillna("␀"))
    # participating zero-width group keeps '' (pandas does too)
    got2 = ms.str.extract(r"(a)(b?)").to_pandas()
    exp2 = s.str.extract(r"(a)(b?)")
    for c in range(2):
        assert list(got2.iloc[:, c].fillna("␀")) == list(exp2.iloc[:, c].fillna("␀"))


def test_merge_no_suffix_overlap_raises(spark):
    l = mpd.from_pandas(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}))
    r = mpd.from_pandas(pd.DataFrame({"k": [1, 2], "v": [3.0, 4.0]}))
    with pytest.raises(ValueError, match="columns overlap"):
        l.merge(r, on="k", suffixes=(None, None))
    # sanity: pandas raises the same
    with pytest.raises(ValueError):
        pd.DataFrame({"k": [1], "v": [1.0]}).merge(
            pd.DataFrame({"k": [1], "v": [2.0]}), on="k", suffixes=(None, None)
        )


def test_concat_order_exact_past_2_53(spark):
    # Simulate monotonically_increasing_id values from >2^20 partitions:
    # adjacent ids past 2^53 collapse into ties under a double cast.
    from pyspark.sql import functions as F

    from modin_spark.core import compiler as qc
    from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names

    spark_s = spark
    base = 2**60
    ids = [base + i for i in range(8)]
    vals = list(range(8))
    p = fresh_names(1)[0]
    sdf = spark_s.createDataFrame(
        [(i, v) for i, v in zip(ids, vals)], schema=f"{ORDER_COL} long, {p} int"
    )
    fr = SparkFrame(sdf, pd.Index(["v"]), [p], [], [None])
    out = qc.concat_rows([fr, fr], ignore_index=True)
    rows = [r[0] for r in out.sdf.orderBy(ORDER_COL).select(out.data_cols[0]).collect()]
    assert rows == vals + vals, rows


def test_shallow_catalog_scan_node_walk(spark):
    # plain parquet-path scans are NOT catalog tables; catalog tables are;
    # anything with an aggregate/join/sort on top is deep.
    from pyspark.sql import functions as F

    from modin_spark.core.compiler import _shallow_catalog_scan

    path_scan = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    assert not _shallow_catalog_scan(path_scan)

    spark.sql("DROP TABLE IF EXISTS __r6_probe__")
    path_scan.write.saveAsTable("__r6_probe__")
    # the raw Spark write bypasses DataFrame.to_table, the documented
    # invalidation point of the r7 session-level catalog memo — refresh it
    # like to_table would (a stale memo is perf-only: the merge falls back
    # to the single eqNullSafe join, same results)
    from modin_spark.core.compiler import invalidate_catalog_memo

    invalidate_catalog_memo()
    try:
        cat = spark.table("__r6_probe__")
        assert _shallow_catalog_scan(cat)
        assert _shallow_catalog_scan(cat.where(F.col("n_nationkey") > 3).select("n_name"))
        assert not _shallow_catalog_scan(cat.groupBy("n_regionkey").count())
        assert not _shallow_catalog_scan(cat.orderBy("n_name"))
        assert not _shallow_catalog_scan(cat.join(cat.select("n_nationkey"), "n_nationkey"))
    finally:
        spark.sql("DROP TABLE IF EXISTS __r6_probe__")
        invalidate_catalog_memo()


# ---------------------------------------------------------------------------
# mixed-dtype distributed transpose (r6: stringified melt + retype probe)
# ---------------------------------------------------------------------------


def test_transpose_mixed_distributed_values(spark):
    pdf = pd.DataFrame(
        {"a": [1, 2, 3], "s": ["x", "y", "z"], "f": [1.5, 2.5, np.nan]},
        index=pd.Index(["p", "q", "r"]),
    )
    t = mpd.from_pandas(pdf).T
    got = t.to_pandas()
    assert list(got.index) == ["a", "s", "f"]
    assert list(got.columns) == ["p", "q", "r"]
    # every transposed column is mixed -> string; numbers stringified
    assert got.loc["a", "p"] == "1"
    assert got.loc["s", "q"] == "y"
    assert got.loc["f", "p"] == "1.5"
    assert got.loc["f", "r"] is None or got.loc["f", "r"] != got.loc["f", "r"]


def test_transpose_mixed_retype_bigint_and_double(spark):
    # numeric-parsable strings: the retype probe resolves bigint / double
    pdf = pd.DataFrame(
        {"n": [7, 8], "ns": ["70", "80"], "fs": ["7.5", "8.5"]},
        index=pd.Index(["u", "v"]),
    )
    t = mpd.from_pandas(pdf).T
    got = t.to_pandas()
    assert got["u"].tolist() == [7, 70, 7.5]
    assert got["v"].tolist() == [8, 80, 8.5]
    import numpy as _np

    assert got["u"].dtype.kind in "fO" or _np.issubdtype(got["u"].dtype, _np.number)


def test_transpose_mixed_no_driver_materialization(spark):
    # the plan of the transposed frame must NOT be a LocalRelation /
    # parallelized driver collect — it must still read the source
    pdf = pd.DataFrame({"a": list(range(50)), "s": [f"v{i}" for i in range(50)]})
    t = mpd.from_pandas(pdf).T
    plan = optimized_plan(t._frame.sdf)
    assert "Expand" in plan or "Generate" in plan or "Aggregate" in plan, plan


def test_transpose_guard_env(spark, monkeypatch):
    from modin_spark.pandas import dataframe as _dataframe

    monkeypatch.setattr(_dataframe, "TRANSPOSE_MAX_COLS", 3)
    pdf = pd.DataFrame({"a": [1.0, 2, 3, 4, 5], "b": [5.0, 6, 7, 8, 9]})
    got = mpd.from_pandas(pdf).T.to_pandas()  # over guard -> driver path
    assert got.shape == (2, 5)


# ---------------------------------------------------------------------------
# distributed non-numeric apply(axis=0) (r6: typed melt + rebuild in task)
# ---------------------------------------------------------------------------

_MIX = pd.DataFrame(
    {
        "a": [1, 2, 3, 4],
        "s": ["xx", "y", "zzz", "w"],
        "f": [1.5, 2.5, np.nan, 4.0],
        "b": [True, False, True, False],
        "t": pd.date_range("2024-01-01", periods=4, freq="D"),
    }
)


def test_apply_axis0_mixed_transform(spark):
    fn = lambda s: s.str.upper() if s.dtype == object else (
        s * 2 if s.dtype.kind in "if" else s
    )
    got = mpd.from_pandas(_MIX).apply(fn, axis=0).to_pandas()
    exp = _MIX.apply(fn, axis=0)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_apply_axis0_mixed_reduction(spark):
    red = lambda s: s.str.len().sum() if s.dtype == object else (
        s.sum() if s.dtype.kind in "ifb" else s.max()
    )
    got = mpd.from_pandas(_MIX).apply(red, axis=0)
    exp = _MIX.apply(red, axis=0)
    assert dict(got) == dict(exp)


def test_apply_axis0_strings_no_driver_warning(spark):
    # the non-numeric path must NOT hit the default_to_pandas escape hatch
    import warnings as w

    fn = lambda s: s.str.upper() if s.dtype == object else s
    with w.catch_warnings():
        w.simplefilter("error")  # any fallback warning -> test failure
        got = mpd.from_pandas(_MIX[["s", "a"]]).apply(fn, axis=0).to_pandas()
    assert got["s"].tolist() == ["XX", "Y", "ZZZ", "W"]
