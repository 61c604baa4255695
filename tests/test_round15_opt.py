"""Round-15 optimization internals: the mid-complete position fast path,
the transpose input cache, and the SQL literal result frames."""

import numpy as np
import pandas as pd
import pytest

import modin_spark.pandas as mpd
from modin_spark.plans import physical_plan
from modin_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def test_global_position_fast_path_matches_order():
    # fresh scan: ensure_order attaches mid -> order_mid_complete fast path
    df = mpd.read_parquet(f"{SF}/events.parquet")
    fr = df._frame.ensure_order()
    assert fr.order_mid_complete
    pos = fr.with_global_position("__tp__")
    # positions must be 0..n-1 and follow the stored ORDER values
    chk = pos.sdf.selectExpr("__tp__", "`__row_order__` as o").toPandas().sort_values("o")
    n = len(chk)
    assert (chk["__tp__"].to_numpy() == np.arange(n)).all()


def test_global_position_fast_path_cleared_by_filter():
    df = mpd.read_parquet(f"{SF}/events.parquet")
    fr = df._frame.ensure_order()
    vphys = fr.data_cols[list(fr.columns).index("value")]
    sub = fr._subset_rows(fr.sdf.where(f"{vphys} > 0"))
    assert not sub.order_mid_complete  # row subset: mid ids have gaps
    pos = sub.with_global_position("__tp__")  # slow path must still be exact
    rows = pos.sdf.select("__tp__").toPandas()
    assert sorted(rows["__tp__"]) == list(range(len(rows)))


def test_sorted_frame_fast_path_positions():
    df = mpd.read_parquet(f"{SF}/events.parquet").sort_values("value")
    fr = df._frame
    assert fr.order_mid_complete  # sort_by re-attaches mid over all rows
    pos = fr.with_global_position("__tp__")
    chk = pos.sdf.selectExpr("__tp__", "`__row_order__` as o").toPandas().sort_values("o")
    assert (chk["__tp__"].to_numpy() == np.arange(len(chk))).all()


def test_transpose_roundtrip_cached_input():
    li = mpd.read_parquet(f"{SF}/lineitem.parquet")
    g = li.groupby(["l_returnflag", "l_linestatus"]).agg(
        sq=("l_quantity", "sum"), ap=("l_extendedprice", "sum"))
    back = g.T.T.reset_index().to_pandas()
    pli = pd.read_parquet(f"{SF}/lineitem.parquet")
    pg = pli.groupby(["l_returnflag", "l_linestatus"]).agg(
        sq=("l_quantity", "sum"), ap=("l_extendedprice", "sum"))
    pback = pg.T.T.reset_index()
    a = back.sort_values(["l_returnflag", "l_linestatus"]).reset_index(drop=True)
    b = pback.sort_values(["l_returnflag", "l_linestatus"]).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert np.allclose(a["sq"].astype(float), b["sq"].astype(float))


def test_lit_df_round_trips_doubles_exactly():
    import __spark_entry__ as entry

    spark = get_spark()
    vals = [0.1, -1.5e-17, 12345678.900000001, float(np.nextafter(1.0, 2.0))]
    df = entry._lit_df(spark, "a double, b double, c double, d double", [tuple(vals)])
    row = df.collect()[0]
    assert [row[i] for i in range(4)] == vals
    sch = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert sch == {"a": "double", "b": "double", "c": "double", "d": "double"}
    df2 = entry._lit_df(spark, "n bigint, s string", [(7, "it's"), (None, None)])
    rows = sorted(df2.collect(), key=lambda r: (r["n"] is None, r["n"] or 0))
    assert rows[0]["n"] == 7 and rows[0]["s"] == "it's"
    assert rows[1]["n"] is None and rows[1]["s"] is None


def test_r_matches_duckdb_round_on_half_boundary():
    """_r must replay DuckDB's std::round(x*10^n)/10^n double rounding.

    8648.15/160 = 54.05093749999999630... exactly; the *1e6 multiply rounds
    the product up to ...7.5, so DuckDB ROUND(,6) emits 54.050938 while a
    direct HALF_UP of the exact binary value emits 54.050937 (the sf0.001
    expanding_stats row that flipped the oracle)."""
    import duckdb
    import __spark_entry__ as entry

    spark = get_spark()
    cases = [(8648.15, 160, 6), (62.70875, 1, 4), (-8648.15, 160, 6), (2.5, 1, 0)]
    for num, den, n in cases:
        x = num / den
        got = entry._r(mpd.Series([x]), n).to_pandas().iloc[0]
        want = duckdb.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), {n})").fetchone()[0]
        assert got == want, (x, n, got, want)
    # integer series keep their dtype (no silent int->double)
    s = entry._r(mpd.Series([3, 4]), 2)
    assert s.dtype.kind == "i"


def test_transpose_known_index_skips_header_collect(monkeypatch):
    # T.T: the second transpose must not run ANY Spark job during build —
    # the output index values are the first transpose's source column labels.
    # (Asserts PRODUCTION job counts: the opt-in order-audit mode runs an
    # extra job per positional derivation by design, so clear it here.)
    monkeypatch.delenv("MODIN_SPARK_DEBUG_ORDER", raising=False)
    spark = get_spark()
    st = spark.sparkContext.statusTracker()
    li = mpd.read_parquet(f"{SF}/lineitem.parquet")
    g = li.groupby("l_returnflag").agg(sq=("l_quantity", "sum"), ap=("l_extendedprice", "sum"))
    t = g.T
    assert getattr(t._frame, "_transpose_known_index", None) is not None
    spark.sparkContext.setJobGroup("tki", "second transpose build")
    t.T  # build only
    assert len(st.getJobIdsForGroup("tki")) == 0
    spark.sparkContext.setJobGroup("tki2", "post-op transpose build falls back")
    # any intervening op drops the annotation -> collect path (and >0 jobs)
    sub = t[[c for c in t.columns][:2]]
    assert getattr(sub._frame, "_transpose_known_index", None) is None


def test_mixed_transpose_rowwise_probe_retypes():
    # the fused row-wise probe must reproduce the old per-column coercion:
    # all-integral -> int64, numeric-with-fraction -> float64, else object
    pdf = pd.DataFrame({
        "i": [1, 2, 3],
        "f": [1.5, 2.0, -3.25],
        "s": ["a", "b", "c"],
        "b": [True, False, True],
        "n": [None, None, None],
    })
    t2 = mpd.DataFrame(pdf).T.T.to_pandas()
    assert t2["i"].dtype.kind == "i"
    assert t2["f"].dtype.kind == "f"
    assert t2["s"].dtype == object
    assert list(t2["i"]) == [1, 2, 3]
    assert list(t2["f"]) == [1.5, 2.0, -3.25]
    assert list(t2["s"]) == ["a", "b", "c"]
    assert list(t2["b"]) == ["True", "False", "True"]  # stringified bools (pandas str())


def test_repartition_by_shares_one_exchange_across_groupbys():
    # _repartition(by=k1) pre-clusters rows so consecutive groupbys keyed
    # (k1, k2) then (k1) run partition-local: exactly ONE hashpartitioning
    # exchange on the data path instead of two, with identical results.
    li = mpd.read_parquet(f"{SF}/lineitem.parquet")

    def agg(df):
        pairs = df.groupby(["l_orderkey", "l_suppkey"]).agg(q=("l_quantity", "sum")).reset_index()
        return pairs.groupby(["l_orderkey"]).agg(ns=("l_suppkey", "count"), tq=("q", "sum")).reset_index()

    base = agg(li).to_pandas().sort_values("l_orderkey").reset_index(drop=True)
    fast = agg(li._repartition(by="l_orderkey"))
    got = fast.to_pandas().sort_values("l_orderkey").reset_index(drop=True)
    pd.testing.assert_frame_equal(base, got)

    plan = physical_plan(fast._frame.sdf)
    slow_plan = physical_plan(agg(li)._frame.sdf)
    assert plan.count("Exchange hashpartitioning") == 1
    assert slow_plan.count("Exchange hashpartitioning") == 2


def test_repartition_preserves_order_and_validates_axis():
    df = mpd.read_parquet(f"{SF}/events.parquet")
    # row order (positional semantics) must survive the physical move
    pd.testing.assert_frame_equal(
        df._repartition(by="user_id").head(7).to_pandas(), df.head(7).to_pandas()
    )
    # reference-parity axis validation; by=None is a plan no-op
    with pytest.raises(ValueError):
        df._repartition(axis=2)
    pd.testing.assert_frame_equal(
        df._repartition().head(3).to_pandas(), df.head(3).to_pandas()
    )
