"""Order-dependent ops: cumulative, shift/diff, rolling/expanding, rank, ffill."""

import numpy as np
import pandas as pd
import pytest

from tests.conftest import assert_df_equal, assert_series_equal


@pytest.mark.parametrize("op", ["cumsum", "cummax", "cummin", "cumprod"])
def test_cum_ops(mdf, pdf, op):
    got = getattr(mdf.b, op)()
    ref = getattr(pdf.b, op)()
    assert_series_equal(got, ref)


def test_cum_skipna(mdf, pdf):
    assert_series_equal(mdf.c.cumsum(), pdf.c.cumsum())


@pytest.mark.parametrize("p", [1, 3, -2])
def test_shift(mdf, pdf, p):
    assert_series_equal(mdf.a.shift(p).astype("float64"), pdf.a.shift(p))


def test_diff_pct_change(mdf, pdf):
    assert_series_equal(mdf.b.diff(), pdf.b.diff())
    assert_series_equal(mdf.b.pct_change(), pdf.b.pct_change())


@pytest.mark.parametrize("agg", ["sum", "mean", "min", "max", "std"])
def test_rolling(mdf, pdf, agg):
    got = getattr(mdf.b.rolling(5), agg)()
    ref = getattr(pdf.b.rolling(5), agg)()
    assert_series_equal(got, ref)


def test_rolling_min_periods(mdf, pdf):
    assert_series_equal(mdf.c.rolling(5, min_periods=2).mean(), pdf.c.rolling(5, min_periods=2).mean())


@pytest.mark.parametrize("agg", ["sum", "mean", "min", "max", "count", "std"])
def test_expanding(mdf, pdf, agg):
    got = getattr(mdf.b.expanding(), agg)()
    ref = getattr(pdf.b.expanding(), agg)()
    if agg == "count":
        got = got.astype("float64")
    assert_series_equal(got, ref)


def test_expanding_agg_list(mdf, pdf):
    """Series.expanding().agg([...]) — one block pass, pandas column names."""
    got = mdf.b.expanding().agg(["sum", "count"]).to_pandas()
    ref = pdf.b.expanding().agg(["sum", "count"])
    assert list(got.columns) == ["sum", "count"]
    np.testing.assert_allclose(got["sum"].to_numpy(), ref["sum"].to_numpy())
    np.testing.assert_allclose(got["count"].to_numpy(), ref["count"].to_numpy())


@pytest.mark.parametrize("method", ["average", "min", "max", "first"])
def test_rank(mdf, pdf, method):
    assert_series_equal(mdf.a.rank(method=method), pdf.a.rank(method=method))


def test_rank_desc_pct(mdf, pdf):
    assert_series_equal(mdf.a.rank(method="min", ascending=False), pdf.a.rank(method="min", ascending=False))
    assert_series_equal(mdf.a.rank(method="min", pct=True), pdf.a.rank(method="min", pct=True))


def test_rank_nan(mdf, pdf):
    assert_series_equal(mdf.c.rank(method="average"), pdf.c.rank(method="average"))


def test_ffill_bfill(mdf, pdf):
    assert_series_equal(mdf.c.ffill(), pdf.c.ffill())
    assert_series_equal(mdf.c.bfill(), pdf.c.bfill())


def test_groupby_rolling(mdf, pdf):
    # round 10: pandas-exact shape — (key, original label) MultiIndex in
    # group-major order, Series out for the series-groupby form
    got = mdf.groupby("k")["b"].rolling(3).mean().to_pandas()
    ref = pdf.groupby("k")["b"].rolling(3).mean()
    assert got.index.tolist() == ref.index.tolist()
    np.testing.assert_allclose(got.values, ref.values, rtol=1e-9, equal_nan=True)


def _arange():
    return pd.DataFrame({"v": np.arange(100, dtype="float64")})


def _carry_input():
    """100 rows over 16-row blocks: NaN runs that cross block edges (13-19,
    46-50, 78-81), a lone NaN at an edge (32), a NaN-free tail."""
    rng = np.random.default_rng(7)
    v = rng.normal(3.0, 2.0, 100)
    for lo, hi in ((13, 20), (32, 33), (46, 51), (78, 82)):
        v[lo:hi] = np.nan
    w = rng.normal(-1.0, 0.5, 100)
    w[[5, 15, 16, 17, 60]] = np.nan
    return pd.DataFrame({"v": v, "w": w})


def _short_input():
    return _carry_input().iloc[:60]


def _null_first_block():
    """The whole first block (and then some) is NaN: its carry is null."""
    v = np.arange(100, dtype="float64")
    v[:20] = np.nan
    v[40:43] = np.nan
    return pd.DataFrame({"v": v, "w": np.cos(np.arange(100.0))})


_BLOCK_CASES = {
    "cumsum": (_arange, lambda d: d.v.cumsum()),
    "rolling7_sum": (_arange, lambda d: d.v.rolling(7).sum()),
    "expanding_mean": (_arange, lambda d: d.v.expanding().mean()),
    "ffill": (_arange, lambda d: d.v.ffill()),
    "bfill": (_carry_input, lambda d: d.v.bfill()),
    "ffill_limit2": (_carry_input, lambda d: d.v.ffill(limit=2)),
    "bfill_limit2": (_carry_input, lambda d: d.v.bfill(limit=2)),
    "frame_ffill_bfill": (_carry_input, lambda d: d.ffill(limit=2).bfill()),
    "null_block_ffill": (_null_first_block, lambda d: d.v.ffill()),
    "null_block_bfill_limit": (_null_first_block, lambda d: d.v.bfill(limit=2)),
    "null_block_cumsum": (_null_first_block, lambda d: d.v.cumsum()),
    "null_block_cummax": (_null_first_block, lambda d: d.v.cummax()),
    "null_block_expanding_mean": (
        _null_first_block, lambda d: d.v.expanding(min_periods=3).mean()),
    "cumprod": (_carry_input, lambda d: (1.0 + d.w / 50.0).cumprod()),
    "cummax": (_carry_input, lambda d: d.v.cummax()),
    "cummin": (_carry_input, lambda d: d.v.cummin()),
    "bool_cumsum": (_carry_input, lambda d: (d.w > -1.0).cumsum()),
    **{f"expanding_{agg}": (_carry_input,
                            lambda d, agg=agg: getattr(d.v.expanding(min_periods=3), agg)())
       for agg in ("var", "std", "skew", "kurt", "min", "max", "count")},
    "expanding_corr_pair": (_carry_input, lambda d: d.v.expanding(min_periods=3).corr(d.w)),
    "expanding_cov_pair": (_carry_input, lambda d: d.v.expanding(min_periods=3).cov(d.w)),
    "expanding_corr_pairwise": (_carry_input, lambda d: d.expanding(min_periods=3).corr()),
    "expanding_cov_pairwise": (_carry_input, lambda d: d.expanding(min_periods=3).cov()),
    **{f"interpolate_{ld}": (_carry_input,
                             lambda d, ld=ld: d.interpolate(limit_direction=ld))
       for ld in ("forward", "backward", "both")},
    **{f"interpolate_{ld}_limit2": (_carry_input,
                                    lambda d, ld=ld: d.interpolate(limit=2, limit_direction=ld))
       for ld in ("forward", "backward", "both")},
    "interpolate_null_block_both": (
        _null_first_block, lambda d: d.interpolate(limit_direction="both")),
    "interpolate_inside": (_carry_input, lambda d: d.interpolate(limit_area="inside")),
    "interpolate_outside_both": (
        _null_first_block, lambda d: d.interpolate(limit_direction="both", limit_area="outside")),
    # halos: neighbour rows copied across block edges (back, forward, both)
    "shift3": (_carry_input, lambda d: d.v.shift(3)),
    "shift_neg3": (_carry_input, lambda d: d.v.shift(-3)),
    "diff2": (_carry_input, lambda d: d.v.diff(2)),
    "rolling_center_mean": (
        _carry_input, lambda d: d.v.rolling(5, center=True, min_periods=1).mean()),
    **{f"rolling_closed_{c}_sum": (
        _carry_input, lambda d, c=c: d.v.rolling(4, closed=c, min_periods=1).sum())
       for c in ("left", "both")},
    "rolling_apply_nanmedian": (
        _carry_input, lambda d: d.v.rolling(5, min_periods=2).apply(np.nanmedian, raw=True)),
    # pandas needs scipy for win_type: the reference uses the closed-form
    # triang weights [0.5, 1, 0.5]
    "rolling_triang_sum": (
        _carry_input, lambda d: d.v.rolling(3, win_type="triang").sum(),
        lambda d: d.v.rolling(3).apply(lambda x: np.dot([0.5, 1.0, 0.5], x), raw=True)),
    "rolling_corr_pair": (_carry_input, lambda d: d.v.rolling(5, min_periods=3).corr(d.w)),
    "rolling_cov_pairwise": (_carry_input, lambda d: d.rolling(5, min_periods=3).cov()),
    "rolling_rank": (_carry_input, lambda d: d.v.rolling(5).rank()),
    "rolling_rank_center": (_carry_input, lambda d: d.v.rolling(5, center=True).rank()),
    # ewm: a decay halo of ~190 rows spans about 12 blocks
    "ewm_mean": (_carry_input, lambda d: d.v.ewm(span=9).mean()),
    "ewm_corr_pair": (_carry_input, lambda d: d.v.ewm(span=5).corr(d.w)),
    "ewm_times_mean": (_carry_input, lambda d: d.v.ewm(
        halflife="3 days", times=pd.Timestamp("2024-01-01") + pd.to_timedelta(
            np.arange(100) + np.arange(100) % 3, unit="D")).mean()),
    # whole-prefix halo: <= 4 blocks keeps expanding order statistics on
    # the blocked pandas path (wider frames take the bucketed one)
    "expanding_median": (_short_input, lambda d: d.v.expanding().median()),
    "expanding_quantile90": (_short_input, lambda d: d.v.expanding().quantile(0.9)),
}


@pytest.mark.parametrize("case", list(_BLOCK_CASES))
def test_block_boundary_correctness(spark, case):
    """Rolling halos and block carries (prefix over per-block totals,
    forward and backward) across many 16-row blocks, against pandas on the
    same input."""
    import modin_spark.pandas as mpd
    from modin_spark.core import windows

    make, op, *ref_op = _BLOCK_CASES[case]
    p = make()
    old = windows.BLOCK
    windows.BLOCK = 16  # force many blocks
    try:
        got, ref = op(mpd.from_pandas(p)), (ref_op[0] if ref_op else op)(p)
        if isinstance(ref, pd.DataFrame):
            got = got.to_pandas()
            if isinstance(ref.index, pd.MultiIndex):  # pairwise: (row, column)
                assert got.index.tolist() == ref.index.tolist()
            assert_df_equal(got, ref)
        else:
            assert_series_equal(got, ref)
    finally:
        windows.BLOCK = old


def test_resample_ffill_asfreq(spark):
    import modin_spark.pandas as mpd

    p = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:10", "2024-01-01 02:30", "2024-01-01 03:10"]
            ),
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    m = mpd.from_pandas(p)
    got = m.resample("1h", on="ts").ffill().reset_index().to_pandas().sort_values("ts").reset_index(drop=True)
    ref = p.set_index("ts").resample("1h").ffill().reset_index()
    np.testing.assert_allclose(got["v"].values, ref["v"].values, equal_nan=True)
    af = m.resample("1h", on="ts").asfreq().reset_index().to_pandas().sort_values("ts").reset_index(drop=True)
    refa = p.set_index("ts").resample("1h").asfreq().reset_index()
    np.testing.assert_allclose(af["v"].values, refa["v"].values, equal_nan=True)


def test_rolling_quantile_apply(mdf, pdf):
    gq = mdf["b"].rolling(5).quantile(0.25).to_pandas()
    rq = pdf["b"].rolling(5).quantile(0.25)
    np.testing.assert_allclose(gq.values, rq.values, rtol=1e-9, equal_nan=True)
    ga = mdf["b"].rolling(4).apply(np.median).to_pandas()
    ra = pdf["b"].rolling(4).apply(np.median)
    np.testing.assert_allclose(ga.values, ra.values, rtol=1e-9, equal_nan=True)


def test_concat_axis1(spark):
    import modin_spark.pandas as mpd

    a = pd.DataFrame({"x": [1.0, 2.0, 3.0]})
    b = pd.DataFrame({"y": [9.0, 8.0, 7.0], "z": ["u", "v", "w"]})
    got = mpd.concat([mpd.from_pandas(a), mpd.from_pandas(b)], axis=1).to_pandas()
    ref = pd.concat([a, b], axis=1)
    assert list(got.columns) == list(ref.columns)
    np.testing.assert_allclose(got["x"].values, ref["x"].values)
    assert got["z"].tolist() == ref["z"].tolist()


def test_concat_axis1_on_index(spark):
    import modin_spark.pandas as mpd

    a = pd.DataFrame({"k": [1, 2, 3], "x": [1.0, 2.0, 3.0]})
    b = pd.DataFrame({"k": [2, 3, 4], "y": [9.0, 8.0, 7.0]})
    got = (
        mpd.concat([mpd.from_pandas(a).set_index("k"), mpd.from_pandas(b).set_index("k")], axis=1)
        .reset_index().to_pandas().sort_values("k").reset_index(drop=True)
    )
    ref = pd.concat([a.set_index("k"), b.set_index("k")], axis=1).reset_index()
    assert list(got.columns) == list(ref.columns)
    np.testing.assert_allclose(got["x"].values, ref["x"].values, equal_nan=True)
    np.testing.assert_allclose(got["y"].values, ref["y"].values, equal_nan=True)


def test_shift_fill_value_preserves_nans(mdf, pdf):
    # fill_value fills only the vacated head positions; NaNs already in the
    # column stay NaN after shifting into range
    got = mdf.c.shift(2, fill_value=-1.0).to_pandas()
    ref = pdf.c.shift(2, fill_value=-1.0)
    np.testing.assert_allclose(got.values, ref.values, equal_nan=True)


@pytest.mark.parametrize("agg", ["sem", "skew", "kurt"])
def test_expanding_algebraic_tail(mdf, pdf, agg):
    got = getattr(mdf.b.expanding(min_periods=1), agg)()
    ref = getattr(pdf.b.expanding(min_periods=1), agg)()
    assert_series_equal(got, ref)


@pytest.mark.parametrize("agg", ["median", "rank"])
def test_expanding_order_tail(mdf, pdf, agg):
    got = getattr(mdf.b.expanding(min_periods=1), agg)()
    ref = getattr(pdf.b.expanding(min_periods=1), agg)()
    assert_series_equal(got, ref)


def test_expanding_quantile_apply(mdf, pdf):
    got = mdf.b.expanding(min_periods=2).quantile(0.9)
    ref = pdf.b.expanding(min_periods=2).quantile(0.9)
    assert_series_equal(got, ref)
    got = mdf.b.expanding(min_periods=2).apply(np.nanmean)
    ref = pdf.b.expanding(min_periods=2).apply(np.nanmean, raw=True)
    assert_series_equal(got, ref)


def test_expanding_whole_prefix_build_counts_rows_once(spark):
    # the whole-prefix path's only build action is the row count, which
    # also gives the halo's last block (no second max-block collect)
    import modin_spark.pandas as mpd

    p = pd.Series(np.random.default_rng(1).random(1000))
    s = mpd.Series(p)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("idle", "idle")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, count_jobs = jobs("expanding-count", lambda: s._frame.count_rows())
    got, median_jobs = jobs("expanding-median", lambda: s.expanding().median())
    assert median_jobs == count_jobs, (median_jobs, count_jobs)
    assert_series_equal(got, p.expanding().median())


@pytest.mark.parametrize("stat", ["corr", "cov"])
def test_expanding_pair(mdf, pdf, stat):
    got = getattr(mdf.b.expanding(min_periods=2), stat)(mdf.a)
    ref = getattr(pdf.b.expanding(min_periods=2), stat)(pdf.a.astype("float64"))
    assert_series_equal(got, ref)


@pytest.mark.parametrize("stat", ["corr", "cov"])
def test_rolling_pair(mdf, pdf, stat):
    got = getattr(mdf.b.rolling(7), stat)(mdf.a)
    ref = getattr(pdf.b.rolling(7), stat)(pdf.a.astype("float64"))
    assert_series_equal(got, ref)


def test_rolling_rank(mdf, pdf):
    got = mdf.b.rolling(5).rank()
    ref = pdf.b.rolling(5).rank()
    assert_series_equal(got, ref)


@pytest.mark.parametrize("agg", ["sem", "skew", "kurt", "median"])
def test_rolling_stat_tail(mdf, pdf, agg):
    got = getattr(mdf.b.rolling(6, min_periods=4), agg)()
    ref = getattr(pdf.b.rolling(6, min_periods=4), agg)()
    assert_series_equal(got, ref)


def test_rank_multicolumn_frame(mdf, pdf):
    # whole-frame rank: all numeric columns batched through one sort per dtype
    got = mdf[["a", "b", "c"]].rank().to_pandas()
    ref = pdf[["a", "b", "c"]].rank()
    for c in ["a", "b", "c"]:
        np.testing.assert_allclose(got[c].values, ref[c].values, equal_nan=True)


def test_rank_multicolumn_pct(mdf, pdf):
    got = mdf[["a", "b"]].rank(method="max", pct=True).to_pandas()
    ref = pdf[["a", "b"]].rank(method="max", pct=True)
    for c in ["a", "b"]:
        np.testing.assert_allclose(got[c].values, ref[c].values, equal_nan=True)


@pytest.mark.parametrize("wt,kw", [("triang", {}), ("hamming", {}), ("gaussian", {"std": 2.0})])
def test_rolling_win_type(mdf, pdf, wt, kw):
    from modin_spark.core.windows import window_weights

    w = 5
    weights = window_weights(wt, w, **kw)
    got = mdf.b.rolling(w, win_type=wt, **kw).mean().to_pandas()
    x = pdf.b.to_numpy()
    ref = np.full(len(x), np.nan)
    for t in range(w - 1, len(x)):
        ref[t] = np.dot(weights, x[t - w + 1:t + 1]) / weights.sum()
    np.testing.assert_allclose(got.values, ref, equal_nan=True, rtol=1e-9)
    got_s = mdf.b.rolling(w, win_type=wt, **kw).sum().to_pandas()
    refs = ref * weights.sum()
    np.testing.assert_allclose(got_s.values, refs, equal_nan=True, rtol=1e-9)


@pytest.mark.parametrize("method", ["mean", "std", "var"])
def test_ewm(mdf, pdf, method):
    got = getattr(mdf.b.ewm(span=5), method)()
    ref = getattr(pdf.b.ewm(span=5), method)()
    assert_series_equal(got, ref)


def test_ewm_alpha_nan(mdf, pdf):
    got = mdf.c.ewm(alpha=0.3, min_periods=2).mean()
    ref = pdf.c.ewm(alpha=0.3, min_periods=2).mean()
    assert_series_equal(got, ref)


def test_ewm_block_boundary(spark):
    """EWM across block boundaries: the decay-halo must carry enough history."""
    import modin_spark.pandas as mpd
    from modin_spark.core import windows

    old = windows.BLOCK
    windows.BLOCK = 64
    try:
        p = pd.DataFrame({"v": np.sin(np.arange(500) * 0.37) * 10})
        m = mpd.from_pandas(p)
        got = m.v.ewm(span=9).mean().to_pandas()
        ref = p.v.ewm(span=9).mean()
        np.testing.assert_allclose(got.values, ref.values, rtol=1e-9)
    finally:
        windows.BLOCK = old


def test_rolling_center(spark):
    """center=True == trailing window shifted by (w-1)//2 — one extra shift
    on the block+halo machinery, no new window shape."""
    import numpy as np

    import modin_spark.pandas as mpd

    ev = mpd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pv = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    for w in [3, 4, 7]:
        a = ev["value"].rolling(w, center=True).mean().to_pandas()
        b = pv["value"].rolling(w, center=True).mean()
        assert np.allclose(a.fillna(-1).values, b.fillna(-1).values, rtol=1e-9)
    af = ev[["value", "user_id"]].rolling(5, center=True).sum().to_pandas()
    bf = pv[["value", "user_id"]].rolling(5, center=True).sum()
    assert np.allclose(af.fillna(-1).values, bf.fillna(-1).values, rtol=1e-9)


def test_rolling_time_offset_windows(spark):
    """rolling("10min") on a DatetimeIndex — bucketized self-join plan,
    values match pandas exactly, row-aligned."""
    import numpy as np

    import modin_spark.pandas as mpd

    ev = mpd.read_parquet("/root/testdata/sf0.001/events.parquet").sort_values("ts").set_index("ts")
    pv = pd.read_parquet("/root/testdata/sf0.001/events.parquet").sort_values("ts").set_index("ts")
    for agg in ["sum", "mean", "count", "max", "std"]:
        a = getattr(ev["value"].rolling("10min"), agg)().to_pandas()
        b = getattr(pv["value"].rolling("10min"), agg)()
        assert np.allclose(a.fillna(-9).values, b.fillna(-9).values, rtol=1e-9), agg


def test_rolling_time_no_single_partition(spark):
    from modin_spark import plans

    import modin_spark.pandas as mpd

    ev = mpd.read_parquet("/root/testdata/sf0.001/events.parquet").sort_values("ts").set_index("ts")
    out = ev["value"].rolling("10min").sum()
    fr = out._to_frame("__v__")
    assert plans.unsafe_single_partition_exchanges(fr.sdf) == 0, plans.physical_plan(fr.sdf)


_NAMED_OPS = {
    "rolling_sum": lambda s: s.rolling(3).sum(),
    "rolling_step_sum": lambda s: s.rolling(3, step=2).sum(),
    "rolling_quantile": lambda s: s.rolling(3).quantile(0.5),
    "rolling_apply": lambda s: s.rolling(3).apply(np.sum, raw=True),
    "rolling_rank": lambda s: s.rolling(3).rank(),
    "rolling_triang_mean": lambda s: s.rolling(3, win_type="triang").mean(),
    "rolling_corr_self": lambda s: s.rolling(3).corr(),
    "expanding_mean": lambda s: s.expanding().mean(),
    "expanding_median": lambda s: s.expanding().median(),
    "expanding_rank": lambda s: s.expanding().rank(),
    "ewm_mean": lambda s: s.ewm(span=3).mean(),
    "ewm_corr_self": lambda s: s.ewm(span=3).corr(),
}


@pytest.mark.parametrize("name", [None, "v"])
def test_window_result_keeps_series_name(spark, name):
    """Window ops on a Series return the source's name, None included: the
    one-column frame they run on must not leak its placeholder label."""
    import modin_spark.pandas as mpd

    m = mpd.Series(pd.Series(np.arange(40.0) % 7, name=name))
    names = {k: op(m).name for k, op in _NAMED_OPS.items()}
    assert {k: n for k, n in names.items() if n != name} == {}
