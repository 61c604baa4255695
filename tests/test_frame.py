"""Frame basics: roundtrip, selection, mutation, order, index."""

import numpy as np
import pandas as pd
import pytest

from tests.conftest import assert_df_equal, assert_series_equal


def test_roundtrip(mdf, pdf):
    assert_df_equal(mdf, pdf)


def test_dtypes(mdf, pdf):
    assert mdf.dtypes["a"] == "int64"
    assert mdf.dtypes["b"] == "float64"
    assert mdf.dtypes["k"] == "object"
    assert str(mdf.dtypes["t"]).startswith("datetime64")


def test_shape_len(mdf, pdf):
    assert mdf.shape == pdf.shape
    assert len(mdf) == len(pdf)


def test_getitem_column(mdf, pdf):
    assert_series_equal(mdf["a"], pdf["a"])
    assert_series_equal(mdf.b, pdf.b)


def test_getitem_list(mdf, pdf):
    assert_df_equal(mdf[["k", "a"]], pdf[["k", "a"]])


def test_mask_filter(mdf, pdf):
    assert_df_equal(mdf[mdf.a > 50], pdf[pdf.a > 50])


def test_compound_mask(mdf, pdf):
    assert_df_equal(mdf[(mdf.a > 20) & (mdf.b < 80)], pdf[(pdf.a > 20) & (pdf.b < 80)])
    assert_df_equal(mdf[(mdf.a > 90) | (mdf.b < 5)], pdf[(pdf.a > 90) | (pdf.b < 5)])


def test_mask_on_nan_col(mdf, pdf):
    # NaN comparisons are False in pandas; NULL-dropped in Spark — same rows
    assert_df_equal(mdf[mdf.c > 5], pdf[pdf.c > 5])
    assert_df_equal(mdf[~(mdf.c > 5)], pdf[~(pdf.c > 5)])


def test_setitem_expression(mdf, pdf):
    pdf = pdf.copy()
    mdf["d"] = mdf.a * 2 + mdf.b
    pdf["d"] = pdf.a * 2 + pdf.b
    assert_df_equal(mdf, pdf)


def test_setitem_scalar(mdf, pdf):
    pdf = pdf.copy()
    mdf["z"] = 7
    pdf["z"] = 7
    assert_df_equal(mdf, pdf)


def test_setitem_replace_existing(mdf, pdf):
    pdf = pdf.copy()
    mdf["a"] = mdf.a + 1
    pdf["a"] = pdf.a + 1
    assert_df_equal(mdf, pdf)


def test_stale_mask_rebase(mdf, pdf):
    mask_m = mdf.a > 50
    mask_p = pdf.a > 50
    mdf["extra"] = 1
    pdf = pdf.copy()
    pdf["extra"] = 1
    assert_df_equal(mdf[mask_m], pdf[mask_p])


def test_head_tail(mdf, pdf):
    assert_df_equal(mdf.head(7), pdf.head(7))
    assert_df_equal(mdf.tail(7), pdf.tail(7))
    assert_df_equal(mdf.head(-190), pdf.head(-190))


def test_head_tail_keep_overlay_dtypes(spark):
    """The categorical and nullable-extension dtypes ride the wrapper, not
    Spark storage; a row slice keeps them."""
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({
        "c": pd.Categorical(["x", "y", "x"], categories=["x", "y", "z"]),
        "n": pd.array([1, None, 3], dtype="Int64"),
    })
    m = mpd.from_pandas(pdf)
    for got, exp in ((m.head(2), pdf.head(2)), (m.tail(2), pdf.tail(2))):
        pd.testing.assert_frame_equal(got.to_pandas().reset_index(drop=True),
                                      exp.reset_index(drop=True))


def test_iloc_slice(mdf, pdf):
    assert_df_equal(mdf.iloc[10:20], pdf.iloc[10:20])
    assert_df_equal(mdf.iloc[5:50:5], pdf.iloc[5:50:5])


def test_iloc_row(mdf, pdf):
    assert mdf.iloc[3]["a"] == pdf.iloc[3]["a"]


def test_sort_values(mdf, pdf):
    # include unique tiebreak column for determinism
    m = mdf.sort_values(["k", "a", "b"]).to_pandas()
    p = pdf.sort_values(["k", "a", "b"], kind="stable").reset_index(drop=True)
    assert_df_equal(m, p)


def test_sort_desc_nulls(mdf, pdf):
    m = mdf.sort_values(["c", "b"], ascending=False).to_pandas()
    p = pdf.sort_values(["c", "b"], ascending=False, kind="stable").reset_index(drop=True)
    assert_df_equal(m, p)


def test_rename_drop(mdf, pdf):
    assert_df_equal(mdf.rename(columns={"a": "A"}), pdf.rename(columns={"a": "A"}))
    assert_df_equal(mdf.drop(columns=["s", "t"]), pdf.drop(columns=["s", "t"]))


def test_astype(mdf, pdf):
    assert_df_equal(mdf.astype({"a": "float64"})[["a"]], pdf.astype({"a": "float64"})[["a"]])


def test_set_reset_index(mdf, pdf):
    m = mdf.set_index("k").reset_index()
    p = pdf.set_index("k").reset_index()
    assert_df_equal(m, p)


def test_assign(mdf, pdf):
    assert_df_equal(
        mdf.assign(d=lambda d: d.a + 1)[["a", "d"]], pdf.assign(d=lambda d: d.a + 1)[["a", "d"]]
    )


def test_insert(mdf, pdf):
    pdf = pdf.copy()
    mdf.insert(1, "ins", 5)
    pdf.insert(1, "ins", 5)
    assert_df_equal(mdf, pdf)


def test_query(mdf, pdf):
    assert_df_equal(mdf.query("a > 50 and b < 50"), pdf.query("a > 50 and b < 50"))


def test_nlargest_nsmallest(mdf, pdf):
    assert_df_equal(mdf.nlargest(5, "b"), pdf.nlargest(5, "b"))
    assert_df_equal(mdf.nsmallest(5, "b"), pdf.nsmallest(5, "b"))


def test_sample_deterministic(mdf):
    a = mdf.sample(frac=0.2, random_state=7).to_pandas()
    b = mdf.sample(frac=0.2, random_state=7).to_pandas()
    pd.testing.assert_frame_equal(a, b)


def test_duplicate_labels(spark):
    import modin_spark.pandas as mpd

    p = pd.DataFrame([[1, 2], [3, 4]], columns=["x", "x"])
    m = mpd.from_pandas(p)
    assert list(m.columns) == ["x", "x"]
    out = m.to_pandas()
    assert out.shape == (2, 2)


def test_frame_value_counts(mdf, pdf):
    # returns an ENGINE Series now (round 10) — distributed, no driver
    # materialization; pandas wraps a single column in a 1-level MultiIndex,
    # ours keeps a plain Index, so compare flattened
    from modin_spark.pandas.series import Series as EngineSeries

    m = mdf.value_counts(subset=["k"])
    assert isinstance(m, EngineSeries)
    mp = m.to_pandas()
    p = pdf.value_counts(subset=["k"])
    assert list(mp.values) == list(p.values)
    assert [i if not isinstance(i, tuple) else i[0] for i in mp.index] == [i[0] for i in p.index]


def test_frame_isin(mdf, pdf):
    cols = ["a", "k"]
    m = mdf[cols].isin([1, 2, "x"]).to_pandas()
    p = pdf[cols].isin([1, 2, "x"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(m, p)
    m2 = mdf[cols].isin({"k": ["x", "y"]}).to_pandas()
    p2 = pdf[cols].isin({"k": ["x", "y"]}).reset_index(drop=True)
    pd.testing.assert_frame_equal(m2, p2)


def test_json_normalize(spark):
    import modin_spark.pandas as mpd

    data = [
        {"id": 1, "info": {"x": 10, "y": "a"}},
        {"id": 2, "info": {"x": 20, "y": "b"}},
    ]
    m = mpd.json_normalize(data).to_pandas()
    p = pd.json_normalize(data)
    pd.testing.assert_frame_equal(m, p)


def test_interchange_protocol(mdf, pdf):
    # pd.api.interchange.from_dataframe round-trips via __dataframe__
    sub = mdf[["a", "b", "s"]]
    out = pd.api.interchange.from_dataframe(sub)
    assert list(out.columns) == ["a", "b", "s"]
    assert len(out) == len(pdf)
    np.testing.assert_allclose(np.sort(out["b"].values), np.sort(pdf["b"].values))


def test_dt_tail_accessors(mdf, pdf):
    got = mdf.t.dt.to_period("M").to_pandas()
    ref = pdf.t.dt.to_period("M").astype(str)
    assert got.tolist() == ref.tolist()
    gq = mdf.t.dt.to_period("Q").to_pandas()
    rq = pdf.t.dt.to_period("Q").astype(str)
    assert gq.tolist() == rq.tolist()
    # tz ops execute and preserve instants (Spark renders in session tz)
    loc = mdf.t.dt.tz_localize("UTC").to_pandas()
    assert len(loc) == len(pdf)
    conv = mdf.t.dt.tz_convert("America/New_York").to_pandas()
    assert len(conv) == len(pdf)


def test_drop_by_index_label(mdf, pdf):
    si = mdf.set_index("k")
    got = si.drop(index=["x"]).to_pandas()
    ref = pdf.set_index("k").drop(index=["x"])
    assert len(got) == len(ref)
    assert set(got.index) == set(ref.index)


def test_loc_column_slice(mdf, pdf):
    got = mdf.loc[:, "a":"c"].to_pandas()
    ref = pdf.loc[:, "a":"c"]
    assert list(got.columns) == list(ref.columns)


def test_setitem_dataframe_value(mdf, pdf):
    m = mdf[["a", "b"]]
    p = pdf[["a", "b"]].copy()
    m[["a2", "b2"]] = m[["a", "b"]]
    p[["a2", "b2"]] = p[["a", "b"]]
    got = m.to_pandas()
    assert list(got.columns) == list(p.columns)
    np.testing.assert_allclose(got["a2"].values, p["a2"].values)


def test_from_map(spark):
    import modin_spark.pandas as mpd

    def make(i):
        return pd.DataFrame({"part": [i] * 3, "v": [i * 10.0, i * 10 + 1, i * 10 + 2]})

    got = mpd.from_map(make, range(4)).to_pandas()
    ref = pd.concat([make(i) for i in range(4)], ignore_index=True)
    assert len(got) == len(ref)
    assert sorted(got["v"].tolist()) == sorted(ref["v"].tolist())


def test_cat_rename_categories(mdf, pdf):
    got = mdf.k.cat.rename_categories({"x": "ex", "y": "why", "z": "zed"}).to_pandas()
    ref = pdf.k.astype("category").cat.rename_categories({"x": "ex", "y": "why", "z": "zed"}).astype(str)
    assert sorted(set(got)) == sorted(set(ref))


def test_loc_default_index_labels(mdf, pdf):
    # default RangeIndex: loc labels are positions
    got = mdf.loc[[2, 5, 7], ["a", "k"]].to_pandas()
    ref = pdf.loc[[2, 5, 7], ["a", "k"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(got.sort_values("a").reset_index(drop=True),
                                  ref.sort_values("a").reset_index(drop=True), check_dtype=False)
    # round 10: loc[scalar, scalar] returns the SCALAR like pandas
    assert mdf.loc[3, "a"] == pdf.loc[3, "a"]


def test_transpose_mixed_dtypes(spark):
    import modin_spark.pandas as mpd

    p = pd.DataFrame({"a": [5, 1], "b": [1.5, 2.5], "k": ["x", "y"]})
    t = mpd.from_pandas(p).T.to_pandas()
    assert t.shape == (3, 2)
    p2 = pd.DataFrame({"a": [5.0, 1.0], "b": [1.5, 2.5]})
    t2 = mpd.from_pandas(p2).T.to_pandas()
    np.testing.assert_allclose(t2.values.astype(float), p2.T.values)


def test_combine_first_default_index(spark):
    import modin_spark.pandas as mpd

    p1 = pd.DataFrame({"a": [1.0, np.nan, 3.0], "b": [np.nan, 5.0, np.nan]})
    p2 = pd.DataFrame({"a": [10.0, 20.0, 30.0], "b": [40.0, 50.0, 60.0]})
    got = mpd.from_pandas(p1).combine_first(mpd.from_pandas(p2)).to_pandas().sort_index()
    ref = p1.combine_first(p2)
    np.testing.assert_allclose(got.values.astype(float), ref.values)
