"""2-level MultiIndex minimum viable surface (VERDICT round-1 item 4):
set_index([a,b]) / groupby([a,b]) round-trips, sort_index, loc[(k1,k2)],
groupby(level=...), unstack. Differential vs pandas."""

import numpy as np
import pandas as pd
import pytest


@pytest.fixture()
def mi(spark):
    import modin_spark.pandas as mpd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "a": rng.choice(list("pqr"), 60),
        "b": rng.integers(0, 4, 60),
        "v": rng.random(60) * 10,
        "w": rng.integers(0, 100, 60),
    })
    return mpd.from_pandas(pdf), pdf


def test_groupby_two_keys_roundtrip(mi):
    m, pdf = mi
    got = m.groupby(["a", "b"]).agg(s=("v", "sum"), n=("w", "count")).to_pandas()
    ref = pdf.groupby(["a", "b"]).agg(s=("v", "sum"), n=("w", "count"))
    assert isinstance(got.index, pd.MultiIndex)
    got = got.sort_index()
    ref = ref.sort_index()
    assert list(got.index) == list(ref.index)
    np.testing.assert_allclose(got["s"].values, ref["s"].values)
    # reset_index restores both keys as columns
    r = m.groupby(["a", "b"]).agg(s=("v", "sum")).reset_index().to_pandas()
    assert list(r.columns) == ["a", "b", "s"]


def test_set_index_sort_index(mi):
    m, pdf = mi
    got = m.set_index(["a", "b"]).sort_index().to_pandas()
    ref = pdf.set_index(["a", "b"]).sort_index()
    assert list(got.index) == list(ref.index)
    np.testing.assert_allclose(got["v"].values, ref["v"].values)


def test_loc_full_tuple(mi):
    m, pdf = mi
    si = m.set_index(["a", "b"])
    got = si.loc[("p", 2)].to_pandas()
    ref = pdf.set_index(["a", "b"]).loc[[("p", 2)]]
    assert len(got) == len(ref)
    np.testing.assert_allclose(np.sort(got["v"].values), np.sort(ref["v"].values))


def test_loc_partial_scalar(mi):
    m, pdf = mi
    si = m.set_index(["a", "b"])
    got = si.loc["q"].to_pandas()
    ref = pdf.set_index(["a", "b"]).loc["q"]
    assert got.index.name == "b"
    np.testing.assert_allclose(np.sort(got["v"].values), np.sort(ref["v"].values))


def test_groupby_level(mi):
    m, pdf = mi
    si = m.set_index(["a", "b"])
    got = si.groupby(level=0).agg(s=("v", "sum")).to_pandas().sort_index()
    ref = pdf.set_index(["a", "b"]).groupby(level=0).agg(s=("v", "sum")).sort_index()
    np.testing.assert_allclose(got["s"].values, ref["s"].values)
    got2 = si.groupby(level="b").agg(s=("v", "sum")).to_pandas().sort_index()
    ref2 = pdf.set_index(["a", "b"]).groupby(level="b").agg(s=("v", "sum")).sort_index()
    np.testing.assert_allclose(got2["s"].values, ref2["s"].values)


def test_unstack_two_level(mi):
    m, pdf = mi
    got = m.groupby(["a", "b"]).agg(s=("v", "sum")).unstack().to_pandas().sort_index()
    ref = pdf.groupby(["a", "b"]).agg(s=("v", "sum")).unstack().sort_index()
    assert got.shape == ref.shape


# ---------------------------------------------------------------------------
# MultiIndex on the COLUMNS axis (round 4 MVP)
# ---------------------------------------------------------------------------

def test_groupby_agg_list_multiindex_columns(spark):
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"k": ["a", "a", "b"], "x": [1.0, 2, 3], "y": [4.0, 5, 6]})
    g = mpd.from_pandas(pdf).groupby("k").agg(["sum", "mean"])
    exp = pdf.groupby("k").agg(["sum", "mean"])
    assert isinstance(g._frame.columns, pd.MultiIndex)
    pd.testing.assert_frame_equal(g.to_pandas(), exp, check_dtype=False, check_names=False)
    # column-tuple selection
    assert g[("x", "sum")].to_pandas().tolist() == exp[("x", "sum")].tolist()


def test_two_level_columns_stack(spark):
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"k": ["a", "a", "b"], "x": [1.0, 2, 3], "y": [4.0, 5, 6]})
    g = mpd.from_pandas(pdf).groupby("k").agg(["sum", "mean"])
    got = g.stack().to_pandas()
    exp = pdf.groupby("k").agg(["sum", "mean"]).stack(future_stack=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_names=False)


def test_pivot_table_multi_values(spark):
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame(
        {"k": ["a", "a", "b", "b"], "c": ["u", "v", "u", "v"],
         "x": [1.0, 2, 3, 4], "y": [10.0, 20, 30, 40]}
    )
    pt = mpd.from_pandas(pdf).pivot_table(values=["x", "y"], index="k", columns="c", aggfunc="sum")
    exp = pdf.pivot_table(values=["x", "y"], index="k", columns="c", aggfunc="sum")
    pd.testing.assert_frame_equal(pt.to_pandas(), exp, check_dtype=False, check_names=False)
    # round-trip: stack moves the pivoted level back into the index
    pd.testing.assert_frame_equal(
        pt.stack().to_pandas(), exp.stack(future_stack=True),
        check_dtype=False, check_names=False,
    )


def test_multiindex_columns_top_level_selection(spark):
    """df[toplevel] on 2-level columns returns the sub-frame with the
    remaining level (pandas partial selection)."""
    import numpy as np

    import modin_spark.pandas as mpd

    li = mpd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    pli = pd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    cols = ["l_returnflag", "l_quantity", "l_extendedprice"]
    g = li[cols].groupby("l_returnflag").agg(["sum", "mean"])
    pg = pli[cols].groupby("l_returnflag").agg(["sum", "mean"])
    got = g["l_quantity"].to_pandas().sort_index()
    want = pg["l_quantity"].sort_index()
    assert list(got.columns) == list(want.columns)
    assert np.allclose(got.values, want.values)


def test_explode_multiple_columns(spark):
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"a": [[1, 2], [3]], "b": [["x", "y"], ["z"]], "k": [1, 2]})
    base = pd.DataFrame({"k": [1, 2, 3]})

    def set_raw_list(df):
        # raw-sequence setitem on a default-index frame: the exploded rows
        # must repeat the original positional labels
        df["l1"] = [[1, 2]] * 3
        return df.explode("l1")

    cases = [
        (pdf, lambda df: df.explode(["a", "b"])),
        # two raw-list columns set on the same lineage, exploded together
        (base, lambda df: df.assign(l1=[[1, 2]] * 3, l2=[[3, 4]] * 3).explode(["l1", "l2"])),
        (base, set_raw_list),
    ]
    for src, op in cases:
        got = op(mpd.from_pandas(src)).to_pandas()
        want = op(src.copy())
        assert got.index.tolist() == want.index.tolist()
        for c in want.columns:
            assert got[c].tolist() == want[c].tolist(), c


# ---------------------------------------------------------------------------
# round 7: n-level COLUMN MultiIndex + duplicate column labels
# ---------------------------------------------------------------------------

@pytest.fixture()
def mk(spark):
    import modin_spark.pandas as mpd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, 80),
        "k2": rng.integers(0, 2, 80),
        "g": rng.choice(list("ab"), 80),
        "h": rng.choice(list("pq"), 80),
        "x": rng.random(80) * 10,
        "y": rng.random(80) * 5,
    })
    return mpd.from_pandas(pdf), pdf


@pytest.mark.parametrize("aggfunc,values", [
    ("sum", "x"),
    (["sum", "mean"], "x"),
    ("sum", ["x", "y"]),
    (["sum", "max"], ["x", "y"]),
])
def test_pivot_table_multikey_columns(mk, aggfunc, values):
    m, pdf = mk
    kw = dict(index="k", columns=["g", "h"], values=values, aggfunc=aggfunc)
    got = m.pivot_table(**kw).to_pandas()
    want = pdf.pivot_table(**kw)
    got.index.name = want.index.name
    pd.testing.assert_frame_equal(got, want, check_names=False, check_dtype=False)


def test_three_level_columns_groupby_agg_roundtrip(mk):
    m, pdf = mk
    kw = dict(index=["k", "k2"], columns=["g", "h"], values="x", aggfunc=["sum", "mean"])
    gm = m.pivot_table(**kw).groupby(level=0).agg("sum").to_pandas()
    gp = pdf.pivot_table(**kw).groupby(level=0).agg("sum")
    pd.testing.assert_frame_equal(gm, gp, check_names=False, check_dtype=False)


def test_three_level_columns_partial_getitem(mk):
    m, pdf = mk
    kw = dict(index="k", columns=["g", "h"], values="x", aggfunc=["sum", "mean"])
    gm = m.pivot_table(**kw)["sum"].to_pandas()
    gp = pdf.pivot_table(**kw)["sum"]
    pd.testing.assert_frame_equal(gm, gp, check_names=False, check_dtype=False)


def test_groupby_level_drops_other_index_level(mk):
    # pandas: non-grouped index levels are excluded from aggregation
    m, pdf = mk
    gm = m.set_index(["k", "k2"])[["x", "y"]].groupby(level=0).sum().to_pandas()
    gp = pdf.set_index(["k", "k2"])[["x", "y"]].groupby(level=0).sum()
    pd.testing.assert_frame_equal(gm.sort_index(), gp.sort_index(),
                                  check_names=False, check_dtype=False)
    assert "k2" not in gm.columns


def test_concat_axis1_duplicate_labels(mk):
    m, pdf = mk
    c = __import__("modin_spark.pandas", fromlist=["concat"]).concat(
        [m[["x", "y"]], m[["x"]]], axis=1
    )
    pc = pd.concat([pdf[["x", "y"]], pdf[["x"]]], axis=1)
    got = c.to_pandas()
    assert list(got.columns) == list(pc.columns) == ["x", "y", "x"]
    assert np.allclose(got.values, pc.values)
    # getitem of the duplicated label returns BOTH columns
    both = c["x"].to_pandas()
    assert both.shape[1] == 2
    # reductions keep the duplicate label entries
    s = c.sum()
    s = s.to_pandas() if hasattr(s, "to_pandas") else s
    assert list(s.index) == ["x", "y", "x"]
    # drop removes every occurrence (pandas parity)
    assert list(c.drop(columns=["x"]).to_pandas().columns) == ["y"]


def test_duplicate_labels_positional_rename(mk):
    m, pdf = mk
    c = __import__("modin_spark.pandas", fromlist=["concat"]).concat(
        [m[["x"]], m[["x"]]], axis=1
    )
    c.columns = ["x1", "x2"]
    got = c.to_pandas()
    assert list(got.columns) == ["x1", "x2"]
    assert np.allclose(got["x1"], pdf["x"])
