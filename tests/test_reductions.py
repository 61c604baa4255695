"""One sweep of the pandas reduction names over every context that compiles
them through ``core.compiler.agg_expr`` — whole-column, grouped, windowed,
resampled and pivoted — against pandas on the same frame.

The frame holds NaN, an all-NaN group (``z`` over key ``a``), ints and bools;
std/var/sem also run at ddof 0, 1 and 2. A (context, name) pair pandas itself
does not offer (``Rolling.prod``, ``DataFrameGroupBy.kurt``, ...) is left out.
"""

import numpy as np
import pandas as pd
import pytest

nan = np.nan

NAMES = ["sum", "mean", "std", "var", "sem", "skew", "kurt", "prod", "median",
         "count", "any", "all"]
DDOF_NAMES = ["std", "var", "sem"]
_WINDOW = ["sum", "mean", "std", "var", "sem", "skew", "kurt", "median", "count"]


@pytest.fixture(scope="module")
def frames(spark):
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({
        "k": list("aaabbbbccccd"),
        "x": [1.0, nan, 2.5, -1.0, 4.0, 0.5, 3.0, 7.0, nan, 2.0, -3.5, 6.0],
        "z": [nan, nan, nan, 1.5, nan, 2.0, -1.0, 3.0, 0.25, 9.0, 4.0, nan],
        "i": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8],
        "b": [True, False, True, True, False, False, True, True, True, False, True, False],
        "t": pd.date_range("2024-01-01", periods=12, freq="25min"),
    })
    return pdf, mpd.from_pandas(pdf)


def _call(obj, name, **kw):
    return getattr(obj, name)(**kw)


# context -> (builder(frame, name, **kw), the names pandas offers there)
CONTEXTS = {
    "series": (lambda d, n, **kw: _call(d["x"], n, **kw), NAMES),
    "series_int": (lambda d, n, **kw: _call(d["i"], n, **kw), NAMES),
    "series_bool": (lambda d, n, **kw: _call(d["b"], n, **kw), NAMES),
    "series_all_nan": (lambda d, n, **kw: _call(d[d.k == "a"]["z"], n, **kw), NAMES),
    "frame": (lambda d, n, **kw: _call(d[["x", "z", "i", "b"]], n, **kw), NAMES),
    "groupby_agg": (lambda d, n, **kw: d.groupby("k")[["x", "z", "i"]].agg(n, **kw),
                    [n for n in NAMES if n != "kurt"]),
    "groupby_transform": (lambda d, n, **kw: d.groupby("k")[["x", "z", "i"]].transform(n, **kw),
                          [n for n in NAMES if n != "kurt"]),
    "rolling": (lambda d, n, **kw: _call(d[["x", "z"]].rolling(4, min_periods=1), n, **kw),
                _WINDOW),
    "expanding": (lambda d, n, **kw: _call(d[["x", "z"]].expanding(), n, **kw), _WINDOW),
    "groupby_expanding": (lambda d, n: _call(d.groupby("k")[["x", "z"]].expanding(), n),
                          _WINDOW),
    "resample_agg": (lambda d, n, **kw: _call(d[["t", "x", "z"]].resample("1h", on="t"), n, **kw),
                     ["sum", "mean", "std", "var", "sem", "prod", "median", "count"]),
    "resample_transform": (lambda d, n: d[["t", "x", "z"]].resample("1h", on="t").transform(n),
                           [n for n in NAMES if n != "kurt"]),
    # dropna=False: the engine keeps all-NaN rows, which pandas' default drops
    "pivot_table": (lambda d, n: d.pivot_table(values="x", index="k", columns="b", aggfunc=n,
                                               dropna=False),
                    [n for n in NAMES if n != "kurt"]),
}
DDOF_CONTEXTS = ["series", "series_int", "frame", "groupby_agg", "groupby_transform",
                 "rolling", "expanding", "resample_agg"]


def _check(got, exp):
    got = got.to_pandas() if hasattr(got, "to_pandas") else got
    g = np.asarray(pd.DataFrame(got) if isinstance(exp, pd.DataFrame) else got, dtype=float)
    e = np.asarray(exp, dtype=float)
    assert g.shape == e.shape, (g.shape, e.shape)
    np.testing.assert_allclose(g, e, rtol=1e-9, atol=1e-9, equal_nan=True)


@pytest.mark.parametrize("ctx,name", [(c, n) for c, (_, names) in CONTEXTS.items() for n in names])
def test_reduction_matches_pandas(frames, ctx, name):
    pdf, mdf = frames
    build, _ = CONTEXTS[ctx]
    _check(build(mdf, name), build(pdf, name))


@pytest.mark.parametrize("ctx,name", [(c, n) for c in DDOF_CONTEXTS for n in DDOF_NAMES])
@pytest.mark.parametrize("ddof", [0, 2])
def test_reduction_ddof_matches_pandas(frames, ctx, name, ddof):
    pdf, mdf = frames
    build, _ = CONTEXTS[ctx]
    _check(build(mdf, name, ddof=ddof), build(pdf, name, ddof=ddof))


def test_windowed_sem_ddof_keeps_the_ddof1_std(frames):
    """pandas' Rolling/Expanding sem is std(ddof=1)/sqrt(n - ddof), not the
    reduction's std(ddof)/sqrt(n); at n == ddof it divides by zero (inf)."""
    pdf, mdf = frames
    s, ps = mdf["x"], pdf["x"]
    for ddof in (0, 2):
        _check(s.rolling(4, min_periods=1).sem(ddof=ddof), ps.rolling(4, min_periods=1).sem(ddof=ddof))
        _check(s.expanding().sem(ddof=ddof), ps.expanding().sem(ddof=ddof))
    # one value: the ddof=1 std is NaN whatever ddof is
    assert np.isnan(s.expanding().sem(ddof=0).to_pandas().iloc[0])
    # rows 0 and 2 are the first two values: n == ddof
    assert np.isinf(s.rolling(4, min_periods=1).sem(ddof=2).to_pandas().iloc[2])


@pytest.mark.parametrize("name", DDOF_NAMES)
@pytest.mark.parametrize("ddof", [0, 2])
def test_grouped_agg_forwards_its_keywords(frames, name, ddof):
    pdf, mdf = frames
    _check(mdf.groupby("k")["x"].agg(name, ddof=ddof), pdf.groupby("k")["x"].agg(name, ddof=ddof))
    _check(mdf.groupby("k")[["x", "z"]].agg([name], ddof=ddof),
           pdf.groupby("k")[["x", "z"]].agg([name], ddof=ddof))
    _check(mdf.groupby("k")[["x", "z"]].agg(name, ddof=ddof),
           pdf.groupby("k")[["x", "z"]].agg(name, ddof=ddof))


@pytest.fixture(scope="module")
def cells(spark):
    """(a, y) holds only NaN values; (d, y) has no rows at all."""
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({
        "k": list("aaabbbccccdd"),
        "g": list("xyyxyyxxyyxx"),
        "v": [1.0, nan, nan, 2.0, 3.0, -1.0, nan, 4.0, 5.0, 2.5, 6.0, 7.0],
    })
    return pdf, mpd.from_pandas(pdf)


@pytest.mark.parametrize("aggfunc", ["sum", "prod", "count", "mean"])
def test_pivot_table_cell_identity(cells, aggfunc):
    pdf, mdf = cells
    exp = pdf.pivot_table(values="v", index="k", columns="g", aggfunc=aggfunc)
    got = mdf.pivot_table(values="v", index="k", columns="g", aggfunc=aggfunc).to_pandas()
    _check(got, exp)
    if aggfunc == "sum":
        assert got.loc["a", "y"] == 0.0 and np.isnan(got.loc["d", "y"])


@pytest.mark.parametrize("aggfunc", ["sum", "prod", "mean"])
def test_crosstab_cell_identity(cells, aggfunc):
    import modin_spark.pandas as mpd

    pdf, mdf = cells
    exp = pd.crosstab(pdf.k, pdf.g, values=pdf.v, aggfunc=aggfunc)
    got = mpd.crosstab(mdf.k, mdf.g, values=mdf.v, aggfunc=aggfunc).to_pandas()
    _check(got, exp)
    if aggfunc == "sum":
        assert got.loc["a", "y"] == 0.0 and np.isnan(got.loc["d", "y"])
