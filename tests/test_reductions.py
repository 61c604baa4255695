"""One sweep of the pandas reduction names over every context that compiles
them through ``core.compiler.agg_expr`` — whole-column, grouped, windowed,
resampled and pivoted — against pandas on the same frame.

The frame holds NaN, an all-NaN group (``z`` over key ``a``), ints, bools and
datetimes; std/var/sem also run at ddof 0, 1 and 2. A (context, name) pair
pandas itself does not offer (``Rolling.prod``, ``DataFrameGroupBy.kurt``,
...) is left out. The whole-column entry points that run several reductions
at once (describe, quantile, agg specs, idxmax/idxmin, nunique) sweep the
Series and frame contexts too, and each fires no more Spark jobs than one
``sdf.agg(...).collect()``.
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
    # pandas has no linear quantile of a bool column
    "frame_numeric": (lambda d, n, **kw: _call(d[["x", "z", "i"]], n, **kw), NAMES),
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
    "pivot_table": (lambda d, n: d.pivot_table(values="x", index="k", columns="b", aggfunc=n,
                                               dropna=False),
                    [n for n in NAMES if n != "kurt"]),
    # the default dropna=True drops a row whose every cell is missing (``a``
    # for the NaN-valued names). pandas also drops such a column, which the
    # engine keeps (COVERAGE.md): std/var/sem/skew of the False cells here
    "pivot_table_dropna": (lambda d, n: d.pivot_table(values="z", index="k", columns="b",
                                                      aggfunc=n),
                           [n for n in NAMES if n not in ("kurt", "std", "var", "sem", "skew")]),
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


INTERPOLATIONS = ["linear", "lower", "higher", "nearest", "midpoint"]
# (context, method, kwargs): entry points that answer several reductions
PASSES = [
    *[(ctx, m, kw) for ctx in ("series", "series_int", "frame") for m, kw in [
        ("describe", {}),
        ("describe", {"percentiles": [0.1, 0.9]}),
        ("nunique", {"dropna": False}),
        ("idxmax", {}),
        ("idxmin", {}),
        ("idxmax", {"skipna": False}),
        ("agg", {"func": ["sum", "mean", "max", "count"]}),
    ]],
    *[(ctx, "quantile", {"q": q, "interpolation": i})
      for ctx in ("series", "series_int", "frame_numeric")
      for q in (0.3, [0.1, 0.5, 0.9]) for i in INTERPOLATIONS],
    ("series", "argmax", {}),
    ("series_int", "argmin", {}),
    ("series", "agg", {"func": {"total": "sum", "top": "max"}}),
    ("series", "agg", {"total": "sum", "top": "max"}),
    ("frame", "agg", {"func": {"x": "sum", "z": "mean", "i": "max"}}),
    ("frame", "agg", {"func": {"x": ["sum", "min"], "z": "mean", "i": ["max"]}}),
    ("frame", "agg", {"total": ("x", "sum"), "top": ("z", "max"), "cnt": ("x", "count")}),
]


@pytest.mark.parametrize("ctx,method,kw", PASSES)
def test_one_pass_entry_matches_pandas(frames, ctx, method, kw):
    pdf, mdf = frames
    build, _ = CONTEXTS[ctx]
    _check(build(mdf, method, **kw), build(pdf, method, **kw))


def test_is_unique_counts_missing_values(frames):
    """pandas: ``is_unique`` is ``nunique(dropna=False) == len``, so two
    missing values repeat."""
    pdf, mdf = frames
    for col in ("x", "i", "t"):
        assert mdf[col].is_unique == pdf[col].is_unique, col
        assert mdf[col].hasnans == pdf[col].hasnans, col


@pytest.mark.parametrize("q", [0.5, [0.25, 0.5, 0.75]])
def test_nearest_quantile_rounds_half_to_even(spark, q):
    """numpy rounds a half-way virtual index to the even neighbour: the
    median of [1, 2, 3, 4] at ``nearest`` is 3, not 2."""
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"a": [1, 2, 3, 4], "b": [4.0, 1.0, 2.0, 3.5]})
    mdf = mpd.from_pandas(pdf)
    _check(mdf["a"].quantile(q, interpolation="nearest"), pdf["a"].quantile(q, interpolation="nearest"))
    _check(mdf.quantile(q, interpolation="nearest"), pdf.quantile(q, interpolation="nearest"))


def _micros(v):
    return np.asarray(pd.to_timedelta(np.ravel(np.asarray(v, dtype=object))), dtype="int64") // 1000


def _check_timedelta(got, exp):
    got = got.to_pandas() if hasattr(got, "to_pandas") else got
    g, e = _micros(got), _micros(exp)
    assert g.shape == e.shape, (g.shape, e.shape)
    # the engine keeps microseconds, pandas nanoseconds
    np.testing.assert_allclose(g, e, atol=1)


def test_std_of_datetimes(frames):
    """pandas' std of a datetime column is a Timedelta."""
    pdf, mdf = frames
    _check_timedelta(mdf["t"].std(), pdf["t"].std())
    _check_timedelta(mdf["t"].std(ddof=0), pdf["t"].std(ddof=0))
    _check_timedelta(mdf.groupby("k")[["t"]].agg(["std"]), pdf.groupby("k")[["t"]].agg(["std"]))
    got = mdf.groupby("k")[["x", "t"]].std().to_pandas()
    exp = pdf.groupby("k")[["x", "t"]].std()
    assert list(got.columns) == list(exp.columns)
    _check_timedelta(got["t"], exp["t"])


def test_describe_datetimes(frames):
    """pandas 2.2 describes a datetime column with count, mean, min,
    percentiles and max (a NaN std beside numbers), in the same pass. The
    timestamps compare at the microsecond: pandas' mean sums nanoseconds in
    float64 and lands a few hundred ns off."""
    pdf, mdf = frames

    def us(d):
        return d.map(lambda v: v.round("us") if isinstance(v, pd.Timestamp) else v)

    for cols in (["x", "t"], ["t"], ["k", "t"], ["k", "x", "z", "i", "b", "t"]):
        for kw in ({}, {"include": "all"}, {"percentiles": [0.1, 0.9]}):
            got, exp = mdf[cols].describe(**kw), pdf[cols].describe(**kw)
            assert list(got.index) == list(exp.index), (cols, kw)
            pd.testing.assert_frame_equal(us(got), us(exp), check_dtype=False)
    pd.testing.assert_series_equal(us(mdf["t"].describe()), us(pdf["t"].describe()),
                                   check_dtype=False)


@pytest.fixture(scope="module")
def tracer(spark):
    from perfbench.tracing import Tracer

    t = Tracer(spark)
    yield t
    t.close()


def _jobs(tracer, fn) -> int:
    fn()  # warm
    with tracer.phase(tracer.op(0, "reduction"), "build") as phase:
        fn()
    return phase["jobs_tracked"]


# entry point -> (call, the jobs it may fire in units of one aggregate pass)
JOB_CASES = {
    "describe": (lambda d: d[["x", "z", "i"]].describe(), 1),
    "frame_agg_list": (lambda d: d[["x", "z", "i"]].agg(["sum", "mean", "max"]), 1),
    "frame_agg_dict": (lambda d: d.agg({"x": "sum", "z": "mean", "i": "max"}), 1),
    "frame_agg_named": (lambda d: d.agg(a=("x", "sum"), b=("z", "mean")), 1),
    "series_agg_list": (lambda d: d["x"].agg(["sum", "mean", "max"]), 1),
    "series_describe": (lambda d: d["x"].describe(), 1),
    "frame_quantile_list": (lambda d: d[["x", "z", "i"]].quantile([0.1, 0.5, 0.9]), 1),
    "series_quantile_list": (lambda d: d["x"].quantile([0.1, 0.5, 0.9]), 1),
    "frame_quantile_nearest": (lambda d: d[["x", "z", "i"]].quantile(0.5, interpolation="nearest"), 2),
    "series_quantile_lower": (lambda d: d["x"].quantile([0.1, 0.5, 0.9], interpolation="lower"), 2),
    "idxmax": (lambda d: d[["x", "z", "i"]].idxmax(), 1),
    # a distinct count is its own aggregate shape (two exchanges)
    "series_nunique_dropna": (lambda d: d["x"].nunique(dropna=False), "distinct"),
    "frame_nunique_dropna": (lambda d: d[["x", "z", "i"]].nunique(dropna=False), "distinct"),
}


@pytest.mark.parametrize("case", list(JOB_CASES))
def test_entry_point_is_one_aggregate_pass(frames, tracer, case):
    from pyspark.sql import functions as F

    _, mdf = frames
    fn, passes = JOB_CASES[case]
    fr = mdf._frame
    c = F.col(fr.data_cols[1])
    one = F.count_distinct(c) if passes == "distinct" else F.sum(c)
    ceiling = _jobs(tracer, lambda: fr.sdf.agg(one).collect()) * (1 if passes == "distinct" else passes)
    assert _jobs(tracer, lambda: fn(mdf)) <= ceiling
