"""One sweep of the elementwise (Map) methods against pandas: isna/notna,
fillna, astype, round, clip, where/mask, abs and the unary operators,
replace, map/applymap, isin and the numpy ufunc protocol, over each column
dtype (int, float with NaN and ±inf, string with None, bool, datetime with
NaT, category).

A DataFrame elementwise method runs the same-named Series method on each
column, gathered into one projection, so each frame result is checked
against pandas AND against the same call made on each column as a Series.
The divergences the frame path used to have are pinned by name in
``DIVERGENCES``.

Left out, where the engine cannot follow pandas:
- ``astype(str)`` of a string column holding NaN: the engine stores an
  object column's None and NaN as one NULL and renders it 'None'.
- ``replace`` and ``map`` on a category column: pandas renames the
  categories.
- ``clip`` with a bound label missing from the bound: pandas gives NaN for
  that column, the engine leaves it unclipped (a NaN bound cell leaves the
  value as is in both).
"""

import numpy as np
import pandas as pd
import pytest

nan, inf = np.nan, np.inf

# two columns per dtype; row labels 0..5
DATA = {
    "int": pd.DataFrame({"x": [15, 25, -7, 3, 0, 8], "y": [4, -8, 6, 1, 9, 2]}),
    "float": pd.DataFrame({"x": [1.25, nan, inf, -2.5, -inf, 0.0],
                           "y": [2.5, 3.0, nan, -inf, 4.55, 0.5]}),
    "str": pd.DataFrame({"x": ["a", None, "dd", "c", "e", "f"],
                         "y": ["c", "b", None, "dd", "ee", "f"]}),
    "bool": pd.DataFrame({"x": [True, False, True, False, False, True],
                          "y": [False, False, True, True, False, True]}),
    "datetime": pd.DataFrame({
        "x": pd.to_datetime(["2024-01-31", None, "2024-02-02", "2024-02-03", "2024-02-04", None]),
        "y": pd.to_datetime(["2024-01-29 06:00", "2024-01-29 19:00", None, "2024-01-30 21:00",
                             "2024-01-31 10:00", "2024-01-31 23:30"])}),
    "category": pd.DataFrame({"x": pd.Categorical(["a", "b", None, "a", "b", "b"]),
                              "y": pd.Categorical(["b", "a", "a", None, "b", "a"])}),
}
DTYPES = list(DATA)
NUMERIC = ["int", "float"]
# a fill/replacement value of each dtype
FILL = {"int": 0, "float": 0.5, "str": "z", "bool": False,
        "datetime": pd.Timestamp("2020-05-05"), "category": "a"}
# a value each frame's x column holds
HELD = {t: p["x"].iloc[0] for t, p in DATA.items()}
# a boolean mask frame of another lineage: True, False and a missing column
MASK = pd.DataFrame({"x": [True, False, True, True, False, False],
                     "z": [True, True, False, True, False, True]})


def _unaligned(p):
    """Reversed rows, one row dropped, one column added: aligns on both axes."""
    q = p.iloc[::-1].iloc[1:].copy()
    q["z"] = q["x"]
    return q


def _from_pandas(p):
    import modin_spark.pandas as mpd

    return mpd.from_pandas(p)


# name -> (frame call, per-column Series call or None, dtypes); a frame call
# takes (frame, dtype, module) where module is pandas or the engine, a
# Series call takes (series, column label, dtype)
CASES = {
    "isna": (lambda d, t, P: d.isna(), lambda s, c, t: s.isna(), DTYPES),
    "notna": (lambda d, t, P: d.notna(), lambda s, c, t: s.notna(), DTYPES),
    "fillna_scalar": (lambda d, t, P: d.fillna(FILL[t]), lambda s, c, t: s.fillna(FILL[t]), DTYPES),
    "fillna_dict": (lambda d, t, P: d.fillna({"x": FILL[t]}),
                    lambda s, c, t: s.fillna(FILL[t]) if c == "x" else s, DTYPES),
    "fillna_series": (lambda d, t, P: d.fillna(pd.Series({"y": FILL[t]})),
                      lambda s, c, t: s.fillna(FILL[t]) if c == "y" else s, DTYPES),
    "fillna_frame": (lambda d, t, P: d.fillna(_frame_of(P, _unaligned(DATA[t]))), None,
                     ["float", "str", "datetime"]),
    # pandas casts a frame's datetime columns as one block, with one render:
    # the Series calls are not the frame's there
    "astype_str": (lambda d, t, P: d.astype(str), lambda s, c, t: None if t == "datetime" else s.astype(str),
                   DTYPES),
    "astype_float": (lambda d, t, P: d.astype("float64"), lambda s, c, t: s.astype("float64"),
                     ["int", "float", "bool"]),
    "astype_int": (lambda d, t, P: d.astype("int64"), lambda s, c, t: s.astype("int64"), ["int", "bool"]),
    "astype_Int64": (lambda d, t, P: d.astype("Int64"), lambda s, c, t: s.astype("Int64"), ["int", "bool"]),
    "astype_category": (lambda d, t, P: d.astype("category"), lambda s, c, t: s.astype("category"),
                        ["int", "str"]),
    "astype_dict": (lambda d, t, P: d.astype({"x": str}), lambda s, c, t: s.astype(str) if c == "x" else s,
                    ["int", "float", "datetime"]),
    "round_0": (lambda d, t, P: d.round(), lambda s, c, t: s.round(), NUMERIC),
    "round_1": (lambda d, t, P: d.round(1), lambda s, c, t: s.round(1), NUMERIC),
    "round_neg": (lambda d, t, P: d.round(-1), lambda s, c, t: s.round(-1), NUMERIC),
    "round_dict": (lambda d, t, P: d.round({"x": -1}), lambda s, c, t: s.round(-1) if c == "x" else s,
                   NUMERIC),
    "round_series": (lambda d, t, P: d.round(pd.Series({"x": 1, "y": -1})),
                     lambda s, c, t: s.round(1 if c == "x" else -1), NUMERIC),
    "clip_scalar": (lambda d, t, P: d.clip(-3, 10), lambda s, c, t: s.clip(-3, 10), NUMERIC),
    "clip_lower": (lambda d, t, P: d.clip(lower=2), lambda s, c, t: s.clip(lower=2), NUMERIC),
    "clip_series_rows": (lambda d, t, P: d.clip(lower=d["y"] - 1, axis=0), None, NUMERIC),
    "clip_series_columns": (lambda d, t, P: d.clip(upper=pd.Series({"x": 5, "y": 2}), axis=1),
                            lambda s, c, t: s.clip(upper=5 if c == "x" else 2), NUMERIC),
    "clip_frame": (lambda d, t, P: d.clip(lower=d[["y", "x"]] - 2, upper=_frame_of(P, DATA[t].iloc[::-1] + 6)),
                   None, NUMERIC),
    "where_same": (lambda d, t, P: d.where(d.notna()), lambda s, c, t: s.where(s.notna()), DTYPES),
    "where_scalar": (lambda d, t, P: d.where(_frame_of(P, MASK), FILL[t]), None, DTYPES),
    "where_frame": (lambda d, t, P: d.where(d.isna(), d[["y", "x"]]), None, DTYPES),
    "where_unaligned": (lambda d, t, P: d.where(_frame_of(P, MASK), _frame_of(P, _unaligned(DATA[t]))),
                        None, DTYPES),
    "mask_scalar": (lambda d, t, P: d.mask(d.isna(), FILL[t]), lambda s, c, t: s.mask(s.isna(), FILL[t]),
                    DTYPES),
    "mask_frame": (lambda d, t, P: d.mask(_frame_of(P, MASK), d[["y", "x"]]), None, DTYPES),
    "abs": (lambda d, t, P: d.abs(), lambda s, c, t: s.abs(), ["int", "float", "bool"]),
    "neg": (lambda d, t, P: -d, lambda s, c, t: -s, ["int", "float", "bool"]),
    "pos": (lambda d, t, P: +d, lambda s, c, t: +s, ["int", "float", "bool"]),
    "invert": (lambda d, t, P: ~d, lambda s, c, t: ~s, ["int", "bool"]),
    "replace_scalar": (lambda d, t, P: d.replace(HELD[t], FILL[t]), lambda s, c, t: s.replace(HELD[t], FILL[t]),
                       ["int", "float", "str", "bool", "datetime"]),
    "replace_dict": (lambda d, t, P: d.replace({HELD[t]: FILL[t]}), lambda s, c, t: s.replace({HELD[t]: FILL[t]}),
                     ["int", "float", "str", "bool", "datetime"]),
    "replace_other_types": (lambda d, t, P: d.replace({"a": "A", 15: 150, pd.Timestamp("2024-02-02"): FILL["datetime"]}),
                            lambda s, c, t: s.replace({"a": "A", 15: 150, pd.Timestamp("2024-02-02"): FILL["datetime"]}),
                            ["int", "float", "str", "bool", "datetime"]),
    "replace_nested": (lambda d, t, P: d.replace({"x": {HELD[t]: FILL[t]}}),
                       lambda s, c, t: s.replace({HELD[t]: FILL[t]}) if c == "x" else s,
                       ["int", "str", "datetime"]),
    "isin_list": (lambda d, t, P: d.isin([HELD[t], FILL[t]]), lambda s, c, t: s.isin([HELD[t], FILL[t]]), DTYPES),
    "isin_dict": (lambda d, t, P: d.isin({"y": [HELD[t], FILL[t]]}),
                  lambda s, c, t: s.isin([HELD[t], FILL[t]] if c == "y" else []), DTYPES),
    "map": (lambda d, t, P: d.map(lambda v: v * 2), lambda s, c, t: s.map(lambda v: v * 2), NUMERIC),
    "applymap_na_ignore": (lambda d, t, P: d.applymap(str.upper, na_action="ignore"),
                           lambda s, c, t: s.map(str.upper, na_action="ignore"), ["str"]),
    "np_floor": (lambda d, t, P: np.floor(d), lambda s, c, t: np.floor(s), NUMERIC),
    "np_sqrt": (lambda d, t, P: np.sqrt(d), lambda s, c, t: np.sqrt(s), NUMERIC),
    "np_exp": (lambda d, t, P: np.exp(d), lambda s, c, t: np.exp(s), NUMERIC),
    "np_abs": (lambda d, t, P: np.abs(d), lambda s, c, t: np.abs(s), NUMERIC),
    "np_negative": (lambda d, t, P: np.negative(d), lambda s, c, t: np.negative(s), NUMERIC),
    "np_sign": (lambda d, t, P: np.sign(d), lambda s, c, t: np.sign(s), NUMERIC),
}


def _frame_of(P, p):
    """``p`` as a frame of module ``P`` (pandas, or the engine)."""
    return p if P is pd else P.from_pandas(p)


def _check(got, exp, check_dtype=False):
    if hasattr(got, "to_pandas"):
        got = got.to_pandas()
    if isinstance(exp, pd.DataFrame):
        pd.testing.assert_frame_equal(got, exp, check_dtype=check_dtype, check_index_type=False,
                                      check_column_type=False, check_categorical=False)
    else:
        pd.testing.assert_series_equal(got, exp, check_dtype=check_dtype, check_index_type=False,
                                       check_categorical=False)


@pytest.fixture(scope="module")
def frames(spark):
    return {t: (p, _from_pandas(p)) for t, p in DATA.items()}


def _cases():
    for name, (_, _, dtypes) in CASES.items():
        for t in dtypes:
            yield name, t


@pytest.mark.parametrize("name,dtype", list(_cases()), ids=[f"{n}-{t}" for n, t in _cases()])
def test_map(frames, name, dtype):
    import warnings

    import modin_spark.pandas as mpd

    p, m = frames[dtype]
    call, per_column, _ = CASES[name]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # numpy's invalid-value warnings
        exp = call(p.copy(), dtype, pd)
    got = call(m, dtype, mpd).to_pandas()
    _check(got, exp)
    for c in p.columns if per_column is not None else []:
        one = per_column(m[c], c, dtype)
        if one is not None:
            _check(got[c], one.to_pandas(), check_dtype=True)


# --------------------------------------------------------- the divergences
_MIXED = pd.DataFrame({"i": [15, 25, -7], "f": [1.25, nan, 2.5], "s": ["a", None, "c"],
                       "d": pd.to_datetime(["2024-01-01", None, "2024-03-01"])})


def _log_zero(P, d):
    if P is pd:
        with np.errstate(divide="ignore"):
            return pd.Series(np.log(np.array([0.0])))
    import modin_spark.numpy as mnp

    return pd.Series(mnp.array([0.0]).log().to_numpy())


# name -> (call taking (module, frame constructor), compare dtypes)
DIVERGENCES = {
    "round_int_negative_decimals": (lambda P, d: d(_MIXED).round(-1), False),
    "round_dict_int_negative_decimals": (lambda P, d: d(_MIXED).round({"i": -1}), False),
    "astype_str_missing_and_dates": (lambda P, d: d(_MIXED).astype(str), False),
    "astype_category": (lambda P, d: d(_MIXED[["i", "s"]]).astype("category"), True),
    "astype_Int64": (lambda P, d: d(_MIXED[["i"]]).astype("Int64"), True),
    "fillna_series_by_column": (lambda P, d: d(_MIXED).fillna(pd.Series({"f": 0.5})), False),
    "fillna_frame": (lambda P, d: d(_MIXED).fillna(d(_MIXED.iloc[::-1].reset_index(drop=True))), False),
    "np_floor_int_is_float": (lambda P, d: np.floor(d(_MIXED[["i", "f"]])), True),
    "numpy_log_zero": (_log_zero, False),
    "replace_across_types": (lambda P, d: d(_MIXED).replace({"a": "A", 15: 150}), False),
    "flex_add_dateoffset": (lambda P, d: d(_MIXED[["d"]]).add(pd.DateOffset(months=1)), False),
    "flex_mul_string": (lambda P, d: d(_MIXED[["s"]]).mul(2), False),
}


@pytest.mark.parametrize("case", list(DIVERGENCES))
def test_divergence(spark, case):
    import modin_spark.pandas as mpd

    build, check_dtype = DIVERGENCES[case]
    _check(build(mpd, mpd.from_pandas), build(pd, lambda p: p), check_dtype=check_dtype)


def test_inferred_category_compares_as_values(spark):
    """An inferred categorical's missing cell compares as pandas does: False
    for ``==``, True for ``!=``, and a mask keeps plain bool."""
    import modin_spark.pandas as mpd

    p = DATA["str"].astype("category")
    m = mpd.from_pandas(DATA["str"]).astype("category")
    _check(m["x"] == "a", p["x"] == "a", check_dtype=True)
    _check(m["x"] != "a", p["x"] != "a", check_dtype=True)
    _check(m["y"].ne("c"), p["y"].ne("c"), check_dtype=True)
    _check(m[m["x"] != "a"], p[p["x"] != "a"])


def test_extension_overlay_kept_only_where_the_value_fits(spark):
    """where/mask/fillna keep an Int64 column's dtype for a value Int64 can
    hold; a float replacement gives plain float values (pandas 2.2 raises
    there), not a failing Int64 cast."""
    import modin_spark.pandas as mpd

    p = pd.DataFrame({"i": pd.array([1, None, 3, 4], dtype="Int64")})
    m = mpd.from_pandas(p)
    cond = pd.DataFrame({"i": [True, False, True, False]})
    _check(m.where(mpd.from_pandas(cond), 7), p.where(cond, 7), check_dtype=True)
    _check(m.where(mpd.from_pandas(cond)), p.where(cond), check_dtype=True)
    _check(m.fillna(0), p.fillna(0), check_dtype=True)
    plain = p.astype("float64")
    _check(m.where(mpd.from_pandas(cond), 0.5), plain.where(cond, 0.5), check_dtype=True)
    _check(m.mask(mpd.from_pandas(cond), 0.5), plain.mask(cond, 0.5), check_dtype=True)
    _check(m["i"].fillna(0.5), plain["i"].fillna(0.5), check_dtype=True)


def test_predicate_invert_needs_no_type_probe(spark, monkeypatch):
    """``~`` of a predicate (comparison, isna, isin, str test, &) reads its
    boolean type without an analysis round trip."""
    import modin_spark.pandas as mpd
    from modin_spark.pandas.series import Series

    m = mpd.from_pandas(DATA["float"].assign(s=DATA["str"]["x"]))
    v = m["x"] * 2
    masks = [v > 1, v.isna(), v.notna(), v.isin([2.5]), m["s"].str.contains("d", na=False),
             (v > 1) & (v < 5), ~(v > 1)]
    probes = []
    real = Series._spark_type_uncached
    monkeypatch.setattr(Series, "_spark_type_uncached",
                        lambda self, fr: probes.append(1) or real(self, fr))
    inverted = [~mask for mask in masks]
    assert probes == []
    exp_v = DATA["float"]["x"] * 2
    _check(inverted[3], ~exp_v.isin([2.5]))
    _check(inverted[4], ~DATA["str"]["x"].str.contains("d", na=False).rename("s"))


# ------------------------------------------------------------ plan shape
@pytest.fixture(scope="module")
def tracer(spark):
    from perfbench.tracing import Tracer

    t = Tracer(spark)
    yield t
    t.close()


def _jobs(tracer, fn) -> int:
    fn()  # warm
    with tracer.phase(tracer.op(0, "map"), "build") as phase:
        fn()
    return phase["jobs_tracked"]


def test_astype_str_probes_in_one_aggregate(spark, tracer):
    """astype(str) renders each datetime/timedelta column at its array-wide
    unit: one aggregate over the frame decides all of them."""
    from pyspark.sql import functions as F

    import modin_spark.pandas as mpd

    p = pd.DataFrame({"d": pd.date_range("2024-01-01", periods=4),
                      "e": pd.date_range("2024-01-01 10:00", periods=4, freq="90min"),
                      "t": pd.to_timedelta([1, 2, 3, 4], unit="D")})
    m = mpd.from_pandas(p)
    fr = m._frame
    one = _jobs(tracer, lambda: fr.sdf.agg(F.max(F.col(fr.data_cols[0]))).collect())
    assert _jobs(tracer, lambda: m.astype(str)) <= one
    _check(m.astype(str), p.astype(str))


def _joins(d) -> int:
    return d._frame.sdf._jdf.queryExecution().optimizedPlan().toString().count("Join")


def test_same_lineage_operands_stay_one_plan(spark, tracer):
    import modin_spark.pandas as mpd

    p = DATA["float"]
    m = mpd.from_pandas(p)
    s = m["y"] * 2
    clip = lambda: m.clip(lower=s, axis=0)  # noqa: E731
    where = lambda: m.where(m > 0, -m)  # noqa: E731
    assert _jobs(tracer, clip) == 0 and _joins(clip()) == 0
    # cond and other are two projections of this frame: the second replays
    # on the first's plan
    assert _jobs(tracer, where) == 0 and _joins(where()) == 0
    assert _joins(m * 2 + m * 3) == 0
    assert _joins(m.where(m > 0)) == 0 and _joins(m.mask(m > 0, 0)) == 0
    _check(clip(), p.clip(lower=p["y"] * 2, axis=0))
    _check(where(), p.where(p > 0, -p))


def test_projection_keeps_no_source_frame_alive(spark):
    """A projection remembers how to replay itself on a sibling plan, not
    the frame it was projected from: a chain of column ops frees each
    intermediate frame."""
    import gc
    import weakref

    import modin_spark.pandas as mpd

    m = mpd.from_pandas(DATA["float"])
    step = m * 1.01
    first = weakref.ref(step._frame)
    for _ in range(3):
        step = step * 1.01
    gc.collect()
    assert first() is None
    assert _joins(m.where(m > 0, -m)) == 0
