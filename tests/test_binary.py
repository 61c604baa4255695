"""One sweep of the binary operators against pandas, for DataFrame and
Series alike: arithmetic (with r- and flex variants and ``fill_value``),
comparisons and ``&``/``|``/``^``, over each operand kind (scalar, list,
Series along the index, Series along the columns, a frame of the same
lineage, an unaligned frame) and each column dtype (int, float with NaN and
±inf, string, bool, datetime).

A DataFrame op runs the Series operator per column after one alignment, so
both sides of the sweep exercise one operator table. The divergences the
frame path used to have are pinned by name in ``DIVERGENCES``.
"""

import operator

import numpy as np
import pandas as pd
import pytest

nan, inf = np.nan, np.inf

# two columns per dtype; row labels 0..5
DATA = {
    # no zero: pandas Series int ops by zero fill 0 or NaN by operand kind
    "int": pd.DataFrame({"x": [3, 7, 4, 5, 2, 1], "y": [4, 8, 6, 1, 9, 2]}),
    "float": pd.DataFrame({"x": [1.5, nan, inf, -2.0, -inf, 0.0],
                           "y": [2.0, 3.0, nan, -inf, 4.5, 0.0]}),
    "str": pd.DataFrame({"x": ["a", "b", "dd", "c", "e", "f"],
                         "y": ["c", "b", "a", "dd", "ee", "f"]}),
    "bool": pd.DataFrame({"x": [True, False, True, False, False, True],
                          "y": [False, False, True, True, False, True]}),
    "datetime": pd.DataFrame({"x": pd.date_range("2024-01-31", periods=6, freq="D"),
                              "y": pd.date_range("2024-01-29 06:00", periods=6, freq="13h")}),
}
# a scalar operand per dtype
SCALAR = {"int": -3, "float": -3, "str": "c", "bool": True,
          "datetime": pd.Timestamp("2024-02-02")}

ARITH = ["add", "sub", "mul", "truediv", "floordiv", "mod", "pow",
         "radd", "rsub", "rmul", "rtruediv", "rfloordiv", "rmod", "rpow"]
CMP = ["eq", "ne", "lt", "le", "gt", "ge"]
LOGICAL = [operator.and_, operator.or_, operator.xor]
# one arithmetic family member each (plain and reflected), two comparisons
NUMERIC = ["add", "rsub", "mul", "truediv", "rfloordiv", "mod", "rpow", "eq", "lt"]

# the operators each dtype offers in pandas; every name runs on the float
# frame against a scalar and an unaligned operand (FULL_KINDS)
OPS = {
    "int": NUMERIC,
    "float": NUMERIC,
    "str": ["add", "radd", "eq", "gt"],
    "bool": LOGICAL,
    "datetime": ["eq", "ne", "lt", "ge"],
}
FULL_KINDS = ("scalar", "frame_unaligned", "series_unaligned")
# kinds whose alignment leaves missing cells: pandas raises adding or
# ordering a str or datetime against one, and fills one for &, |, ^ by
# operand kind (left or right side, Series or frame operand) where the engine
# reads it as False
MISSING_KINDS = ("series_columns", "frame_unaligned", "series_unaligned")


def _ops(dtype, kind):
    if dtype == "float" and kind in FULL_KINDS:
        return ARITH + CMP
    if dtype in ("str", "datetime", "bool") and kind in MISSING_KINDS:
        return [op for op in OPS[dtype] if op in ("eq", "ne")]
    return OPS[dtype]


def _from_pandas(p):
    import modin_spark.pandas as mpd

    return mpd.from_pandas(p)


def _unaligned(p):
    """Reversed rows, one row dropped, one column added: aligns on both axes."""
    q = p.iloc[::-1].iloc[1:].copy()
    q["z"] = q["x"]
    return q


# operand kind -> (pandas operand builder, engine operand builder, axis);
# a builder takes (the pandas frame, the engine frame, the dtype)
KINDS = {
    "scalar": (lambda p, m, t: SCALAR[t], lambda p, m, t: SCALAR[t], "columns"),
    "list": (lambda p, m, t: list(p.iloc[2]), lambda p, m, t: list(p.iloc[2]), "columns"),
    "series_index": (lambda p, m, t: p["y"], lambda p, m, t: m["y"], "index"),
    "series_index_unaligned": (lambda p, m, t: p["y"].iloc[::-1].iloc[1:],
                               lambda p, m, t: p["y"].iloc[::-1].iloc[1:], "index"),
    "series_columns": (lambda p, m, t: pd.Series({"y": SCALAR[t], "w": SCALAR[t]}),
                       lambda p, m, t: pd.Series({"y": SCALAR[t], "w": SCALAR[t]}), "columns"),
    "frame_same": (lambda p, m, t: p[["y", "x"]], lambda p, m, t: m[["y", "x"]], "columns"),
    "frame_unaligned": (lambda p, m, t: _unaligned(p),
                        lambda p, m, t: _from_pandas(_unaligned(p)), "columns"),
}


def _frame_cases():
    for dtype in OPS:
        for kind in KINDS:
            for op in _ops(dtype, kind):
                if callable(op) and kind.startswith("series_index"):
                    continue  # & | ^ take no axis
                yield dtype, kind, op


def _check(got, exp):
    if hasattr(got, "to_pandas"):
        got = got.to_pandas()
    if isinstance(exp, pd.DataFrame):
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False,
                                      check_column_type=False)
    else:
        pd.testing.assert_series_equal(got, exp, check_dtype=False, check_index_type=False)


def _apply(op, obj, other, axis=None, **kw):
    if callable(op):
        return op(obj, other)
    if axis is None:
        return getattr(obj, op)(other, **kw)
    return getattr(obj, op)(other, axis=axis, **kw)


@pytest.fixture(scope="module")
def frames(spark):
    return {t: (p, _from_pandas(p)) for t, p in DATA.items()}


def _op_id(op):
    return op.__name__ if callable(op) else op


@pytest.mark.parametrize("dtype,kind,op", list(_frame_cases()),
                         ids=[f"{d}-{k}-{_op_id(o)}" for d, k, o in _frame_cases()])
def test_frame_op(frames, dtype, kind, op):
    p, m = frames[dtype]
    pb, mb, axis = KINDS[kind]
    exp = _apply(op, p, pb(p, m, dtype), axis=None if callable(op) else axis)
    got = _apply(op, m, mb(p, m, dtype), axis=None if callable(op) else axis)
    _check(got, exp)


FILL_KINDS = ["scalar", "frame_same", "frame_unaligned"]


@pytest.mark.parametrize("kind", FILL_KINDS)
@pytest.mark.parametrize("op", ["add", "rsub", "mul", "rtruediv", "floordiv", "mod", "rpow"])
def test_frame_fill_value(frames, kind, op):
    p, m = frames["float"]
    pb, mb, axis = KINDS[kind]
    _check(_apply(op, m, mb(p, m, "float"), axis, fill_value=2.0),
           _apply(op, p, pb(p, m, "float"), axis, fill_value=2.0))


# the operators, reflected forms included: scalar and same-lineage operands
DUNDERS = [
    (lambda a, b: a + b), (lambda a, b: b + a), (lambda a, b: a - b), (lambda a, b: b - a),
    (lambda a, b: a * b), (lambda a, b: a / b), (lambda a, b: b / a), (lambda a, b: a // b),
    (lambda a, b: b // a), (lambda a, b: a % b), (lambda a, b: b % a), (lambda a, b: a ** b),
    (lambda a, b: b ** a), (lambda a, b: a == b), (lambda a, b: a != b), (lambda a, b: a < b),
    (lambda a, b: a >= b),
]


@pytest.mark.parametrize("k", range(len(DUNDERS)))
@pytest.mark.parametrize("dtype", ["int", "float"])
def test_frame_dunders(frames, dtype, k):
    p, m = frames[dtype]
    fn = DUNDERS[k]
    scalar = 3 if dtype == "int" else SCALAR[dtype]  # pandas: no int ** -3
    _check(fn(m, scalar), fn(p, scalar))
    _check(fn(m, m * 2), fn(p, p * 2))


def _series_cases():
    for dtype in OPS:
        for kind in ("scalar", "list", "series_same", "series_unaligned"):
            for op in _ops(dtype, kind):
                yield dtype, kind, op


@pytest.mark.parametrize("dtype,kind,op", list(_series_cases()),
                         ids=[f"{d}-{k}-{_op_id(o)}" for d, k, o in _series_cases()])
def test_series_op(frames, dtype, kind, op):
    p, m = frames[dtype]
    operands = {
        "scalar": (SCALAR[dtype], SCALAR[dtype]),
        "list": (list(p["y"]), list(p["y"])),
        "series_same": (p["y"], m["y"]),
        "series_unaligned": (p["y"].iloc[::-1].iloc[1:], m["y"].iloc[::-1].iloc[1:]),
    }
    po, mo = operands[kind]
    _check(_apply(op, m["x"], mo), _apply(op, p["x"], po))


@pytest.mark.parametrize("dtype", ["int", "float"])
@pytest.mark.parametrize("op", ["add", "rsub", "rtruediv", "mod", "rpow"])
def test_series_fill_value(frames, dtype, op):
    p, m = frames[dtype]
    _check(getattr(m["x"], op)(m["y"].iloc[1:], fill_value=2),
           getattr(p["x"], op)(p["y"].iloc[1:], fill_value=2))


# the datetime arithmetic pandas offers: offsets and timedeltas, frame minus
# frame
DATETIME_ARITH = [
    lambda d: d + pd.DateOffset(months=1),
    lambda d: d - pd.DateOffset(days=3),
    lambda d: d + pd.Timedelta(hours=5),
    lambda d: d - pd.Timedelta(minutes=90),
    lambda d: d - d[["y", "x"]],
    lambda d: d["x"] + pd.DateOffset(months=1),
    lambda d: d["x"] - d["y"],
]


@pytest.mark.parametrize("k", range(len(DATETIME_ARITH)))
def test_datetime_arith(frames, k):
    p, m = frames["datetime"]
    _check(DATETIME_ARITH[k](m), DATETIME_ARITH[k](p))


STRING_ARITH = [lambda d: d + "z", lambda d: "p" + d, lambda d: d * 2, lambda d: d + d[["y", "x"]],
                lambda d: d["x"] * 3, lambda d: d["x"] + d["y"]]


@pytest.mark.parametrize("k", range(len(STRING_ARITH)))
def test_string_arith(frames, k):
    p, m = frames["str"]
    _check(STRING_ARITH[k](m), STRING_ARITH[k](p))


# --------------------------------------------------------- the divergences
_F = pd.DataFrame({"x": [7.0, -7.0, 3.0, inf], "y": [1.0, 2.0, inf, -inf]})
_S = pd.DataFrame({"x": ["a", "b", None]})

DIVERGENCES = {
    "mod_negative_divisor": lambda P, d: d(_F) % -3,
    "inf_minus_inf_sums_to_zero": lambda P, d: (d(_F) - d(_F)).sum(),
    "floordiv_infinite_dividend": lambda P, d: d(_F) // 2.0,
    "string_concat": lambda P, d: d(_S) + "z",
    "string_repeat": lambda P, d: d(_S) * 2,
    "datetime_plus_dateoffset": lambda P, d: d(DATA["datetime"]) + pd.DateOffset(months=1),
    "frame_and_frame": lambda P, d: d(DATA["bool"]) & d(DATA["bool"]),
    "frame_or_scalar": lambda P, d: d(DATA["bool"]) | True,
    "radd_series_axis_index": lambda P, d: d(DATA["int"]).radd(P.Series(range(6)), axis=0),
    "rmod_zero_and_infinite_divisor": lambda P, d: d(_F).rmod(-3),
    "series_rmod_infinite_divisor": lambda P, d: d(_F)["x"].rmod(-3),
}


@pytest.mark.parametrize("case", list(DIVERGENCES))
def test_divergence(spark, case):
    import modin_spark.pandas as mpd

    build = DIVERGENCES[case]
    _check(build(mpd, mpd.from_pandas), build(pd, lambda p: p))


def test_numeric_frame_ordered_against_string_raises(frames):
    p, m = frames["int"]
    with pytest.raises(TypeError):
        p > "x"
    with pytest.raises(TypeError):
        m > "x"
    _check(m == "x", p == "x")
