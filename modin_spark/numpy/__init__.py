"""modin_spark.numpy — distributed ndarray emulation over the engine
(reference surface: modin/numpy/__init__.py exports; same names, Spark-first
execution). 1-D and 2-D only, like the reference."""

from __future__ import annotations

import numpy as _np

from modin_spark.numpy.arr import array

# constants (re-exported from real numpy, like the reference)
e = _np.e
euler_gamma = _np.euler_gamma
inf = _np.inf
nan = _np.nan
newaxis = _np.newaxis
pi = _np.pi


def _as_arr(a):
    return a if isinstance(a, array) else array(a)


# ------------------------------------------------------------------ creation
def zeros_like(a, dtype=None, order="K", subok=True, shape=None) -> array:
    a = _as_arr(a)
    if shape is not None:
        return array(_np.zeros(shape, dtype=dtype or a.dtype))
    return a._map(lambda c: __import__("pyspark.sql.functions", fromlist=["lit"]).lit(0)).astype(dtype or a.dtype)


def ones_like(a, dtype=None, order="K", subok=True, shape=None) -> array:
    a = _as_arr(a)
    if shape is not None:
        return array(_np.ones(shape, dtype=dtype or a.dtype))
    return a._map(lambda c: __import__("pyspark.sql.functions", fromlist=["lit"]).lit(1)).astype(dtype or a.dtype)


def tri(N, M=None, k=0, dtype=float, like=None) -> array:
    return array(_np.tri(N, M, k, dtype=dtype))


# ------------------------------------------------------------------- shaping
def ravel(a, order="C") -> array:
    return _as_arr(a).flatten(order)


def shape(a):
    return _as_arr(a).shape if isinstance(a, array) else _np.shape(a)


def transpose(a, axes=None) -> array:
    if axes is not None:
        raise NotImplementedError("transpose(axes=) beyond a plain 2-D swap")
    return _as_arr(a).transpose()


def split(arr, indices, axis=0):
    return _as_arr(arr).split(indices, axis)


def hstack(tup, dtype=None, casting="same_kind") -> array:
    first, rest = _as_arr(tup[0]), list(tup[1:])
    return first.hstack(rest, dtype=dtype, casting=casting)


def append(arr, values, axis=None) -> array:
    return _as_arr(arr).append(values, axis)


def concatenate(arrays, axis=0, out=None, dtype=None, casting="same_kind") -> array:
    """np.concatenate: axis=0 chains engine concat (union-all, no shuffle);
    axis=1 is the aligned column concat. None flattens first like numpy."""
    if out is not None:
        raise NotImplementedError("concatenate(out=)")
    arrs = [_as_arr(a) for a in arrays]
    if not arrs:
        raise ValueError("need at least one array to concatenate")
    first, rest = arrs[0], arrs[1:]
    if axis is None:
        first = first.flatten()
        rest = [a.flatten() for a in rest]
        axis = 0
    if axis == 0 and first._ndim == 1:
        out_a = first
        for a in rest:
            out_a = out_a.append(a, axis=0)
        return out_a
    if axis in (0, 1) and first._ndim == 2:
        if axis == 0:
            out_a = first
            for a in rest:
                out_a = out_a.append(a, axis=0)
            return out_a
        return first.hstack(rest, dtype=dtype, casting=casting)
    if axis == 1 and first._ndim == 1:
        raise ValueError("axis 1 is out of bounds for array of dimension 1")
    raise NotImplementedError(f"concatenate(axis={axis})")


def vstack(tup, dtype=None, casting="same_kind") -> array:
    return concatenate([_as_arr(a) for a in tup], axis=0)


# --------------------------------------------------------------------- logic
def isscalar(e):
    return not isinstance(e, array) and _np.isscalar(e)


def _dispatch_unary(name):
    def fn(x, *args, **kwargs):
        return getattr(_as_arr(x), name)()
    fn.__name__ = name.strip("_")
    return fn


isnan = _dispatch_unary("_isnan")
isinf = _dispatch_unary("_isinf")
isfinite = _dispatch_unary("_isfinite")
isnat = _dispatch_unary("_isnat")
isneginf = _dispatch_unary("_isneginf")
isposinf = _dispatch_unary("_isposinf")
iscomplex = _dispatch_unary("_iscomplex")
isreal = _dispatch_unary("_isreal")
logical_not = _dispatch_unary("_logical_not")


def logical_and(x1, x2):
    return _as_arr(x1)._logical_and(x2)


def logical_or(x1, x2):
    return _as_arr(x1)._logical_or(x2)


def logical_xor(x1, x2):
    return _as_arr(x1)._logical_xor(x2)


def greater(x1, x2):
    return _as_arr(x1) > x2


def greater_equal(x1, x2):
    return _as_arr(x1) >= x2


def less(x1, x2):
    return _as_arr(x1) < x2


def less_equal(x1, x2):
    return _as_arr(x1) <= x2


def equal(x1, x2):
    return _as_arr(x1) == x2


def not_equal(x1, x2):
    return _as_arr(x1) != x2


def all(a, axis=None, **kw):
    return _as_arr(a).all(axis=axis)


def any(a, axis=None, **kw):
    return _as_arr(a).any(axis=axis)


# ---------------------------------------------------------------------- math
def abs(x, *a, **kw):  # noqa: A001 — numpy-parity name
    return _as_arr(x).__abs__()


absolute = abs


def add(x1, x2, *a, **kw):
    return _as_arr(x1) + x2


def subtract(x1, x2, *a, **kw):
    return _as_arr(x1) - x2


def multiply(x1, x2, *a, **kw):
    return _as_arr(x1) * x2


def divide(x1, x2, *a, **kw):
    return _as_arr(x1) / x2


true_divide = divide


def floor_divide(x1, x2, *a, **kw):
    return _as_arr(x1) // x2


def power(x1, x2, *a, **kw):
    return _as_arr(x1) ** x2


def remainder(x1, x2, *a, **kw):
    return _as_arr(x1) % x2


mod = remainder


def dot(a, b, out=None):
    return _as_arr(a).dot(b)


def matmul(a, b):
    return _as_arr(a).dot(b)


def sum(a, axis=None, **kw):  # noqa: A001
    return _as_arr(a).sum(axis=axis)


def prod(a, axis=None, **kw):
    return _as_arr(a).prod(axis=axis)


def mean(a, axis=None, **kw):
    return _as_arr(a).mean(axis=axis)


def var(x1, axis=None, dtype=None, out=None, ddof=0, keepdims=None, *, where=True):
    return _as_arr(x1).var(axis=axis, ddof=ddof)


def std(a, axis=None, ddof=0, **kw):
    return _as_arr(a).std(axis=axis, ddof=ddof)


def amax(a, axis=None, **kw):
    return _as_arr(a).max(axis=axis)


def amin(a, axis=None, **kw):
    return _as_arr(a).min(axis=axis)


max = amax  # noqa: A001
min = amin  # noqa: A001


def maximum(x1, x2, *a, **kw):
    y1 = _as_arr(x1)
    cond = y1 >= x2
    return cond.where(y1, x2) if isinstance(x2, array) else cond.where(y1, x2)


def minimum(x1, x2, *a, **kw):
    y1 = _as_arr(x1)
    cond = y1 <= x2
    return cond.where(y1, x2)


def argmax(a, axis=None, out=None, *, keepdims=None):
    return _as_arr(a).argmax(axis=axis)


def argmin(a, axis=None, out=None, *, keepdims=None):
    return _as_arr(a).argmin(axis=axis)


def sqrt(x, *a, **kw):
    return _as_arr(x).sqrt()


def exp(x, *a, **kw):
    return _as_arr(x).exp()


def tanh(x, *a, **kw):
    return _as_arr(x).tanh()


def _unary(name):
    def fn(x, *a, **kw):
        return getattr(_as_arr(x), name)()
    fn.__name__ = name
    return fn


log = _unary("log")
log2 = _unary("log2")
log10 = _unary("log10")
log1p = _unary("log1p")
expm1 = _unary("expm1")
sin = _unary("sin")
cos = _unary("cos")
tan = _unary("tan")
arcsin = _unary("arcsin")
arccos = _unary("arccos")
arctan = _unary("arctan")
sinh = _unary("sinh")
cosh = _unary("cosh")
floor = _unary("floor")
ceil = _unary("ceil")
sign = _unary("sign")


class linalg:  # namespace parity with numpy.linalg / reference linalg.py
    @staticmethod
    def norm(x, ord=None, axis=None, keepdims=False):
        return _as_arr(x)._norm(ord=ord, axis=axis, keepdims=keepdims)


__all__ = [
    "linalg", "array", "zeros_like", "ones_like", "tri",
    "ravel", "shape", "transpose", "split", "hstack", "append",
    "all", "any", "isfinite", "isinf", "isnan", "isnat", "isneginf",
    "isposinf", "iscomplex", "isreal", "isscalar", "logical_not",
    "logical_and", "logical_or", "logical_xor", "greater", "greater_equal",
    "less", "less_equal", "equal", "not_equal",
    "abs", "absolute", "add", "subtract", "multiply", "divide",
    "true_divide", "floor_divide", "power", "remainder", "mod",
    "dot", "matmul", "sum", "prod", "mean", "var", "std",
    "amax", "amin", "max", "min", "maximum", "minimum",
    "argmax", "argmin", "sqrt", "exp", "tanh", "where",
    "log", "log2", "log10", "log1p", "expm1", "sin", "cos", "tan",
    "arcsin", "arccos", "arctan", "sinh", "cosh", "floor", "ceil", "sign",
    "e", "euler_gamma", "inf", "nan", "newaxis", "pi",
]


def where(cond, x=None, y=None):
    """np.where(cond, x, y) — a conditional projection. Array operands ride
    the frame where/mask alignment; scalar/scalar pairs compile to one
    arithmetic blend (numeric), all JVM-side."""
    if x is None and y is None:
        # nonzero form: np.where(cond) -> tuple of index arrays of True
        # cells. The result is an ndarray by contract (driver-side by
        # definition); positions derive from the frame order, one filter +
        # bounded collect of the matching POSITIONS only (never the data).
        import numpy as _np

        from pyspark.sql import functions as _F

        c = _as_arr(cond)
        cdf = c._df
        if c._ndim == 1:
            fr = cdf[cdf.columns[0]]._to_frame("__c__").ensure_order().with_global_position("__p__")
            rows = fr.sdf.where(_F.col(fr.data_cols[0]).cast("boolean")).select("__p__").orderBy("__p__").collect()
            return (_np.array([r["__p__"] for r in rows], dtype="int64"),)
        # 2-D: row/col index pair per True cell
        fr = cdf._frame.ensure_order().with_global_position("__p__")
        ridx, cidx = [], []
        rows = fr.sdf.select("__p__", *[_F.col(d).cast("boolean").alias(f"__b{j}__")
                                        for j, d in enumerate(fr.data_cols)]).orderBy("__p__").collect()
        for r in rows:
            for j in range(len(fr.data_cols)):
                if r[f"__b{j}__"]:
                    ridx.append(r["__p__"])
                    cidx.append(j)
        return (_np.array(ridx, dtype="int64"), _np.array(cidx, dtype="int64"))
    if x is None or y is None:
        raise ValueError("either both or neither of x and y should be given")
    c = _as_arr(cond)
    cdf = c._df
    x_arr = isinstance(x, array) or isinstance(x, (list, tuple)) or getattr(x, "ndim", 0) > 0
    y_arr = isinstance(y, array) or isinstance(y, (list, tuple)) or getattr(y, "ndim", 0) > 0
    if c._ndim == 1:
        # Series.where handles sibling-projection rebase (the common
        # np.where(v > t, v, fill) shape)
        cs = cdf[cdf.columns[0]]
        if x_arr:
            xs = _as_arr(x)._df
            xs = xs[xs.columns[0]]
            other = _as_arr(y)._df if y_arr else y
            if y_arr:
                other = other[other.columns[0]]
            out = xs.where(cs, other).to_frame(0)
        elif y_arr:
            ys = _as_arr(y)._df
            out = ys[ys.columns[0]].mask(cs, x).to_frame(0)
        else:
            out = (cs.astype("int64") * x + (1 - cs.astype("int64")) * y).to_frame(0)
        return array(_df=out, _ndim=1)
    if x_arr:
        out = _as_arr(x)._df.where(cdf, other=(_as_arr(y)._df if y_arr else y))
        return array(_df=out, _ndim=c._ndim)
    if y_arr:
        out = _as_arr(y)._df.mask(cdf, x)
        return array(_df=out, _ndim=c._ndim)
    ci = cdf.astype("int64")
    out = ci * x + (1 - ci) * y
    return array(_df=out, _ndim=c._ndim)


def clip(a, a_min=None, a_max=None) -> array:
    arr_ = _as_arr(a)
    out = arr_._df.clip(lower=a_min, upper=a_max)
    return array(_df=out, _ndim=arr_._ndim)


def unique(a) -> array:
    """Sorted distinct values (numpy contract: SORTED, unlike pandas'
    first-appearance unique) — one distinct + sort, k-row result."""
    import pandas as _pd

    arr_ = _as_arr(a).flatten()
    vals = sorted(arr_._df.iloc[:, 0].unique().tolist())
    from modin_spark.pandas.io import from_pandas

    return array(_df=from_pandas(_pd.DataFrame({0: vals})), _ndim=1)


def reshape(a, newshape) -> array:
    return _as_arr(a).reshape(newshape)
