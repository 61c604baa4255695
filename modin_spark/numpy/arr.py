"""Distributed ndarray emulation (reference surface: modin/numpy/arr.py:154,
85 methods; this covers the same core — elementwise arithmetic/comparison/
logic, reductions along both axes, argmax/argmin, dot/matmul/norm, shaping,
is* predicates — on the engine's SparkFrame).

Layout: rows are axis 0 (distributed, ORDER-preserving), columns axis 1
(metadata-scale, positional labels 0..k-1). A 1-D array is a single-column
frame. Everything delegates to the already-tested engine DataFrame ops, so
binary alignment (lineage rebase or positional join), the numpy-ufunc
protocol, reductions and transpose reuse one code path; per-column scalar
broadcasts collect only k values (column-count metadata by definition).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

__all__ = ["array"]


def _engine_df(obj):
    from modin_spark.pandas.dataframe import DataFrame

    return obj if isinstance(obj, DataFrame) else None


class array:
    def __init__(self, object=None, dtype=None, *, _df=None, _ndim=None):
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.pandas.io import from_pandas
        from modin_spark.pandas.series import Series

        if _df is not None:
            self._df, self._ndim = _df, _ndim
            return
        if isinstance(object, array):
            self._df, self._ndim = object._df, object._ndim
            if dtype is not None:
                self._df = self._df.astype(dtype)
            return
        if isinstance(object, DataFrame):
            pdfcols = list(range(len(object.columns)))
            df = object.set_axis(pdfcols, axis=1) if list(object.columns) != pdfcols else object
            self._df, self._ndim = df.reset_index(drop=True), 2
            return
        if isinstance(object, Series):
            self._df, self._ndim = object.to_frame(0).reset_index(drop=True), 1
            return
        arr = np.asarray(object, dtype=dtype)
        if arr.ndim not in (1, 2):
            raise NotImplementedError("modin_spark.numpy supports 1-D and 2-D arrays")
        pdf = pd.DataFrame(arr if arr.ndim == 2 else arr.reshape(-1, 1))
        self._df = from_pandas(pdf)
        self._ndim = arr.ndim

    # ------------------------------------------------------------- metadata
    @property
    def ndim(self) -> int:
        return self._ndim

    @property
    def shape(self) -> tuple:
        n = len(self._df)
        return (n,) if self._ndim == 1 else (n, len(self._df.columns))

    @property
    def size(self) -> int:
        n = len(self._df)
        return n if self._ndim == 1 else n * len(self._df.columns)

    def __len__(self) -> int:
        return len(self._df)

    @property
    def dtype(self):
        dts = list(self._df._frame.dtypes)
        return np.result_type(*dts) if dts else np.dtype("float64")

    @property
    def T(self) -> "array":
        return self.transpose()

    def transpose(self) -> "array":
        if self._ndim == 1:
            return self
        out = self._df.transpose().reset_index(drop=True)
        out = out.set_axis(list(range(len(out.columns))), axis=1)
        return array(_df=out, _ndim=2)

    def astype(self, dtype, order="K", casting="unsafe", subok=True, copy=True) -> "array":
        return array(_df=self._df.astype(dtype), _ndim=self._ndim)

    def flatten(self, order="C") -> "array":
        """Row-major flatten of a 2-D array: one melt keyed on (row position,
        column position) — distributed, no driver data."""
        if self._ndim == 1:
            return array(_df=self._df, _ndim=1)
        from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        k = len(fr.data_cols)
        vcol = fresh_names(1)[0]
        exploded = fr.sdf.select(
            F.col(ORDER_COL).alias("__fo__"),
            F.posexplode(F.array(*[F.col(c).cast("double") for c in fr.data_cols])),
        ).select(
            (F.col("__fo__") * k + F.col("pos")).alias(ORDER_COL),
            F.col("col").alias(vcol),
        )
        nf = SparkFrame(exploded, pd.Index([0]), [vcol], [], [None])
        return array(_df=DataFrame(_frame=nf), _ndim=1)

    ravel = flatten

    # -------------------------------------------------------------- binary
    def _coerce_other(self, other):
        """Scalar -> scalar; array -> aligned engine frame or per-column
        scalar list (a (k,) array broadcasting across a (n,k) array collects
        only k values — column metadata by definition — and the frame
        operators take a list along the columns)."""
        if isinstance(other, (list, tuple, np.ndarray)):
            other = array(other)
        if not isinstance(other, array):
            return other  # scalar
        if self._ndim == 2 and other._ndim == 1:
            vals = other._df.to_pandas().iloc[:, 0].tolist()
            if len(vals) != len(self._df.columns):
                raise ValueError(f"operands could not be broadcast: {self.shape} vs {other.shape}")
            return vals
        return other._df

    def _binary(self, other, op, reverse=False):
        o = self._coerce_other(other)
        left = self._df
        name = {"add": "__add__", "sub": "__sub__", "mul": "__mul__", "div": "__truediv__",
                "floordiv": "__floordiv__", "pow": "__pow__", "mod": "__mod__",
                "gt": "__gt__", "ge": "__ge__", "lt": "__lt__", "le": "__le__",
                "eq": "__eq__", "ne": "__ne__"}[op]
        if reverse:
            rname = {"__add__": "__radd__", "__sub__": "__rsub__", "__mul__": "__rmul__",
                     "__truediv__": "__rtruediv__", "__floordiv__": "__rfloordiv__",
                     "__pow__": "__rpow__", "__mod__": "__rmod__", "__gt__": "__lt__",
                     "__ge__": "__le__", "__lt__": "__gt__", "__le__": "__ge__"}.get(name, name)
            out = getattr(left, rname)(o)
        else:
            out = getattr(left, name)(o)
        return array(_df=out, _ndim=max(self._ndim, getattr(other, "_ndim", 1)))

    def __add__(self, o): return self._binary(o, "add")
    def __radd__(self, o): return self._binary(o, "add", reverse=True)
    def __sub__(self, o): return self._binary(o, "sub")
    def __rsub__(self, o): return self._binary(o, "sub", reverse=True)
    def __mul__(self, o): return self._binary(o, "mul")
    def __rmul__(self, o): return self._binary(o, "mul", reverse=True)
    def __truediv__(self, o): return self._binary(o, "div")
    def __rtruediv__(self, o): return self._binary(o, "div", reverse=True)
    def __floordiv__(self, o): return self._binary(o, "floordiv")
    def __pow__(self, o): return self._binary(o, "pow")
    def __mod__(self, o): return self._binary(o, "mod")
    def __gt__(self, o): return self._binary(o, "gt")
    def __ge__(self, o): return self._binary(o, "ge")
    def __lt__(self, o): return self._binary(o, "lt")
    def __le__(self, o): return self._binary(o, "le")
    def __eq__(self, o): return self._binary(o, "eq")  # noqa: E501 — ndarray semantics
    def __ne__(self, o): return self._binary(o, "ne")

    divide = true_divide = __truediv__
    multiply = __mul__
    subtract = __sub__
    add = __add__
    power = __pow__
    remainder = __mod__
    floor_divide = __floordiv__

    def __abs__(self) -> "array":
        return array(_df=self._df.abs(), _ndim=self._ndim)

    absolute = __abs__

    def __invert__(self) -> "array":
        return self._map(lambda c: ~c.cast("boolean") if str(self.dtype) == "bool" else ~c.cast("long"))

    def __neg__(self) -> "array":
        return self._map(lambda c: -c)

    # ---------------------------------------------------------- elementwise
    def _map(self, fn) -> "array":
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        exprs = [fn(fr.scol(i)) for i in range(len(fr.columns))]
        return array(_df=DataFrame(_frame=fr.project(list(fr.columns), exprs)), _ndim=self._ndim)

    def exp(self, *a, **kw): return self._map(lambda c: F.exp(c))
    def sqrt(self, *a, **kw): return self._map(lambda c: F.sqrt(c))
    def tanh(self, *a, **kw): return self._map(lambda c: F.tanh(c))
    def log(self, *a, **kw): return self._map(lambda c: F.log(c))
    def log2(self, *a, **kw): return self._map(lambda c: F.log2(c))
    def log10(self, *a, **kw): return self._map(lambda c: F.log10(c))
    def log1p(self, *a, **kw): return self._map(lambda c: F.log1p(c))
    def expm1(self, *a, **kw): return self._map(lambda c: F.expm1(c))
    def sin(self, *a, **kw): return self._map(lambda c: F.sin(c))
    def cos(self, *a, **kw): return self._map(lambda c: F.cos(c))
    def tan(self, *a, **kw): return self._map(lambda c: F.tan(c))
    def arcsin(self, *a, **kw): return self._map(lambda c: F.asin(c))
    def arccos(self, *a, **kw): return self._map(lambda c: F.acos(c))
    def arctan(self, *a, **kw): return self._map(lambda c: F.atan(c))
    def sinh(self, *a, **kw): return self._map(lambda c: F.sinh(c))
    def cosh(self, *a, **kw): return self._map(lambda c: F.cosh(c))
    def floor(self, *a, **kw): return self._map(lambda c: F.floor(c).cast("double"))
    def ceil(self, *a, **kw): return self._map(lambda c: F.ceil(c).cast("double"))
    def sign(self, *a, **kw): return self._map(lambda c: F.signum(c))

    def _isnan(self, *a, **kw):
        return self._map(lambda c: c.isNull() | (F.isnan(c) if self.dtype.kind == "f" else F.lit(False)))

    # NaN ingests as NULL engine-wide (pandas NaN-as-missing semantics), so
    # every predicate treats NULL as NaN explicitly
    def _isfinite(self, *a, **kw):
        if self.dtype.kind != "f":
            return self._map(lambda c: F.lit(True))
        return self._map(lambda c: c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))

    def _isinf(self, *a, **kw):
        if self.dtype.kind != "f":
            return self._map(lambda c: F.lit(False))
        return self._map(lambda c: F.coalesce(F.abs(c) == F.lit(float("inf")), F.lit(False)))

    def _isneginf(self, *a, **kw):
        return self._map(lambda c: F.coalesce(c == F.lit(float("-inf")), F.lit(False))
                         if self.dtype.kind == "f" else F.lit(False))

    def _isposinf(self, *a, **kw):
        return self._map(lambda c: F.coalesce(c == F.lit(float("inf")), F.lit(False))
                         if self.dtype.kind == "f" else F.lit(False))

    def _isnat(self, *a, **kw):
        if self.dtype.kind != "M":
            raise TypeError("isnat only supports datetime arrays")
        return self._map(lambda c: c.isNull())

    def _iscomplex(self):
        return self._map(lambda c: F.lit(False))

    def _isreal(self):
        return self._map(lambda c: F.lit(self.dtype.kind in "iuf b".replace(" ", "")))

    def _logical_unop(self):
        return self._map(lambda c: ~c.cast("boolean"))

    _logical_not = _logical_unop

    def _logical_binop(self, other, op):
        import operator as _op

        o = self._coerce_other(other)
        if not isinstance(o, (int, float, bool, np.bool_)) and _engine_df(o) is None:
            raise NotImplementedError("logical ops need an array or scalar")
        # numpy truth values, then the frame's own &, |, ^ (per-column
        # Series operators, one alignment)
        left = self._map(lambda c: c.cast("boolean"))._df
        right = (array(_df=o, _ndim=self._ndim)._map(lambda c: c.cast("boolean"))._df
                 if _engine_df(o) is not None else bool(o))
        out = {"and": _op.and_, "or": _op.or_, "xor": _op.xor}[op](left, right)
        return array(_df=out, _ndim=self._ndim)

    def _logical_and(self, other): return self._logical_binop(other, "and")
    def _logical_or(self, other): return self._logical_binop(other, "or")
    def _logical_xor(self, other): return self._logical_binop(other, "xor")

    def where(self, x=None, y=None) -> "array":
        """np.where(cond, x, y): conditional projection, one pass."""
        from modin_spark.pandas.dataframe import DataFrame

        if x is None and y is None:
            from modin_spark import numpy as _mnp

            return _mnp.where(self)  # nonzero form
        fr = self._df._frame
        xf = x._df._frame if isinstance(x, array) else None
        yf = y._df._frame if isinstance(y, array) else None

        def pick(src, i):
            if src is None:
                return None
            return src.scol(i)

        exprs = []
        for i in range(len(fr.columns)):
            xe = pick(xf, i) if xf is not None else F.lit(x)
            ye = pick(yf, i) if yf is not None else F.lit(y)
            # same-lineage fast path: expressions evaluate on this frame
            exprs.append(F.when(fr.scol(i).cast("boolean"), xe).otherwise(ye))
        if (xf is not None and not fr.can_rebase(xf, set(xf.data_cols))) or (
                yf is not None and not fr.can_rebase(yf, set(yf.data_cols))):
            raise NotImplementedError(
                "np.where with unrelated-lineage operands: align them first "
                "(derive x/y from the condition's source array)")
        return array(_df=DataFrame(_frame=fr.project(list(fr.columns), exprs)), _ndim=self._ndim)

    # ------------------------------------------------------------ reductions
    def _reduce(self, name, axis=None, ddof=None, **kw):
        kwargs = {"ddof": ddof} if ddof is not None else {}
        if axis in (None, 0):
            row = getattr(self._df, name)(**kwargs) if not kwargs else getattr(self._df, name)(**kwargs)
            # engine frame reductions return a driver pandas Series of k
            # per-column scalars (column metadata by definition)
            vals = row if isinstance(row, pd.Series) else pd.Series(row)
            if axis == 0 and self._ndim == 2:
                return array(vals.to_numpy())
            if self._ndim == 1:
                return vals.iloc[0] if len(vals) else np.nan
            # axis=None on 2-D: combine per-column partials driver-side
            npv = vals.to_numpy()
            return getattr(np, name if name != "prod" else "prod")(npv) if name in (
                "sum", "prod", "min", "max", "all", "any") else float(getattr(np, name)(npv)) if name in ("mean",) else self._flat_reduce(name, **kwargs)
        # axis=1: one row expression, stays distributed
        out = getattr(self._df, name)(axis=1, **kwargs)
        return array(_df=out.to_frame(0).reset_index(drop=True), _ndim=1)

    def _flat_reduce(self, name, **kwargs):
        return getattr(self.flatten()._df, name)(**kwargs).iloc[0]

    def sum(self, axis=None, **kw): return self._reduce("sum", axis)
    def prod(self, axis=None, **kw): return self._reduce("prod", axis)
    def min(self, axis=None, **kw): return self._reduce("min", axis)
    def max(self, axis=None, **kw): return self._reduce("max", axis)

    def mean(self, axis=None, dtype=None, out=None, keepdims=None, *, where=True):
        if axis in (None,) and self._ndim == 2:
            # exact: flatten once (weights differ per column count otherwise)
            return self._flat_reduce("mean")
        return self._reduce("mean", axis)

    def var(self, axis=None, dtype=None, out=None, ddof=0, keepdims=None, *, where=True):
        if axis is None and self._ndim == 2:
            return self._flat_reduce("var", ddof=ddof)
        return self._reduce("var", axis, ddof=ddof)

    def std(self, axis=None, ddof=0, **kw):
        if axis is None and self._ndim == 2:
            return self._flat_reduce("std", ddof=ddof)
        return self._reduce("std", axis, ddof=ddof)

    def all(self, axis=None, out=None, keepdims=None, *, where=True):
        r = self._reduce("all", axis)
        return bool(r) if not isinstance(r, array) else r

    def any(self, axis=None, out=None, keepdims=None, *, where=True):
        r = self._reduce("any", axis)
        return bool(r) if not isinstance(r, array) else r

    def _argextreme(self, largest: bool, axis=None):
        """Position of the first max/min — ONE struct aggregate per column
        (value, -position) so ties take the smallest position; NaN sorts
        largest in Spark, matching numpy's NaN-propagating argmax."""
        from modin_spark.core.frame import ORDER_COL

        fr = self._df._frame.ensure_order().with_global_position("__np_pos__")
        sdf = fr.sdf
        aggs = []
        for i, c in enumerate(fr.data_cols):
            v = F.col(c)
            key = F.struct((v if largest else -v).alias("v"), (-F.col("__np_pos__")).alias("np"))
            aggs.append(F.max(key).alias(f"__m{i}__"))
        row = sdf.agg(*aggs).collect()[0]
        poss = [int(-row[f"__m{i}__"]["np"]) for i in range(len(fr.data_cols))]
        if self._ndim == 1:
            return poss[0]
        if axis == 0:
            return array(np.asarray(poss))
        raise NotImplementedError("argmax/argmin with axis=1 or flat 2-D")

    def argmax(self, axis=None, out=None, keepdims=None):
        return self._argextreme(True, axis)

    def argmin(self, axis=None, out=None, keepdims=None):
        return self._argextreme(False, axis)

    # ------------------------------------------------------------- linalg
    def dot(self, other, out=None):
        if not isinstance(other, array):
            other = array(other)
        if self._ndim == 1 and other._ndim == 1:
            return float((self * other).sum())
        res = self._df.dot(other._df.to_pandas())
        if hasattr(res, "_frame"):
            from modin_spark.pandas.series import Series

            if isinstance(res, Series):
                return array(_df=res.to_frame(0).reset_index(drop=True), _ndim=1)
            return array(res)
        return res

    __matmul__ = dot

    def _norm(self, ord=None, axis=None, keepdims=False):
        if ord not in (None, 2):
            raise NotImplementedError("only the Frobenius/L2 norm")
        sq = self._map(lambda c: c * c)
        s = sq.sum(axis=axis)
        if isinstance(s, array):
            return s._map(lambda c: F.sqrt(c))
        return float(np.sqrt(s))

    # ------------------------------------------------------------- shaping
    def append(self, values, axis=None) -> "array":
        import modin_spark.pandas as mpd

        v = values if isinstance(values, array) else array(values)
        if axis is None:
            return array(_df=mpd.concat([self.flatten()._df, v.flatten()._df], ignore_index=True), _ndim=1)
        if axis == 0:
            return array(_df=mpd.concat([self._df, v._df], ignore_index=True), _ndim=max(self._ndim, v._ndim))
        return self.hstack([v])

    def hstack(self, others, dtype=None, casting="same_kind") -> "array":
        import modin_spark.pandas as mpd

        dfs = [self._df] + [(o if isinstance(o, array) else array(o))._df for o in others]
        if self._ndim == 1:
            return array(_df=mpd.concat(dfs, ignore_index=True), _ndim=1)
        out = mpd.concat(dfs, axis=1)
        out = out.set_axis(list(range(len(out.columns))), axis=1)
        return array(_df=out, _ndim=2)

    def split(self, indices, axis=0):
        if axis != 0:
            raise NotImplementedError("split along axis 1: slice columns instead")
        n = len(self)
        if isinstance(indices, int):
            if n % indices:
                raise ValueError("array split does not result in an equal division")
            cuts = [n // indices * i for i in range(1, indices)]
        else:
            cuts = list(indices)
        bounds = [0] + cuts + [n]
        out = []
        for lo, hi in zip(bounds, bounds[1:]):
            sub = self._df.iloc[lo:hi].reset_index(drop=True)
            out.append(array(_df=sub, _ndim=self._ndim))
        return out

    # ------------------------------------------------------------ indexing
    def __getitem__(self, key):
        if isinstance(key, int):
            row = self._df.iloc[key]
            if self._ndim == 1:
                v = row.iloc[0] if hasattr(row, "iloc") else row
                return v
            return array(np.asarray(list(row)))
        if isinstance(key, slice):
            return array(_df=self._df.iloc[key].reset_index(drop=True), _ndim=self._ndim)
        if isinstance(key, tuple) and len(key) == 2 and self._ndim == 2:
            r, c = key
            sub = self._df[[c]] if not isinstance(c, slice) else self._df
            if isinstance(r, slice):
                sub = sub.iloc[r].reset_index(drop=True)
                if not isinstance(c, slice):
                    return array(_df=sub.set_axis([0], axis=1), _ndim=1)
                return array(_df=sub, _ndim=2)
            val = sub.iloc[r]
            return val.iloc[0] if not isinstance(c, slice) and hasattr(val, "iloc") else val
        if isinstance(key, array):  # boolean mask
            masked = self._df[key._df[0] if key._ndim == 1 else key._df]
            return array(_df=masked.reset_index(drop=True), _ndim=self._ndim)
        if isinstance(key, (list, np.ndarray)):
            karr = np.asarray(key)
            if karr.dtype == bool:
                return self[array(karr.tolist())]
            # fancy integer row index: iloc list select (keeps repeat order)
            sub = self._df.iloc[[int(i) for i in karr]].reset_index(drop=True)
            return array(_df=sub, _ndim=self._ndim)
        raise NotImplementedError(f"indexing with {type(key)}")

    def reshape(self, *shape) -> "array":
        """Row-major reshape: flatten (one melt, distributed), then regroup —
        row r of the target = elements [r*ncols, (r+1)*ncols), one
        groupBy(pos // ncols) with ncols conditional aggregates. A -1 dim is
        resolved from one count job."""
        if len(shape) == 1 and isinstance(shape[0], (tuple, list)):
            shape = tuple(shape[0])
        if len(shape) == 1:
            n = shape[0]
            flat = self.flatten()
            if n == -1:
                return flat
            return flat
        if len(shape) != 2:
            raise NotImplementedError("reshape beyond 2-D")
        from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names
        from modin_spark.pandas.dataframe import DataFrame

        nrows, ncols = shape
        flat = self.flatten()
        if nrows == -1 or ncols == -1:
            total = len(flat._df)
            if ncols == -1:
                ncols = total // nrows
            else:
                nrows = total // ncols
        fr = flat._df._frame.ensure_order().with_global_position("__rp__")
        v = F.col(fr.data_cols[0])
        out_phys = fresh_names(ncols)
        aggs = [F.max(F.when(F.col("__rp__") % ncols == j, v)).alias(p)
                for j, p in enumerate(out_phys)]
        sdf = fr.sdf.groupBy((F.col("__rp__") / ncols).cast("long").alias("__rr__")).agg(*aggs)
        sdf = sdf.withColumn(ORDER_COL, F.col("__rr__")).drop("__rr__")
        nf = SparkFrame(sdf, __import__("pandas").Index(range(ncols)), out_phys, [], [None],
                        has_order=True)
        return array(_df=DataFrame(_frame=nf), _ndim=2)

    # ------------------------------------------------------------- numpy io
    def _to_numpy(self) -> np.ndarray:
        pdf = self._df.to_pandas()
        return pdf.iloc[:, 0].to_numpy() if self._ndim == 1 else pdf.to_numpy()

    to_numpy = _to_numpy
    __array__ = _to_numpy

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        """Delegate the numpy ufunc protocol to per-element expressions."""
        name = ufunc.__name__
        simple = {"exp": self.exp, "sqrt": self.sqrt, "tanh": self.tanh,
                  "absolute": self.__abs__, "isnan": self._isnan,
                  "isinf": self._isinf, "isfinite": self._isfinite,
                  "log": self.log, "log2": self.log2, "log10": self.log10,
                  "log1p": self.log1p, "expm1": self.expm1,
                  "sin": self.sin, "cos": self.cos, "tan": self.tan,
                  "arcsin": self.arcsin, "arccos": self.arccos,
                  "arctan": self.arctan, "sinh": self.sinh, "cosh": self.cosh,
                  "floor": self.floor, "ceil": self.ceil, "sign": self.sign,
                  "negative": self.__neg__}
        if method == "__call__" and name in simple and inputs[0] is self:
            return simple[name]()
        binops = {"add": "add", "subtract": "sub", "multiply": "mul",
                  "true_divide": "div", "floor_divide": "floordiv",
                  "power": "pow", "remainder": "mod",
                  "greater": "gt", "greater_equal": "ge", "less": "lt",
                  "less_equal": "le", "equal": "eq", "not_equal": "ne"}
        if method == "__call__" and name in binops and len(inputs) == 2:
            a, b = inputs
            if a is self:
                return self._binary(b, binops[name])
            return self._binary(a, binops[name], reverse=True)
        return NotImplemented

    def __repr__(self):
        head = self._df.head(10).to_pandas().to_numpy()
        return f"array({head if self._ndim == 2 else head.ravel()}...)" if len(self._df) > 10 else (
            f"array({self._to_numpy()})")
