"""Series — a lazy column expression anchored to a SparkFrame.

Unlike the reference (modin Series = 1-column frame,
/root/reference/modin/pandas/series.py:87), a modin_spark Series is a pure
Spark ``Column`` expression plus the frame it is anchored to. Ops between
series of the same row lineage compose expressions JVM-side (narrow, zero
shuffles, full whole-stage codegen); only genuinely unrelated frames fall
back to an index-alignment join. ``df["x"] = df.a + df.b`` therefore compiles
to a single ``select`` — the same plan a hand-written Spark query would get.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from modin_spark.core import compiler as qc
from modin_spark.core import windows as win
from modin_spark.pandas import native as _native
from modin_spark.core.frame import ORDER_COL, SparkFrame, pandas_dtype_to_spark, spark_to_pandas_dtype
from modin_spark.functions import DT_FUNCS, STR_FUNCS


def _lit(v) -> Column:
    if isinstance(v, pd.Timestamp):
        return F.lit(v.to_pydatetime())
    if isinstance(v, float) and v != v:
        # pandas NaN means MISSING; Spark's double NaN is a value that
        # neither isNull nor coalesce treats as absent — ingest as NULL
        return F.lit(None).cast("double")
    return F.lit(v)


def _nan_to_null(e: Column) -> Column:
    """Normalize a COMPUTED float NaN to NULL — the engine's one missing
    encoding. Spark NaN is an ordinary value (NaN == NaN is true, NaN sorts
    greatest, aggregates include it), so a NaN born from arithmetic
    (0/0 upstream, inf-inf, 0*inf, inf%x, neg**frac, asin(|x|>1)) would
    silently diverge from pandas' treat-as-missing semantics in every
    downstream op (isna, mean, groupby keys, rank, dedup...). to_pandas
    renders NULL as np.nan, so the user-visible value is identical.
    Callers must ensure the expression's type survives isnan's implicit
    cast (numerics do; temporals error; a string column would null out a
    literal 'NaN' string — gate on types first)."""
    return F.when(~F.isnan(e), e)


def _pmod(a: Column, b: Column) -> Column:
    """numpy floor-mod: the remainder takes the divisor's sign. Spark's %
    keeps the dividend's, so a remainder of the other sign moves by one
    divisor (-3 % inf is inf, 3 % inf is 3); a zero remainder is +0."""
    r = a % b
    return F.when(r == 0, F.abs(r)).when((r < 0) != (b < 0), r + b).otherwise(r)


# types through which the computed-NaN guard is safe AND useful: numeric
# results survive isnan's implicit cast unchanged, and only float math can
# mint a NaN in the first place
_NAN_GUARD_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                    T.FloatType, T.DoubleType, T.DecimalType, T.NullType)


_MASKED_EXT_NAMES = {"Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16",
                     "UInt32", "UInt64", "Float32", "Float64", "boolean"}


def _is_plain_dateoffset(o) -> bool:
    """A bare pd.DateOffset (calendar fields); named offsets (MonthEnd...)
    and Timedelta take other paths."""
    return type(o) is pd.DateOffset


def _dateoffset_interval(o):
    """pd.DateOffset -> ONE Spark make_interval literal (timestamp + interval
    keeps the time-of-day, unlike add_months)."""
    kw = dict(getattr(o, "kwds", {}) or {})
    n = int(getattr(o, "n", 1))
    months = (kw.pop("years", 0) * 12 + kw.pop("months", 0)) * n
    weeks = kw.pop("weeks", 0) * n
    days = kw.pop("days", 0) * n
    hours = kw.pop("hours", 0) * n
    minutes = kw.pop("minutes", 0) * n
    seconds = (kw.pop("seconds", 0) + kw.pop("microseconds", 0) / 1e6) * n
    if kw:
        raise NotImplementedError(f"DateOffset fields {sorted(kw)}")
    return F.make_interval(
        F.lit(0), F.lit(int(months)), F.lit(int(weeks)), F.lit(int(days)),
        F.lit(int(hours)), F.lit(int(minutes)), F.lit(float(seconds)),
    )


def _interval_micros(c: Column) -> Column:
    """Exact microseconds in a day-time interval column: anchor it to epoch 0
    and read unix_micros (the session tz is pinned UTC, so the anchor IS 0).
    A direct numeric cast would truncate to whole seconds."""
    return F.unix_micros(F.to_timestamp(F.lit("1970-01-01")) + c)


def _pow(a: Column, b: Column) -> Column:
    """numpy power: x ** 0 and 1 ** y are 1 even when the other operand is
    missing (NaN); a computed NaN (negative ** fraction) is missing."""
    return F.when((b == 0) | (a == 1), F.lit(1.0)).otherwise(_nan_to_null(F.pow(a, b)))


def _true_div(a: Column, b: Column) -> Column:
    # pandas semantics: x/0 -> signed inf, 0/0 -> NaN (Spark yields NULL).
    # 0/0 lands as NULL (the engine's missing encoding, == pandas NaN after
    # to_pandas); the guard also catches inf/inf -> Spark NaN.
    q = a.cast("double") / b.cast("double")
    return F.when(
        b.cast("double") == 0,
        F.when(a.cast("double") == 0, F.lit(None).cast("double"))
         .otherwise(F.lit(float("inf")) * F.signum(a)),
    ).otherwise(_nan_to_null(q))


def _floor_div(a: Column, b: Column) -> Column:
    """numpy floor_divide in the double domain: x // 0 is a signed inf and
    0 // 0 NaN (as truediv); an infinite dividend gives NaN, an infinite
    divisor -1 or 0 by sign (-3 // inf is -1). The quotient is (a - r) / b
    with the truncated remainder r, one lower where r's sign differs from
    b's, rounded to the nearest integer against float error; Spark's FLOOR
    would return a LONG, which overflows on infinity."""
    a, b = a.cast("double"), b.cast("double")
    r = a % b
    q = (a - r) / b - F.when((r != 0) & ((r < 0) != (b < 0)), 1).otherwise(0)
    return F.when(b == 0, _true_div(a, b)).otherwise(_nan_to_null(F.rint(q)))


def _int_floor_div(a: Column, b: Column) -> Column:
    """Exact int // nonzero-int floor division, int64 result (pandas: int
    dtype survives floordiv by a nonzero int). (a - a % b) is exactly
    divisible by b, giving truncation-toward-zero; subtracting 1 where the
    remainder's sign disagrees with the divisor's turns it into FLOOR for
    negative operands, pandas-style. Decimal math keeps it exact past 2^53
    where the double path would round."""
    D = "decimal(38,0)"
    r0 = a % b  # Spark %: remainder with the DIVIDEND's sign
    trunc = (a.cast(D) - r0.cast(D)) / b.cast(D)
    return (
        F.when((r0 != 0) & ((r0 < 0) != (b < 0)), trunc - 1)
        .otherwise(trunc)
        .cast("bigint")
    )


def _is_nonzero_int_scalar(o) -> bool:
    import numbers

    return isinstance(o, numbers.Integral) and not isinstance(o, bool) and o != 0


_PROBE_DF_CACHE: dict[tuple, Any] = {}


def _probe_type(schema_map: dict, expr: Column) -> T.DataType:
    """Resolve an expression's result type against a cached EMPTY relation
    with the given schema — a constant-size analysis instead of re-analyzing
    the frame's full plan per probe. Raises when the expr doesn't bind by
    name (caller falls back to the real plan)."""
    key = tuple((n, str(t)) for n, t in schema_map.items())
    empty = _PROBE_DF_CACHE.get(key)
    if empty is None:
        from modin_spark.session import get_spark

        empty = get_spark().createDataFrame([], schema=T.StructType(
            [T.StructField(n, t) for n, t in schema_map.items()]))
        if len(_PROBE_DF_CACHE) > 256:  # bound the schema zoo
            _PROBE_DF_CACHE.clear()
        _PROBE_DF_CACHE[key] = empty
    return empty.select(expr.alias("__t__")).schema.fields[0].dataType


def _replace_key_fits(k, st: T.DataType) -> bool:
    """Whether ``replace`` key ``k`` can equal a value of Spark type ``st``
    (pandas: the column can hold it): strings in string columns, bools in
    bool columns, other numbers in numeric columns, dates and datetimes in
    datetime columns. A missing key (None/NaN) is kept."""
    import datetime as _dt

    import numpy as _np

    if k is None or (isinstance(k, float) and k != k):
        return True
    if isinstance(st, T.StringType):
        return isinstance(k, str)
    if isinstance(st, T.BooleanType):
        return isinstance(k, (bool, _np.bool_))
    if isinstance(st, T.NumericType):
        return isinstance(k, (int, float, _np.number)) and not isinstance(k, bool)
    if isinstance(st, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return isinstance(k, (_dt.date, _np.datetime64))
    return True


# value-semantics dtype metadata a Series can carry past its Spark type
_META_ATTRS = ("_cat_dtype", "_post_to_pandas", "_astype_str_null", "_ext_dtype", "_tz_meta")


def _nullable(x) -> bool:
    """``x`` carries a pandas nullable extension dtype (NA compares as NA).
    An inferred categorical's dtype rides the same attribute but compares
    as plain values."""
    d = getattr(x, "_ext_dtype", None)
    return d is not None and not isinstance(d, pd.CategoricalDtype)


def _flex_method(op: str, fn_of, reverse: bool = False):
    """Series flex method of operator ``op``: the operator itself, or, with
    ``fill_value``, the column function ``fn_of(self, other)`` on the
    filled operands."""
    def method(self, other, level=None, fill_value=None, axis=0):
        if fill_value is None:
            return getattr(self, op)(other)
        return self._fill_binary(other, fn_of(self, other), reverse, fill_value)

    method.__name__ = op.strip("_")
    return method


class Series:
    def __init__(self, data=None, index=None, dtype=None, name=None, copy=None, filter_expr: Column | None = None):
        """Dual-mode constructor.

        Public form mirrors the reference signature
        (modin/pandas/series.py:122): ``Series(data, index=None, dtype=None,
        name=None, copy=None)`` with data a list / ndarray / dict /
        pd.Series / scalar / Series — materialized through pandas then
        ingested via SparkFrame.from_pandas (deferred-native, so small
        constructions stay driver-side until a distributed op needs them).

        Internal form (every call site in this package) passes
        ``(SparkFrame, Column, refs, name=, filter_expr=)`` positionally —
        detected by the (SparkFrame, Column) type pair, impossible for
        public data/index values.
        """
        if isinstance(data, SparkFrame) and isinstance(index, Column):
            self._frame = data
            self._expr = index
            self._refs = set(dtype)
            self._name = name
            # comparisons wrap NULL->False for pandas value semantics, but
            # that coalesce blocks parquet predicate pushdown; _filter_expr
            # keeps the raw 3VL predicate (identical rows kept as WHERE mask)
            self._filter_expr = filter_expr
            return
        if isinstance(data, Series):
            data = data.to_pandas()
        if isinstance(data, pd.Series):
            ps = data
            if index is not None:
                ps = ps.reindex(index)
            if dtype is not None:
                ps = ps.astype(dtype)
            if name is not None:
                ps = ps.rename(name)
        else:
            ps = pd.Series(data, index=index, dtype=dtype, name=name, copy=copy)
        fr = SparkFrame.from_pandas(ps.to_frame("__ser__" if ps.name is None else ps.name))
        self._frame = fr
        self._expr = fr.scol(0)
        self._refs = {fr.data_cols[0]}
        self._name = ps.name
        self._filter_expr = None
        if fr._sdf is None and fr.native_pdf is not None:
            self._native_col = 0
        if getattr(ps.dtype, "name", "") in _MASKED_EXT_NAMES:
            self._ext_dtype = ps.dtype
            self._post_to_pandas = lambda x, _d=ps.dtype: x.astype(_d)
        elif isinstance(ps.dtype, pd.CategoricalDtype):
            self._cat_dtype = ps.dtype
            self._post_to_pandas = lambda x, _d=ps.dtype: x.astype(_d)

    # ------------------------------------------------------------- plumbing
    @classmethod
    def _from_frame(cls, frame: SparkFrame) -> "Series":
        assert len(frame.data_cols) == 1
        s = cls(frame, frame.scol(0), {frame.data_cols[0]}, name=frame.columns[0])
        if frame._sdf is None and frame.native_pdf is not None:
            # pristine deferred-ingest frame: this IS its only column — mark
            # it so chained native Series ops and to_pandas stay driver-side
            s._native_col = 0
        return s

    @classmethod
    def _from_pandas(cls, ps: pd.Series) -> "Series":
        fr = SparkFrame.from_pandas(ps.to_frame("__ser__" if ps.name is None else ps.name))
        s = cls._from_frame(fr)
        s._name = ps.name
        if getattr(ps.dtype, "name", "") in _MASKED_EXT_NAMES:
            s._ext_dtype = ps.dtype
            s._post_to_pandas = lambda x, _d=ps.dtype: x.astype(_d)
        elif isinstance(ps.dtype, pd.CategoricalDtype):
            s._cat_dtype = ps.dtype
            s._post_to_pandas = lambda x, _d=ps.dtype: x.astype(_d)
        return s

    def _rewrap(self, fr: SparkFrame) -> "Series":
        """Wrap a 1-col frame derived from self, keeping self's name (the
        frame label may be the positional/placeholder one _to_frame used)."""
        s = Series._from_frame(fr)
        s._name = self._name
        return s

    @property
    def name(self):
        return self._name

    def rename(self, name=None, index=None) -> "Series":
        mapper = index if index is not None else name
        if callable(mapper) or isinstance(mapper, dict):
            # pandas: a callable/dict RELABELS the index, not the series name
            out = self.to_frame(self._name if self._name is not None else "__v__")
            out = out.rename(index=mapper)
            s = Series._from_frame(out._frame)
            s._name = self._name
            return s
        return Series(self._frame, self._expr, self._refs, name=mapper)

    def _to_frame(self, label=None) -> SparkFrame:
        lbl = label if label is not None else (self._name if self._name is not None else 0)
        sj = getattr(self, "_semijoin", None)
        if sj is not None:
            # a semijoin-marked isin(Series) mask used as a VALUE (not a
            # filter): resolve the other side's distinct values once —
            # bounded collect; masks against unbounded value sets should be
            # consumed as filters (df[mask]), which stay join-based
            other, expr, neg = sj
            vals_sdf = other._frame.sdf.select(other._expr.alias("__iv__")).where(
                other._expr.isNotNull()).distinct().limit(1_000_001)
            vals = [r["__iv__"] for r in vals_sdf.collect()]
            if len(vals) > 1_000_000:
                raise ValueError(
                    "isin(Series) mask materialization capped at 1M distinct "
                    "values; consume the mask as a filter (df[mask]) instead")
            e = F.coalesce(expr.isin(vals) if vals else F.lit(False), F.lit(False))
            if neg:
                e = ~e
            return self._frame.project([lbl], [e])
        return self._frame.project([lbl], [self._expr])

    def to_csv(self, path=None, **kw):
        """pandas Series.to_csv: no path -> the CSV string (driver-bound by
        contract, full pandas kwargs); a path -> the distributed frame sink."""
        if path is None:
            return self.to_pandas().to_csv(**kw)
        return self.to_frame(self._name if self._name is not None else 0).to_csv(path, **kw)

    def to_frame(self, name=None):
        from modin_spark.pandas.dataframe import DataFrame

        return DataFrame(_frame=self._to_frame(name))

    # ------------------------------------------------------------ execution
    def to_pandas(self) -> pd.Series:
        ps = _native.series_pdf_of(self)
        if ps is not None:
            out = ps.copy()
            out.name = self._name
            return out
        pdf = self._to_frame("__v__").to_pandas()
        out = pdf["__v__"]
        out.name = self._name
        post = getattr(self, "_post_to_pandas", None)
        if post is not None:
            # driver-side dtype reconstruction (e.g. cut's ordered
            # interval Categorical riding on string storage)
            out = post(out)
        pidx = getattr(self, "_post_to_pandas_index", None)
        if pidx is not None:
            out.index = pidx(out.index)
        return out

    def to_spark(self):
        return self._to_frame().to_spark()

    def __len__(self) -> int:
        return self._frame.count_rows()

    def __repr__(self) -> str:
        head = self._rewrap(self._to_frame().head(30)).to_pandas()
        return repr(head)

    @property
    def dtype(self):
        import numpy as np

        # a real np.dtype (pandas contract: `.kind`, comparisons with both
        # np.dtype and strings); every name in _SPARK_TO_PANDAS parses
        return np.dtype(spark_to_pandas_dtype(self.spark_type))

    @property
    def spark_type(self) -> T.DataType:
        fr = self._frame
        cached = getattr(self, "_stype_cache", None)
        if cached is not None and cached[0] is fr:
            return cached[1]
        t = self._spark_type_uncached(fr)
        # memoized per (frame, expr) — the expr is fixed at construction and
        # the rare in-place _frame swaps invalidate via the identity check.
        # Every arithmetic op probes the operand types (the computed-NaN
        # guard), so uncached probes re-ran Catalyst analysis per op (r15).
        object.__setattr__(self, "_stype_cache", (fr, t))
        return t

    def _spark_type_uncached(self, fr) -> T.DataType:
        # plain column extraction: the answer is already in the frame's
        # schema map (pyspark caches .schema per DataFrame) — no analysis
        pos = getattr(self, "_native_col", None)
        if pos is not None:
            try:
                return fr.spark_type_of(pos)
            except Exception:
                pass
        if fr._sdf is None and getattr(fr, "_native_schema", None) is not None:
            # pristine deferred-native frame: resolving the type must NOT
            # force JVM ingestion (that clears the native marker and kills
            # the duplicate-label positional fast path in _combine). A
            # plain column extraction reads the precomputed ingest schema;
            # a derived expression resolves against an EMPTY same-schema
            # DataFrame (exprs on a never-materialized frame are
            # name-bound F.col refs, so they bind to any same-named plan).
            pos = getattr(self, "_native_col", None)
            if pos is not None:
                return fr.spark_type_of(pos)
            try:
                return _probe_type(fr.schema_map, self._expr)
            except Exception:
                pass  # exotic expr: fall through to real materialization
        # materialized frame: resolve against a tiny cached empty relation
        # with the same schema first — analyzing the REAL plan is O(plan
        # size) and the per-op type probes dominated modin plan-build time
        # (q1 build: 19 full-plan selects, ~0.23s of py4j wall, r15).
        # Engine exprs are name-bound (F.col on physical names), so they
        # type identically on any same-schema plan; anything that doesn't
        # resolve there (cross-frame refs) falls back to the real plan.
        try:
            return _probe_type(fr.schema_map, self._expr)
        except Exception:
            pass
        return fr.sdf.select(self._expr.alias("__t__")).schema.fields[0].dataType

    @property
    def index(self):
        return self.to_pandas().index

    @property
    def values(self):
        return self.to_pandas().values

    def tolist(self) -> list:
        return self.to_pandas().tolist()

    to_list = tolist

    def __iter__(self):
        return iter(self.to_pandas())

    def _copy_scalar_meta(self, out: "Series") -> "Series":
        """Carry value-semantics metadata (categorical dtype, astype-str
        null marker, tz meta, ext dtype) onto a ROW-SUBSET result: the
        values are unchanged, so the declared dtype must survive."""
        for attr in _META_ATTRS:
            v = getattr(self, attr, None)
            if v is not None and getattr(out, attr, None) is None:
                setattr(out, attr, v)
        return out

    def _keep_meta(self, out: "Series", new) -> "Series":
        """``out`` (this Series with some cells set to ``new``) keeps this
        Series' dtype metadata when ``new`` fits it: a missing value, one of
        a categorical's categories, a value pandas can store in an extension
        dtype (or a Series of that dtype), or, for the other metadata, a
        value that leaves the Spark type as it was. Otherwise pandas upcasts
        or raises; the engine answers plain values."""
        cd = getattr(self, "_cat_dtype", None)
        ed = getattr(self, "_ext_dtype", None)
        if new is None or (pd.api.types.is_scalar(new) and pd.isna(new)):
            fits = True
        elif cd is not None:
            fits = not isinstance(new, Series) and new in set(cd.categories)
        elif isinstance(new, Series):
            fits = getattr(new, "_ext_dtype", None) == ed if ed is not None else (
                any(getattr(self, a, None) is not None for a in _META_ATTRS)
                and out.spark_type == self.spark_type)
        elif ed is not None:
            try:
                pd.array([new], dtype=ed)
                fits = True
            except (TypeError, ValueError):
                fits = False
        else:
            fits = (any(getattr(self, a, None) is not None for a in _META_ATTRS)
                    and out.spark_type == self.spark_type)
        return self._copy_scalar_meta(out) if fits else out

    def __getitem__(self, key):
        """pandas Series selection: boolean-Series/array masks filter rows,
        int slices are positional, lists and scalars are label lookups."""
        import numpy as _np

        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(key, Series):
            name = self._name if self._name is not None else "__v__"
            df = DataFrame(_frame=self._to_frame(name))
            out = df[key][name]
            out._name = self._name
            return self._copy_scalar_meta(out)
        if isinstance(key, slice):
            if all(v is None or isinstance(v, int)
                   for v in (key.start, key.stop, key.step)):
                return self.iloc[key]
            return self.loc[key]
        if isinstance(key, (list, _np.ndarray, pd.Index)) and not isinstance(key, str):
            vals = list(key)
            if vals and all(isinstance(v, (bool, _np.bool_)) for v in vals):
                name = self._name if self._name is not None else "__v__"
                df = DataFrame(_frame=self._to_frame(name))
                out = df.loc[vals][name]
                out._name = self._name
                return self._copy_scalar_meta(out)
            return self.loc[vals]
        return self.loc[key]

    # --------------------------------------------------------------- binary
    def _combine(self, other: "Series", how: str = "full_outer"):
        """Pick the frame both expressions can evaluate on; else align-join.

        ``how='left'`` keeps self's rows/order (lookup alignment, e.g.
        fillna); the default outer-aligns to the sorted label union (pandas
        binary-operand semantics)."""
        # rebase is only row-faithful when both operands cover the SAME rows
        # in the same order — i.e. the frames share a lineage id (pandas
        # OUTER-aligns differing row sets: df.a + df.a.iloc[1:] keeps all 4
        # labels, and sorts the union when operand orders differ).
        # how='left' is a lookup: rebasing onto self is also safe when
        # other's frame is an ANCESTOR (superset of self's rows, same labels).
        same_rows = self._frame._lid == other._frame._lid
        if self._frame.can_rebase(other._frame, other._refs) and (same_rows or how == "left"):
            return self._frame, self._expr, other._expr, self._refs | other._refs
        if other._frame.can_rebase(self._frame, self._refs) and how != "left" and same_rows:
            return other._frame, self._expr, other._expr, self._refs | other._refs
        # native fast path: BOTH operands are pristine driver-resident
        # columns — pandas .align gives exact semantics (duplicate-label
        # identical sequences add POSITIONALLY; non-identical dup indexes
        # cartesian per label; original order kept for equal indexes), which
        # the sorted-union join below can only approximate
        lp = _native.series_pdf_of(self)
        rp = _native.series_pdf_of(other)
        if lp is not None and rp is not None:
            la, ra = lp.align(rp, join="left" if how == "left" else "outer")
            pdf = pd.DataFrame(index=la.index)
            pdf["__l__"] = la.values
            pdf["__r__"] = ra.values
            fr = SparkFrame.from_pandas(pdf)
            return fr, fr.scol(0), fr.scol(1), set(fr.data_cols)
        # one alignment join of the two one-column frames (pandas aligns
        # binary operands on the index)
        fr = qc.align_frames(self._to_frame("__l__"), other._to_frame("__r__"), how)
        return fr, fr.scol(0), fr.scol(1), set(fr.data_cols)

    def _cmp_scalar_kind_guard(self, o, fn, op=None):
        """pandas scalar-comparison type rules: a numeric/bool series
        ordered-compared to a str (or a string series to a number) raises
        TypeError; == is all-False and != all-True (Spark would instead
        CAST — int 1 == "1" would come back true). Datetimes keep pandas'
        parse-the-string behavior. Returns the constant result Series,
        raises, or None to proceed."""
        # gate on the OPERAND type alone first: probing the series type on
        # every numeric scalar comparison would tax the hottest filter path.
        # (The reverse divergence — string series ordered-compared to a
        # number — stays the documented relaxation.)
        if not isinstance(o, str):
            return None
        st = self.spark_type
        if not isinstance(st, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType, T.FloatType, T.DoubleType,
                               T.DecimalType, T.BooleanType)):
            return None
        if op is None:
            # legacy sniff (callers that predate the explicit token): str()
            # of the Column works on classic (_jc) and Connect alike
            probe = fn(F.lit(1), F.lit(1))
            kind = str(getattr(probe, "_jc", probe))
            if "=" in kind and "<" not in kind and ">" not in kind:
                op = "ne" if ("NOT" in kind.upper() or "!" in kind) else "eq"
        if op in ("eq", "ne"):
            # == / != between unrelated types: constant, never an error
            return self._map1(lambda c: F.lit(op == "ne"))
        raise TypeError(
            f"comparison not supported between series of type {self.dtype} "
            f"and {type(o).__name__!r}")

    def _binary(self, other, fn: Callable[[Column, Column], Column], reverse=False, comparison=False, strict=False, op=None) -> "Series":
        import numpy as _np

        if (isinstance(other, (list, tuple, _np.ndarray))
                and not isinstance(other, str) and _np.ndim(other) == 1):
            # raw sequence operand: pandas aligns POSITIONALLY (never by
            # label). Zip by the scale-safe global position; the operand is
            # driver-provided, so the array literal is bounded by definition.
            vals = [v for v in other]
            if len(vals) > 100_000:
                raise NotImplementedError(
                    "sequence operand >100k elements; wrap it in a Series")
            pos_fr = self._frame.with_global_position("__bp__")
            arr = F.array(*[_lit(v) for v in vals])
            re_ = F.element_at(arr, (F.col("__bp__") + 1).cast("int"))
            a, b = (re_, self._expr) if reverse else (self._expr, re_)
            e = fn(a, b)
            filter_expr = None
            if comparison:
                filter_expr = e
                e = F.coalesce(e, F.lit(False))
            return Series(pos_fr, e, set(self._refs), name=self._name,
                          filter_expr=filter_expr)
        if comparison and not isinstance(other, Series):
            const = self._cmp_scalar_kind_guard(other, fn, op=op)
            if const is not None:
                return const
        if isinstance(other, Series):
            if comparison and strict:
                # pandas raises on comparison OPERATORS over differently-
                # labeled Series (only flex .eq/.lt/... align). Enforce it
                # exactly where it's cheap — both operands driver-resident;
                # distributed frames keep the documented align-relaxation
                # (an exact check there would cost a full index collect).
                lp = _native.series_pdf_of(self)
                rp = _native.series_pdf_of(other)
                if lp is not None and rp is not None and not lp.index.equals(rp.index):
                    raise ValueError("Can only compare identically-labeled Series objects")
            target, le, re_, refs = self._combine(other)
        else:
            target, le, re_, refs = self._frame, self._expr, _lit(other), set(self._refs)
            cd = getattr(self, "_cat_dtype", None)
            if comparison and cd is not None and getattr(cd, "ordered", False):
                # ordered categorical: compare CODES (category order), not
                # the string values — a when-chain over the k categories
                codes = {v: i for i, v in enumerate(cd.categories)}
                if other not in codes:
                    raise TypeError(f"{other!r} is not in the categories")
                ce = None
                for v, i in codes.items():
                    ce = (ce.when if ce is not None else F.when)(le == F.lit(v), F.lit(i))
                le, re_ = ce.otherwise(F.lit(None)), F.lit(codes[other])
        a, b = (re_, le) if reverse else (le, re_)
        e = fn(a, b)
        filter_expr = None
        name = self._name if not isinstance(other, Series) or other._name == self._name else None
        if comparison:
            filter_expr = e  # raw pushdown-friendly predicate
            if _nullable(self) or _nullable(other):
                # pandas nullable-dtype comparison: NA stays NA (BooleanDtype)
                # — the mask VALUE keeps Spark's 3VL NULL; used as a filter it
                # drops NULL rows, exactly pandas' NA-is-False mask indexing
                out = Series(target, e, refs, name=name, filter_expr=filter_expr)
                out._ext_dtype = pd.BooleanDtype()
                out._post_to_pandas = lambda x: x.astype("boolean")
                return out._as_bool()
            return Series(target, F.coalesce(e, F.lit(False)), refs, name=name,
                          filter_expr=filter_expr)._as_bool()
        return Series(target, e, refs, name=name, filter_expr=filter_expr)

    def _fill_binary(self, other, fn, reverse, fill_value) -> "Series":
        """pandas flex arithmetic with ``fill_value``: a one-sided missing
        value is replaced before the op; both-missing stays missing."""
        fv = F.lit(fill_value)

        def wrapped(a, b):
            return F.when(a.isNull() & b.isNull(), F.lit(None)).otherwise(
                fn(F.coalesce(a, fv), F.coalesce(b, fv))
            )

        return self._binary(other, wrapped, reverse=reverse)

    def _anchored_offset(self, o, sub: bool = False) -> "Series":
        """Anchored pandas offsets (MonthEnd, QuarterBegin, Week(weekday=),
        ...) have calendar roll semantics no interval literal expresses —
        one Arrow-vectorized pandas_udf applies the offset per batch."""
        from pyspark.sql import types as T

        @F.pandas_udf(T.TimestampType())
        def f(s: pd.Series) -> pd.Series:
            return (s - o) if sub else (s + o)

        return self._map1(lambda c: f(c))

    def _plus_fn(self, o):
        """``+`` on STRING series is pandas concatenation (null-propagating),
        not arithmetic — Spark's numeric ``+`` would null every row."""
        import numpy as _np

        if isinstance(o, (str, Series, list, tuple, _np.ndarray)) and isinstance(
                self.spark_type, T.StringType):
            return lambda a, b: F.concat(a, b)
        return lambda a, b: a + b

    def _arith_fn(self, other, fn):
        """Arithmetic builder with the computed-NaN guard (see _nan_to_null):
        inf-inf, 0*inf, inf%x are Spark NaN — an ordinary value to Spark but
        MISSING to pandas. Guarded only when both operand types are plain
        numerics AND at least one side is a float (only float operands can
        carry the inf that mints a NaN through +,-,*,%; all-integral math is
        NaN-free, so it skips the guard expression entirely): isnan rejects
        temporals/intervals outright, and through implicit casts it would
        null a string column's literal 'NaN'."""
        import numpy as _np

        _FLOAT_T = (T.FloatType, T.DoubleType, T.NullType)

        def numeric(s):
            try:
                return isinstance(s.spark_type, _NAN_GUARD_TYPES)
            except Exception:
                return False

        def floaty(s):
            try:
                return isinstance(s.spark_type, _FLOAT_T)
            except Exception:
                return False

        ok = numeric(self)
        any_float = floaty(self)
        if ok:
            if isinstance(other, Series):
                ok = numeric(other)
                any_float = any_float or floaty(other)
            else:
                ok = isinstance(other, (bool, int, float, _np.bool_,
                                        _np.integer, _np.floating))
                any_float = any_float or isinstance(other, (float, _np.floating))
        ok = ok and any_float
        if not ok:
            return fn

        def guarded(a, b, _f=fn):
            return _nan_to_null(_f(a, b))

        return guarded

    def _tz_td_shift(self, o, sign: int):
        """tz-aware series +/- timedelta (None when not that shape).
        pandas adds ABSOLUTE duration to the instant; 'wall'-stored series
        (tz_convert results) must round-trip through UTC so a shift across
        a DST boundary moves the wall clock by the offset change too. The
        tz metadata (and its to_pandas rebuild) survives the arithmetic."""
        import datetime as _dt

        tzm = getattr(self, "_tz_meta", None)
        if tzm is None or not isinstance(o, _dt.timedelta):
            return None
        mode, tz = tzm
        iv = F.lit(o if not isinstance(o, pd.Timedelta) else o.to_pytimedelta())
        if sign < 0:
            iv = -iv
        if mode == "wall":
            out = self._map1(lambda c: F.from_utc_timestamp(
                F.to_utc_timestamp(c, tz) + iv, tz))
        else:
            out = self._map1(lambda c: c + iv)
        return self._copy_scalar_meta(out)

    def _period_shift(self, o, sign: int):
        """Period-stored series (dt.to_period result; storage is the period
        STRING) plus/minus an integer: shift by n periods at the recorded
        freq, all string/date arithmetic JVM-side. None when not applicable."""
        import numpy as _np

        freq = getattr(self, "_period_freq", None)
        if freq is None or not isinstance(o, (int, _np.integer)) or isinstance(o, bool):
            return None
        n = sign * int(o)
        f0 = str(freq)[0].upper()
        if f0 == "M":
            fn = lambda c: F.date_format(
                F.add_months(F.to_date(F.concat(c, F.lit("-01"))), n), "yyyy-MM")
        elif f0 in ("Y", "A"):
            fn = lambda c: (c.cast("int") + n).cast("string")
        elif f0 == "D":
            fn = lambda c: F.date_format(F.date_add(F.to_date(c), n), "yyyy-MM-dd")
        elif f0 == "Q":
            def fn(c):
                y = F.substring(c, 1, 4).cast("int")
                q = F.substring(c, 6, 1).cast("int")
                t = y * 4 + (q - 1) + n
                return F.concat(F.floor(t / 4).cast("int").cast("string"),
                                F.lit("Q"), (F.pmod(t, 4) + 1).cast("string"))
        else:
            return None
        out = self._map1(fn)
        out._period_freq = freq
        out._astype_str_null = "NaT"
        return out

    def __add__(self, o):
        p = self._tz_td_shift(o, +1) or self._period_shift(o, +1)
        if p is not None:
            return p
        if _is_plain_dateoffset(o):
            return self._map1(lambda c: c + _dateoffset_interval(o))
        if isinstance(o, pd.tseries.offsets.BaseOffset):
            return self._anchored_offset(o)
        return self._binary(o, self._arith_fn(o, self._plus_fn(o)))

    def __radd__(self, o):
        p = self._tz_td_shift(o, +1) or self._period_shift(o, +1)
        if p is not None:
            return p
        if _is_plain_dateoffset(o):
            return self._map1(lambda c: c + _dateoffset_interval(o))
        if isinstance(o, pd.tseries.offsets.BaseOffset):
            return self._anchored_offset(o)
        return self._binary(o, self._arith_fn(o, self._plus_fn(o)), reverse=True)

    def __sub__(self, o):
        p = self._tz_td_shift(o, -1) or self._period_shift(o, -1)
        if p is not None:
            return p
        if _is_plain_dateoffset(o):
            return self._map1(lambda c: c - _dateoffset_interval(o))
        if isinstance(o, pd.tseries.offsets.BaseOffset):
            return self._anchored_offset(o, sub=True)
        return self._binary(o, self._arith_fn(o, lambda a, b: a - b))

    def __rsub__(self, o):
        return self._binary(o, self._arith_fn(o, lambda a, b: a - b), reverse=True)

    def _str_repeat(self, o):
        """pandas: string_series * int repeats the string (None when not
        that shape)."""
        import numpy as _np

        if (isinstance(o, (int, _np.integer)) and not isinstance(o, bool)
                and isinstance(self.spark_type, T.StringType)):
            return self._map1(lambda c: F.repeat(c, int(o)))
        return None

    def __mul__(self, o):
        r = self._str_repeat(o)
        if r is not None:
            return r
        return self._binary(o, self._arith_fn(o, lambda a, b: a * b))

    def __rmul__(self, o):
        r = self._str_repeat(o)
        if r is not None:
            return r
        return self._binary(o, self._arith_fn(o, lambda a, b: a * b), reverse=True)

    def __truediv__(self, o):
        import datetime as _dt

        if isinstance(o, (pd.Timedelta, _dt.timedelta)) and not isinstance(o, pd.DateOffset):
            # timedelta series / timedelta scalar -> float ratio, exact to µs
            denom = float(pd.Timedelta(o) / pd.Timedelta(microseconds=1))
            return self._map1(lambda c: _interval_micros(c) / F.lit(denom))
        return self._binary(o, _true_div)

    def __rtruediv__(self, o):
        return self._binary(o, _true_div, reverse=True)

    def __floordiv__(self, o):
        return self._binary(o, self._floordiv_op(o))

    def __rfloordiv__(self, o):
        return self._binary(o, _floor_div, reverse=True)

    def _floordiv_op(self, o):
        """int series // nonzero int scalar keeps int64 (pandas); any zero
        divisor, float operand, or series divisor (data-dependent dtype in
        pandas) takes the double path."""
        if _is_nonzero_int_scalar(o) and self.dtype.kind in "iu":
            return _int_floor_div
        return _floor_div

    def __mod__(self, o):
        return self._binary(o, self._arith_fn(o, _pmod))

    def __rmod__(self, o):
        return self._binary(o, self._arith_fn(o, _pmod), reverse=True)

    def __pow__(self, o):
        return self._binary(o, _pow)

    def __rpow__(self, o):
        return self._binary(o, _pow, reverse=True)

    add = _flex_method("__add__", lambda s, o: s._arith_fn(o, s._plus_fn(o)))
    radd = _flex_method("__radd__", lambda s, o: s._arith_fn(o, s._plus_fn(o)), reverse=True)
    sub = subtract = _flex_method("__sub__", lambda s, o: s._arith_fn(o, lambda a, b: a - b))
    rsub = _flex_method("__rsub__", lambda s, o: s._arith_fn(o, lambda a, b: a - b), reverse=True)
    mul = multiply = _flex_method("__mul__", lambda s, o: s._arith_fn(o, lambda a, b: a * b))
    rmul = _flex_method("__rmul__", lambda s, o: s._arith_fn(o, lambda a, b: a * b), reverse=True)
    truediv = div = divide = _flex_method("__truediv__", lambda s, o: _true_div)
    rtruediv = rdiv = _flex_method("__rtruediv__", lambda s, o: _true_div, reverse=True)
    floordiv = _flex_method("__floordiv__", lambda s, o: s._floordiv_op(o))
    rfloordiv = _flex_method("__rfloordiv__", lambda s, o: _floor_div, reverse=True)
    mod = _flex_method("__mod__", lambda s, o: s._arith_fn(o, _pmod))
    rmod = _flex_method("__rmod__", lambda s, o: s._arith_fn(o, _pmod), reverse=True)
    pow = _flex_method("__pow__", lambda s, o: _pow)
    rpow = _flex_method("__rpow__", lambda s, o: _pow, reverse=True)

    def __divmod__(self, o):
        return self // o, self % o

    def __rdivmod__(self, o):
        return o // self, o % self

    def __eq__(self, o):  # type: ignore[override]
        return self._binary(o, lambda a, b: a == b, comparison=True, strict=True, op="eq")

    def __ne__(self, o):  # type: ignore[override]
        if _nullable(self) or _nullable(o):
            return self._binary(o, lambda a, b: a != b, comparison=True, strict=True, op="ne")
        return self._binary(o, lambda a, b: ~F.coalesce(a == b, F.lit(False)), comparison=True, strict=True, op="ne")

    def __lt__(self, o):
        return self._binary(o, lambda a, b: a < b, comparison=True, strict=True, op="lt")

    def __le__(self, o):
        return self._binary(o, lambda a, b: a <= b, comparison=True, strict=True, op="le")

    def __gt__(self, o):
        return self._binary(o, lambda a, b: a > b, comparison=True, strict=True, op="gt")

    def __ge__(self, o):
        return self._binary(o, lambda a, b: a >= b, comparison=True, strict=True, op="ge")

    # flex comparison METHODS align on labels (pandas: only the
    # operators raise on differently-labeled operands)
    def eq(self, o):
        return self._binary(o, lambda a, b: a == b, comparison=True, op="eq")

    def ne(self, o):
        if _nullable(self) or _nullable(o):
            # nullable ext dtype: NA != x stays NA (3VL), like __ne__
            return self._binary(o, lambda a, b: a != b, comparison=True, op="ne")
        return self._binary(o, lambda a, b: ~F.coalesce(a == b, F.lit(False)), comparison=True, op="ne")

    def lt(self, o):
        return self._binary(o, lambda a, b: a < b, comparison=True, op="lt")

    def le(self, o):
        return self._binary(o, lambda a, b: a <= b, comparison=True, op="le")

    def gt(self, o):
        return self._binary(o, lambda a, b: a > b, comparison=True, op="gt")

    def ge(self, o):
        return self._binary(o, lambda a, b: a >= b, comparison=True, op="ge")

    def __and__(self, o):
        out = self._binary(o, lambda a, b: F.coalesce(a, F.lit(False)) & F.coalesce(b, F.lit(False)))._as_bool()
        if isinstance(o, Series) and self._filter_expr is not None and o._filter_expr is not None:
            # 3VL AND filters identically to the coalesced version
            out._filter_expr = self._filter_expr & o._filter_expr
        return out

    def __or__(self, o):
        out = self._binary(o, lambda a, b: F.coalesce(a, F.lit(False)) | F.coalesce(b, F.lit(False)))._as_bool()
        if isinstance(o, Series) and self._filter_expr is not None and o._filter_expr is not None:
            out._filter_expr = self._filter_expr | o._filter_expr
        return out

    def __xor__(self, o):
        return self._binary(o, lambda a, b: F.coalesce(a, F.lit(False)) != F.coalesce(b, F.lit(False)))._as_bool()

    __rand__ = __and__
    __ror__ = __or__
    __rxor__ = __xor__

    def _is_integral(self) -> bool:
        return isinstance(self.spark_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))

    def _as_bool(self) -> "Series":
        """Mark this predicate result as boolean: a later ``~`` or ``-``
        reads its type without an analysis round trip."""
        object.__setattr__(self, "_stype_cache", (self._frame, T.BooleanType()))
        return self

    def __invert__(self):
        sj = getattr(self, "_semijoin", None)
        # integers invert bitwise, as in numpy; a predicate (marked by
        # _as_bool) answers this without a type probe
        if sj is None and self._is_integral():
            return self._map1(F.bitwise_not)
        s = Series(self._frame, ~self._expr.cast("boolean"), self._refs, self._name)
        if sj is not None:  # ~isin(Series) flips to an anti-join
            s._semijoin = (sj[0], sj[1], not sj[2])
        return s._as_bool()

    def __neg__(self):
        if isinstance(self.spark_type, T.BooleanType):
            return self._map1(lambda c: ~c)  # pandas negates bool by inversion
        return self._map1(lambda c: -c)

    def __pos__(self):
        # pandas +s: numeric identity (values unchanged)
        return self._map1(lambda c: c)

    def __abs__(self):
        if isinstance(self.spark_type, T.BooleanType):
            return self._map1(lambda c: c)
        return self._map1(F.abs)

    abs = __abs__

    # ---------------------------------------------------------------- unary
    def _map1(self, fn: Callable[[Column], Column], name=None) -> "Series":
        return Series(self._frame, fn(self._expr), self._refs, name if name is not None else self._name)

    def isna(self) -> "Series":
        st = self.spark_type
        return self._map1(lambda c: qc.null_or_nan(c, st))._as_bool()

    isnull = isna

    def notna(self) -> "Series":
        inv = self.isna()
        return Series(inv._frame, ~inv._expr, inv._refs, inv._name)._as_bool()

    notnull = notna

    def fillna(self, value=None, method=None, limit=None) -> "Series":
        if method is not None:
            if method in ("ffill", "pad"):
                return self.ffill(limit=limit)
            if method in ("bfill", "backfill"):
                return self.bfill(limit=limit)
            raise NotImplementedError(f"fillna method {method!r}")
        if value is None:
            raise ValueError("must specify a fill value or method")
        st = self.spark_type
        if isinstance(value, Series):
            # fill from a Series aligned by label — a LOOKUP: self's rows
            # and order are kept (never the outer union binary ops use)
            target, le, re_, refs = self._combine(value, how="left")
            out = Series(target, F.when(qc.null_or_nan(le, st), re_).otherwise(le), refs, name=self._name)
        else:
            out = self._map1(lambda c: F.when(qc.null_or_nan(c, st), _lit(value)).otherwise(c))
        return self._keep_meta(out, value)

    def dropna(self) -> "Series":
        cond = self.notna()
        return Series._from_frame(self._frame.filter(cond._expr).project([self._name if self._name is not None else 0], [self._expr]))

    def _str_probes(self, dtype) -> list:
        """The aggregates ``astype(dtype)`` reads to pick pandas' array-wide
        string render: whether any datetime has a time of day and whether
        any has sub-second digits, or whether any timedelta is not whole
        days. Empty when the cast reads none."""
        if isinstance(dtype, pd.api.extensions.ExtensionDtype) or dtype in ("object", "string"):
            return []
        try:
            if not isinstance(pandas_dtype_to_spark(dtype), T.StringType):
                return []
        except TypeError:
            return []
        if getattr(self, "_astype_str_null", None) is not None:
            return []
        c, kind = self._expr, self.dtype.kind
        if kind == "M" and getattr(self, "_tz_meta", None) is None:
            return [F.max(F.when(c != F.date_trunc("day", c), 1).otherwise(0)),
                    F.max(F.when(c != F.date_trunc("second", c), 1).otherwise(0))]
        if kind == "m":
            return [F.max(F.when(_interval_micros(c) % F.lit(86400000000) != 0, 1).otherwise(0))]
        return []

    def _str_probe_row(self) -> list:
        """The values of ``_str_probes(str)``: prefetched by a frame-wide
        astype (one aggregate for every column), else one aggregate here."""
        row = getattr(self, "_str_probed", None)
        if row is None:
            row = list(self._frame.sdf.agg(*self._str_probes(str)).collect()[0])
        return row

    def astype(self, dtype, errors: str = "raise") -> "Series":
        import numpy as _np

        if errors == "ignore":
            # pandas: conversion failure returns the ORIGINAL object.
            try:
                out = self.astype(dtype)
            except (ValueError, TypeError):
                return self
            # Spark casts never raise — they NULL the failing cell. A cast
            # that nulls a previously non-null value is pandas' raise case,
            # so 'ignore' must return the original. One tiny probe job
            # (errors='ignore' is a deprecated eager pandas API).
            try:
                if out._frame is self._frame and out._frame.sdf.where(
                        out._expr.isNull() & self._expr.isNotNull()).limit(1).count():
                    return self
            except Exception:
                pass
            return out
        try:
            _tk = _np.dtype(dtype).kind if not isinstance(
                dtype, pd.api.extensions.ExtensionDtype) else None
        except TypeError:
            _tk = None
        if _tk in ("i", "u"):
            # pandas raises IntCastingNaNError for NaN -> int; enforce it
            # where cheap (driver-resident) by running pandas itself —
            # distributed frames keep the documented null-passthrough
            # relaxation (a null-count action per astype would be a job)
            ps = _native.series_pdf_of(self)
            if ps is not None:
                return Series._from_pandas(ps.astype(dtype))
        if isinstance(dtype, str) and (dtype in ("category", "string") or dtype in _MASKED_EXT_NAMES):
            dtype = pd.api.types.pandas_dtype(dtype)
        if isinstance(dtype, pd.CategoricalDtype):
            if dtype.categories is None:
                # categories inferred from the values (pandas): storage is
                # unchanged, the dtype is inferred on materialization
                out = self._map1(lambda c: c)
                out._ext_dtype = dtype
            else:
                # physical storage is string; the dtype (category ORDER for
                # ordered comparisons) rides on the Series object
                out = self._map1(lambda c: c.cast("string"))
                out._cat_dtype = dtype
            out._post_to_pandas = lambda s, _d=dtype: s.astype(_d)
            return out
        if isinstance(dtype, pd.api.extensions.ExtensionDtype):
            # extension dtypes (string, nullable numeric/bool): nullable
            # storage is native in Spark — nulls stay <NA>, not 'nan' text —
            # and the pandas dtype is rebuilt on materialization
            st = T.StringType() if isinstance(dtype, pd.StringDtype) else pandas_dtype_to_spark(dtype)
            out = self._map1(lambda c: c.cast(st))
            out._ext_dtype = dtype
            out._post_to_pandas = lambda s, _d=dtype: s.astype(_d)
            return out
        spark_t = pandas_dtype_to_spark(dtype)
        if isinstance(spark_t, T.StringType) and dtype not in ("object",):
            # pandas astype(str) renders missing values as LITERAL text
            # ('nan'/'NaT' by source kind); engine NULLs would stay NULL
            marker = getattr(self, "_astype_str_null", None)
            if marker is not None:
                return self._map1(lambda c: F.coalesce(c.cast("string"), F.lit(marker)))
            kind = self.dtype.kind
            if kind == "f":
                # numpy's float repr: 'inf', '-inf', 'nan'
                return self._map1(lambda c: F.coalesce(
                    F.when(c == F.lit(float("inf")), F.lit("inf"))
                    .when(c == F.lit(float("-inf")), F.lit("-inf"))
                    .when(F.isnan(c), F.lit("nan"))
                    .otherwise(c.cast("string")), F.lit("nan")))
            if kind in "iu" or getattr(self, "_cat_dtype", None) is not None:
                return self._map1(lambda c: F.coalesce(c.cast("string"), F.lit("nan")))
            if kind == "b":
                return self._map1(lambda c: F.when(c, F.lit("True")).when(~c, F.lit("False")))
            if isinstance(self.spark_type, T.StringType):
                # an object column's missing value is None (pandas: 'None')
                return self._map1(lambda c: F.coalesce(c, F.lit("None")))
            if kind == "M":
                tzm = getattr(self, "_tz_meta", None)
                if tzm is not None:
                    # tz-aware render: wall clock + per-row UTC offset
                    # (DST-correct — the offset is derived per instant)
                    mode, tz = tzm

                    def _tz_str(c, _m=mode, _t=tz):
                        wall = c if _m == "wall" else F.from_utc_timestamp(c, _t)
                        inst = F.to_utc_timestamp(c, _t) if _m == "wall" else c
                        off = F.unix_timestamp(wall) - F.unix_timestamp(inst)
                        sign = F.when(off < 0, F.lit("-")).otherwise(F.lit("+"))
                        hh = F.lpad((F.abs(off) / 3600).cast("int").cast("string"), 2, "0")
                        mm = F.lpad(((F.abs(off) % 3600) / 60).cast("int").cast("string"), 2, "0")
                        return F.coalesce(
                            F.concat(F.date_format(wall, "yyyy-MM-dd HH:mm:ss"),
                                     sign, hh, F.lit(":"), mm),
                            F.lit("NaT"),
                        )

                    return self._map1(_tz_str)
                timed, subsecond = self._str_probe_row()
                fmt = ("yyyy-MM-dd" if not timed else
                       "yyyy-MM-dd HH:mm:ss" if not subsecond else
                       "yyyy-MM-dd HH:mm:ss.SSSSSS")
                return self._map1(lambda c: F.coalesce(F.date_format(c, fmt), F.lit("NaT")))
            if kind == "m":
                # pandas timedelta repr: "{d} days [+]{HH:MM:SS}[.ffffff]"
                # with floored days and a non-negative remainder ('-1 days
                # +23:59:59'); when EVERY value is day-aligned the whole
                # array renders "{d} days" alone, and the fractional suffix
                # is per-element (only when that element has microseconds).
                # Spark's native interval cast would render "INTERVAL
                # '2 00:00:00' DAY TO SECOND" instead. The probe aggregate
                # decides the array-wide day-aligned fast form.
                day_us = F.lit(86400000000)

                def _td_str(c, _days_only=not self._str_probe_row()[0]):
                    m = _interval_micros(c)
                    d = F.floor(m / day_us).cast("long")
                    if _days_only:
                        return F.coalesce(
                            F.concat(d.cast("string"), F.lit(" days")),
                            F.lit("NaT"))
                    rem = m - d * day_us
                    hh = F.lpad((rem / F.lit(3600000000)).cast("long").cast("string"), 2, "0")
                    mi = F.lpad(((rem % F.lit(3600000000)) / F.lit(60000000)).cast("long").cast("string"), 2, "0")
                    ss = F.lpad(((rem % F.lit(60000000)) / F.lit(1000000)).cast("long").cast("string"), 2, "0")
                    us = (rem % F.lit(1000000)).cast("long")
                    frac = F.when(us != 0, F.concat(F.lit("."), F.lpad(us.cast("string"), 6, "0"))).otherwise(F.lit(""))
                    plus = F.when(d < 0, F.lit("+")).otherwise(F.lit(""))
                    return F.coalesce(
                        F.concat(d.cast("string"), F.lit(" days "), plus,
                                 hh, F.lit(":"), mi, F.lit(":"), ss, frac),
                        F.lit("NaT"))

                return self._map1(_td_str)
        return self._map1(lambda c: c.cast(spark_t))

    def round(self, decimals: int = 0) -> "Series":
        # pandas rounds half-to-even (numpy); F.bround matches
        return self._map1(lambda c: F.bround(c, decimals))

    def clip(self, lower=None, upper=None) -> "Series":
        if isinstance(lower, Series) or isinstance(upper, Series):
            # element-wise bounds: combine on shared lineage (or alignment
            # join) — stays one projection
            # greatest/least IGNORE nulls; pandas clip keeps NaN as NaN
            out = self
            if isinstance(lower, Series):
                target, a, b, refs = out._combine(lower)
                out = Series(target, F.when(a.isNull(), F.lit(None)).otherwise(F.greatest(a, b)), refs, out._name)
            elif lower is not None:
                out = out._map1(lambda c: F.when(c.isNull(), F.lit(None)).otherwise(F.greatest(c, _lit(lower))))
            if isinstance(upper, Series):
                target, a, b, refs = out._combine(upper)
                out = Series(target, F.when(a.isNull(), F.lit(None)).otherwise(F.least(a, b)), refs, out._name)
            elif upper is not None:
                out = out._map1(lambda c: F.when(c.isNull(), F.lit(None)).otherwise(F.least(c, _lit(upper))))
            return out

        def f(c):
            e = c
            if lower is not None:
                e = F.greatest(e, _lit(lower))
            if upper is not None:
                e = F.least(e, _lit(upper))
            return F.when(c.isNull(), F.lit(None)).otherwise(e)

        return self._map1(f)

    def isin(self, values) -> "Series":
        if isinstance(values, Series):
            # mark for the filter path: executed as a left_semi join against
            # the other column's distinct values (never collected to the
            # driver — the reference's isin handles this per-partition,
            # /root/reference/modin/core/storage_formats/pandas/query_compiler.py:2009)
            s = Series(self._frame, F.lit(False), self._refs, self._name)
            s._semijoin = (values, self._expr, False)
            return s._as_bool()
        vals = list(values)
        # pandas: a missing sentinel IN the values list matches missing
        # elements (SQL IN never matches NULL) — and the sentinels don't
        # cross-match: float columns hit only on an actual float NaN in the
        # list, object columns only on None (pandas 2.2 behavior)
        has_none = any(v is None for v in vals)
        has_nan = any(isinstance(v, float) and v != v for v in vals)
        rest = [v for v in vals if not (v is None or (isinstance(v, float) and v != v))]
        st = self.spark_type
        match_missing = has_nan if isinstance(st, (T.FloatType, T.DoubleType)) else has_none
        if not match_missing:
            return self._map1(lambda c: F.coalesce(c.isin(rest), F.lit(False)))._as_bool()

        def f(c):
            hit = F.coalesce(c.isin(rest), F.lit(False)) if rest else F.lit(False)
            return hit | qc.null_or_nan(c, st)

        return self._map1(f)._as_bool()

    def between(self, left, right, inclusive="both") -> "Series":
        ops = {
            "both": lambda c: (c >= _lit(left)) & (c <= _lit(right)),
            "neither": lambda c: (c > _lit(left)) & (c < _lit(right)),
            "left": lambda c: (c >= _lit(left)) & (c < _lit(right)),
            "right": lambda c: (c > _lit(left)) & (c <= _lit(right)),
        }
        return self._map1(lambda c: F.coalesce(ops[inclusive](c), F.lit(False)))._as_bool()

    def where(self, cond: "Series", other=None) -> "Series":
        # pandas accepts callables for cond/other (applied to self)
        if callable(cond) and not isinstance(cond, Series):
            cond = cond(self)
        if callable(other) and not isinstance(other, Series):
            other = other(self)
        target, le, ce, refs = self._combine(cond)
        ce = ce.cast("boolean")  # an all-missing cond cell is a typeless NULL
        if not isinstance(other, Series):
            out = Series(target, F.when(ce, le).otherwise(_lit(other)), refs, self._name)
        elif target.can_rebase(other._frame, other._refs) and target._lid == other._frame._lid:
            out = Series(target, F.when(ce, le).otherwise(other._expr),
                         refs | other._refs, self._name)
        else:
            # misaligned replacement source: pandas reindexes other to SELF's
            # labels — pack (value, cond) into one struct so both ride the
            # single lookup join
            packed = Series(target, F.struct(le.alias("v"), ce.alias("c")), set(refs))
            t2, pe, oe, refs2 = packed._combine(other, how="left")
            out = Series(t2, F.when(pe["c"], pe["v"]).otherwise(oe), refs2, self._name)
        return self._keep_meta(out, other)

    def mask(self, cond: "Series", other=None) -> "Series":
        if callable(cond) and not isinstance(cond, Series):
            cond = cond(self)
        inv = Series(cond._frame, ~F.coalesce(cond._expr, F.lit(False)), cond._refs, cond._name)
        return self.where(inv, other)

    def replace(self, to_replace, value=None, regex: bool = False) -> "Series":
        st = self.spark_type
        if regex:
            if not isinstance(st, T.StringType):
                return self._map1(lambda c: c)  # pandas: patterns match strings only
            # value-level regex replace (pandas Series.replace(regex=True)):
            # full regexp_replace over string values
            items = (list(to_replace.items()) if isinstance(to_replace, dict)
                     else [(t, value) for t in (to_replace if isinstance(to_replace, list) else [to_replace])])

            def fre(c):
                e = c
                for k, v in items:
                    e = F.regexp_replace(e, str(k), "" if v is None else str(v))
                return e

            return self._map1(fre)
        if isinstance(to_replace, dict):
            items = list(to_replace.items())
        else:
            tr = to_replace if isinstance(to_replace, list) else [to_replace]
            if isinstance(to_replace, list) and isinstance(value, (list, tuple)):
                # pandas pairwise form: replace([a, b], [x, y])
                if len(value) != len(tr):
                    raise ValueError("Replacement lists must match in length")
                items = list(zip(tr, value))
            else:
                items = [(t, value) for t in tr]
        # a key that cannot equal a value of this column's type is a no-op
        # (pandas), not a comparison Spark would coerce or reject
        items = [(k, v) for k, v in items if _replace_key_fits(k, st)]
        if not items:
            return self._map1(lambda c: c)

        def f(c):
            e = None
            for k, v in items:
                w = F.when(c == _lit(k), _lit(v))
                e = w if e is None else e.when(c == _lit(k), _lit(v))
            return e.otherwise(c)

        return self._map1(f)

    def notin(self, values) -> "Series":
        return self._map1(lambda c: ~F.coalesce(c.isin(list(values)), F.lit(False)))

    # ------------------------------------------------------------ accessors
    @property
    def str(self) -> "StringMethods":
        return StringMethods(self)

    @property
    def list(self) -> "ListMethods":
        return ListMethods(self)

    @property
    def struct(self) -> "StructMethods":
        return StructMethods(self)

    @property
    def cat(self) -> "CategoricalMethods":
        return CategoricalMethods(self)

    @property
    def sparse(self):
        # engine storage is always dense; pandas raises the same way on any
        # non-sparse-dtype series
        raise AttributeError("Can only use the '.sparse' accessor with Sparse data.")

    @property
    def dt(self) -> "DatetimeMethods":
        return DatetimeMethods(self)

    # ----------------------------------------------------------- reductions
    def _reduce(self, name: str, skipna: bool = True, **kw) -> Any:
        return self._reduce_many([(name, dict(kw, skipna=skipna))])[0]

    def _reduce_many(self, specs) -> list:
        """``(name, kw)`` reductions of this Series, in one aggregate pass."""
        ps = _native.series_pdf_of(self)
        if ps is not None:
            try:
                return [_native_reduce(ps, name, **kw) for name, kw in specs]
            except Exception:
                pass  # pandas rejected it — distributed path is authoritative
        t = self.spark_type
        return qc.reduce_columns(self._frame.sdf, [(self._expr, name, t, kw) for name, kw in specs])

    def sum(self, skipna=True, min_count=0, **kw):
        return self._reduce("sum", skipna=skipna, min_count=int(min_count or 0))

    def mean(self, skipna=True, **kw):
        return self._reduce("mean", skipna=skipna)

    def min(self, skipna=True, **kw):
        return self._reduce("min", skipna=skipna)

    def max(self, skipna=True, **kw):
        return self._reduce("max", skipna=skipna)

    def count(self) -> int:
        return self._reduce("count")

    def std(self, ddof=1, skipna=True):
        return self._reduce("std", skipna=skipna, ddof=ddof)

    def var(self, ddof=1, skipna=True):
        return self._reduce("var", skipna=skipna, ddof=ddof)

    def sem(self, ddof=1, skipna=True):
        return self._reduce("sem", skipna=skipna, ddof=ddof)

    def median(self, skipna=True):
        return self._reduce("median", skipna=skipna)

    def prod(self, skipna=True, **kw):
        return self._reduce("prod", skipna=skipna)

    product = prod

    def skew(self):
        return self._reduce("skew")

    def kurt(self):
        return self._reduce("kurt")

    kurtosis = kurt

    def nunique(self, dropna=True) -> int:
        return self._reduce("nunique", skipna=dropna)

    def any(self, **kw) -> bool:
        return bool(self._reduce("any"))

    def all(self, **kw) -> bool:
        return bool(self._reduce("all"))

    def quantile(self, q=0.5, interpolation="linear"):
        qs = list(q) if isinstance(q, (list, tuple)) else [q]
        if interpolation in (None, "linear"):
            vals = list(self._reduce("quantile", q=qs))
        else:
            nat = _native.maybe_series(self, "quantile", q=q, interpolation=interpolation, _raw=True)
            if nat is not None:
                return nat
            vals = qc.order_quantiles(self._frame.sdf, [(self._expr, self.spark_type)], qs,
                                      interpolation)[0]
        if isinstance(q, (list, tuple)):
            return pd.Series(vals, index=qs, name=self._name)
        return vals[0]

    def agg(self, func=None, *args, **kwargs):
        if func is None and kwargs:
            # pandas named-agg kwargs: s.agg(total="sum") -> Series indexed
            # by the output names
            return self.agg(dict(kwargs))
        if isinstance(func, str):
            return self._reduce(func)
        if isinstance(func, (dict, list, tuple)):
            # pandas: {out_label: agg} or [agg, ...] -> Series indexed by the
            # labels; the named reductions share one aggregate pass
            items = (list(func.items()) if isinstance(func, dict)
                     else [(f if isinstance(f, str) else getattr(f, "__name__", str(f)), f)
                           for f in func])
            named = [f for _, f in items if isinstance(f, str)]
            vals = iter(self._reduce_many([(f, {}) for f in named]))
            return pd.Series({lbl: next(vals) if isinstance(f, str) else self.agg(f)
                              for lbl, f in items}, name=self._name)
        if callable(func):
            # pandas hands the whole Series to the callable; ours stays lazy,
            # so a callable written against the Series API (s.max()-s.min())
            # runs distributed.  numpy reductions get mapped to the named agg.
            np_name = getattr(func, "__name__", "")
            if np_name in {"sum", "mean", "min", "max", "std", "var", "median", "prod"}:
                return self._reduce(np_name)
            return func(self)
        raise NotImplementedError("Series.agg spec")

    aggregate = agg

    def describe(self, percentiles=None) -> pd.Series:
        nat = _native.maybe_series(self, "describe", percentiles=percentiles, _raw=True)
        if nat is not None:
            return nat
        kind = describe_kind(self.spark_type, self.dtype.kind not in "OUSb")
        col = (self._expr, self.spark_type, self._name, kind)
        return describe_columns(self._frame.sdf, [col], percentiles)[0]

    def idxmax(self, skipna: bool = True):
        return self._idx_extreme("idxmax", skipna)

    def idxmin(self, skipna: bool = True):
        return self._idx_extreme("idxmin", skipna)

    def _idx_extreme(self, name: str, skipna: bool):
        at = (self._index_expr(), self._pos_for_ties())
        return qc.reduce_columns(self._frame.sdf, [(self._expr, name, self.spark_type,
                                                    {"skipna": skipna, "at": at})])[0]

    def _pos_for_ties(self) -> Column:
        """A long frame-position expression for first-occurrence tie-breaks.
        Free when ORDER_COL is already an integer (from_pandas ingest, mono
        ids); only struct-ORDER frames pay the global-position pass."""
        from pyspark.sql import types as T
        from modin_spark.core.frame import ORDER_COL as _OC

        fr = self._frame
        if "__posx__" in fr.sdf.columns:  # _index_expr already attached one
            return F.col("__posx__")
        if not fr.has_order:
            fr = fr.ensure_order()
            self._frame = fr
        if isinstance(fr.schema_map.get(_OC), (T.LongType, T.IntegerType)):
            return F.col(_OC)
        self._frame = fr.with_global_position("__tbp__")
        return F.col("__tbp__")

    def _index_expr(self) -> Column:
        if self._frame.index_cols:
            if len(self._frame.index_cols) == 1:
                return F.col(self._frame.index_cols[0])
            return F.struct(*[F.col(c) for c in self._frame.index_cols])
        if self._frame.has_order and self._frame.order_is_position:
            # ORDER values ARE the pandas labels (default-index ingest,
            # possibly filtered since) — no position shuffle, exact labels
            from modin_spark.core.frame import ORDER_COL as _OC

            return F.col(_OC)
        # default positional index: post-sort labels_col stash, else the
        # blocked global position
        fr = self._frame.with_pandas_labels("__posx__")
        self._frame = fr
        return F.col("__posx__")

    # --------------------------------------------------- frame-level ops
    def sort_values(self, ascending: bool = True, na_position: str = "last", key=None,
                    kind=None, ignore_index: bool = False, axis=0) -> "Series":
        nat = _native.maybe_series(self, "sort_values", ascending=ascending,
                                   na_position=na_position, key=key,
                                   ignore_index=ignore_index)
        if nat is not None:
            return nat
        fr = self._to_frame()
        cd = getattr(self, "_cat_dtype", None)
        if key is not None:
            sort_expr = key(Series._from_frame(fr))._expr
        elif cd is not None:
            # categorical sort ranks by CATEGORY ORDER (ordered or not —
            # pandas sorts unordered categoricals by their category list
            # too), not lexically; a bounded array-literal code lookup
            arr = F.array(*[F.lit(c) for c in cd.categories])
            sort_expr = F.array_position(arr, fr.scol(0))
        else:
            sort_expr = fr.scol(0)
        return self._copy_scalar_meta(
            self._rewrap(fr.sort_by([sort_expr], [ascending], na_position)))

    def head(self, n: int = 5) -> "Series":
        nat = _native.maybe_series(self, "head", n=n)
        if nat is not None:
            return nat
        return self._rewrap(self._to_frame().head(n))

    def tail(self, n: int = 5) -> "Series":
        nat = _native.maybe_series(self, "tail", n=n)
        if nat is not None:
            return nat
        return self._rewrap(self._to_frame().tail(n))

    def unique(self):
        """pandas contract: FIRST-APPEARANCE order. One hash aggregate
        (min(ORDER) per distinct value, map-side combine) + ordered collect —
        not distinct(), whose post-shuffle order is arbitrary."""
        ps = _native.series_pdf_of(self)
        if ps is not None:
            return ps.unique()
        fr = self._to_frame().ensure_order()
        col = fr.data_cols[0]
        rows = (fr.sdf.groupBy(col).agg(F.min(ORDER_COL).alias("__o__"))
                .orderBy("__o__").select(col).collect())
        return pd.Series([r[col] for r in rows]).values

    def drop_duplicates(self, keep="first", inplace=False, ignore_index=False) -> "Series":
        if not inplace:
            nat = _native.maybe_series(self, "drop_duplicates", keep=keep,
                                       ignore_index=ignore_index)
            if nat is not None:
                return nat
        out = self._rewrap(qc.drop_duplicates(self._to_frame(), None, keep))
        if inplace:
            raise NotImplementedError("Series.drop_duplicates(inplace=True)")
        return out

    def value_counts(self, normalize=False, sort=True, ascending=False, dropna=True,
                     bins=None) -> "Series":
        if bins is None:
            # (the native path is bins-free: pandas bins= returns an
            # IntervalIndex, which the lazy ingest cannot type)
            nat = _native.maybe_series(self, "value_counts", normalize=normalize,
                                       sort=sort, ascending=ascending,
                                       dropna=dropna)
            if nat is not None:
                return nat
        else:
            # pandas bins=: counts of fixed-width intervals — cut() stays a
            # JVM when-chain; the k-row result is reindexed driver-side so
            # EMPTY bins appear with count 0 (pandas semantics)
            from modin_spark.pandas.general import _infer_precision, _round_frac, cut

            if isinstance(bins, int):
                import math

                _mn, _mx = self.min(), self.max()
                if math.isinf(float(_mn)) or math.isinf(float(_mx)):
                    # pandas tile guard: equal-width bins are undefined
                    raise ValueError(
                        "cannot specify integer `bins` when input data "
                        "contains infinity")
            binned = cut(self, bins, include_lowest=True)
            vc = binned.rename(self._name).value_counts(
                normalize=normalize, sort=False, dropna=dropna).to_pandas()
            if isinstance(bins, int):
                mn, mx = self.min(), self.max()
                step = (mx - mn) / bins
                edges = [mn + i * step for i in range(bins + 1)]
                edges[0] = mn - (mx - mn) * 0.001
            else:
                edges = list(bins)
            # the displayed labels are cut()'s: rounded to the inferred
            # precision, first edge widened by 10^-precision (include_lowest)
            prec = _infer_precision(3, edges)
            disp = [_round_frac(e, prec) for e in edges]
            disp[0] = disp[0] - 10 ** (-prec)
            all_labels = [f"({disp[i]}, {disp[i+1]}]" for i in range(len(edges) - 1)]
            vc = vc.reindex(all_labels, fill_value=0)
            if sort:
                vc = vc.sort_values(ascending=ascending, kind="stable")
            vc.index.name = None
            out = Series._from_pandas(vc)
            # pandas 2.x: value_counts is named 'count' ('proportion' when
            # normalized), the interval index is unnamed
            out._name = "proportion" if normalize else "count"
            return out
        fr = self._to_frame(self._name if self._name is not None else "__v__")
        spec = [("count", None, "size", {})]
        out = qc.groupby_agg(fr, [0], spec, as_index=True, dropna=dropna, sort=False)
        if normalize:
            total = self._frame.sdf.where(self._expr.isNotNull()).count() if dropna else self._frame.count_rows()
            out = out.project(["proportion"], [F.col(out.data_cols[0]) / F.lit(total)])
        cd = getattr(self, "_cat_dtype", None)
        if cd is not None:
            # categorical: EVERY category appears, zero-count included
            # (pandas). The result is bounded by the driver-known category
            # set, so reindex driver-side (same shape as the bins= path);
            # stable desc sort leaves zero-count cats in category order.
            vc = Series._from_frame(out).to_pandas()
            extras = [i for i in vc.index if i not in set(cd.categories)]
            vc = vc.reindex(list(cd.categories) + extras, fill_value=0)
            if sort:
                vc = vc.sort_values(ascending=ascending, kind="stable")
            vc.index.name = self._name
            res = Series._from_pandas(vc)
            res._name = "proportion" if normalize else "count"
            return res
        if sort:
            out = out.sort_by([F.col(out.data_cols[0])], [ascending])
        s = Series._from_frame(out)
        # pandas 2.x: the RESULT is named 'count'/'proportion'; the original
        # series name lives on the index (already the groupby key label)
        s._name = "proportion" if normalize else "count"
        return s

    def mode(self, dropna: bool = True) -> "Series":
        vc = self.value_counts(sort=False, dropna=dropna)
        fr = vc._frame
        mx = fr.sdf.agg(F.max(F.col(fr.data_cols[0])).alias("__m__")).collect()[0]["__m__"]
        keep = fr.sdf.where(F.col(fr.data_cols[0]) == mx)
        out = SparkFrame(keep, fr.columns, fr.data_cols, fr.index_cols, fr.index_names).reset_index()
        out = out.select_positions([0]).sort_by([out.scol(0)], [True])
        return self._rewrap(out)

    def nlargest(self, n: int = 5, keep: str = "first") -> "Series":
        nat = _native.maybe_series(self, "nlargest", n=n, keep=keep)
        if nat is not None:
            return nat
        if keep != "first":
            return self.to_frame("__v__").nlargest(n, "__v__", keep=keep)["__v__"].rename(self._name)
        return self._rewrap(self._to_frame().sort_by([self._expr], [False]).head(n))

    def nsmallest(self, n: int = 5, keep: str = "first") -> "Series":
        nat = _native.maybe_series(self, "nsmallest", n=n, keep=keep)
        if nat is not None:
            return nat
        if keep != "first":
            return self.to_frame("__v__").nsmallest(n, "__v__", keep=keep)["__v__"].rename(self._name)
        return self._rewrap(self._to_frame().sort_by([self._expr], [True]).head(n))

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def duplicated(self, keep="first") -> "Series":
        return self._rewrap(qc.duplicated(self._to_frame(), None, keep))

    def dot(self, other: "Series") -> float:
        """Vector dot product — one aggregate (reference qc:2546)."""
        target, ae, be, _ = self._combine(other)
        row = target.sdf.agg(F.sum(ae * be).alias("d")).collect()[0]
        return float(row["d"])

    def first_valid_index(self):
        """Index/position of the first non-null — min(order) where non-null,
        one aggregate, no scan to the driver."""
        fr = self._to_frame("__v__").ensure_order()
        idx = F.col(fr.index_cols[0]) if fr.index_cols else None
        pick = F.min_by(idx, F.col(ORDER_COL)) if idx is not None else None
        if pick is None:
            if fr.order_is_position:
                # ORDER values ARE the pandas labels (survives filters)
                row = fr.sdf.where(F.col(fr.data_cols[0]).isNotNull()).agg(
                    F.min(ORDER_COL).alias("i")).collect()[0]
                return None if row["i"] is None else int(row["i"])
            fr2 = fr.with_global_position("__p__")
            row = fr2.sdf.where(F.col(fr2.data_cols[0]).isNotNull()).agg(F.min("__p__").alias("i")).collect()[0]
            return None if row["i"] is None else int(row["i"])
        row = fr.sdf.where(F.col(fr.data_cols[0]).isNotNull()).agg(pick.alias("i")).collect()[0]
        return row["i"]

    def last_valid_index(self):
        fr = self._to_frame("__v__").ensure_order()
        if fr.index_cols:
            pick = F.max_by(F.col(fr.index_cols[0]), F.col(ORDER_COL))
            row = fr.sdf.where(F.col(fr.data_cols[0]).isNotNull()).agg(pick.alias("i")).collect()[0]
            return row["i"]
        if fr.order_is_position:
            # ORDER values ARE the pandas labels (survives filters)
            row = fr.sdf.where(F.col(fr.data_cols[0]).isNotNull()).agg(
                F.max(ORDER_COL).alias("i")).collect()[0]
            return None if row["i"] is None else int(row["i"])
        fr2 = fr.with_global_position("__p__")
        row = fr2.sdf.where(F.col(fr2.data_cols[0]).isNotNull()).agg(F.max("__p__").alias("i")).collect()[0]
        return None if row["i"] is None else int(row["i"])

    def explode(self) -> "Series":
        """Array column -> one row per element (order: parent order, then
        element position — same contract as frame explode)."""
        from modin_spark.pandas.dataframe import DataFrame

        df = DataFrame(_frame=self._to_frame(self._name if self._name is not None else "__v__"))
        out = df.explode(df.columns[0])[df.columns[0]]
        out._name = self._name
        return out

    def repeat(self, repeats) -> "Series":
        if isinstance(repeats, (list, tuple)) or hasattr(repeats, "__len__"):
            # per-row counts: zip by global position against an array literal
            vals = [int(v) for v in repeats]
            pos_fr = self._frame.with_global_position("__rp__")
            arr = F.array(*[F.lit(v) for v in vals])
            n = F.element_at(arr, (F.col("__rp__") + 1).cast("int"))
            # count 0 DROPS the row (explode of an empty array would emit a
            # null row through the engine's explode_outer semantics)
            pos_fr = pos_fr.filter(n > 0)
            rep = Series(pos_fr, F.array_repeat(self._expr, n.cast("int")),
                         set(self._refs), self._name)
            return rep.explode()
        rep = self._map1(lambda c: F.array_repeat(c, int(repeats)))
        return rep.explode()

    def autocorr(self, lag: int = 1) -> float:
        """Pearson correlation with the lag-shifted self (pandas autocorr) —
        one position-equijoin + F.corr, no collect of the column."""
        shifted = win.shift(self._to_frame("__v__"), [0], lag)
        cur = self._to_frame("__v__").with_global_position("__p__")
        prev = shifted.with_global_position("__p2__")
        j = cur.sdf.join(
            prev.sdf.select(F.col("__p2__"), F.col(prev.data_cols[0]).alias("__lagv__")),
            cur.sdf["__p__"] == F.col("__p2__"),
        )
        r = j.agg(F.corr(F.col(cur.data_cols[0]).cast("double"), F.col("__lagv__").cast("double")).alias("r")).collect()
        return float(r[0]["r"])

    def searchsorted(self, value, side: str = "left"):
        """Insertion position in the sorted column — a count aggregate, not a
        driver-side binary search. Vector input: one aggregate PASS with one
        count expression per probe value (k is plan-time small)."""
        import numpy as np

        many = isinstance(value, (list, tuple, np.ndarray, pd.Series, pd.Index))
        cmps = [(self._expr < _lit(v)) if side == "left" else (self._expr <= _lit(v))
                for v in (value if many else [value])]
        n = qc.reduce_columns(self._frame.sdf, [(c, "sum", T.BooleanType(), {}) for c in cmps])
        return np.array(n) if many else int(n[0])

    # ------------------------------------------------------- order-dependent
    def _cum(self, kind: str, skipna: bool) -> "Series":
        out = self._rewrap(win.cum_op(self._to_frame(), [0], kind))
        if not skipna:
            # pandas skipna=False: the first NaN poisons everything after it
            poison = self.isna().astype("int64").cumsum() > 0
            out = out.where(~poison)
        return out

    def cumsum(self, skipna: bool = True) -> "Series":
        return self._cum("cumsum", skipna)

    def cumprod(self, skipna: bool = True) -> "Series":
        return self._cum("cumprod", skipna)

    def cummax(self, skipna: bool = True) -> "Series":
        return self._cum("cummax", skipna)

    def cummin(self, skipna: bool = True) -> "Series":
        return self._cum("cummin", skipna)

    def shift(self, periods: int = 1, fill_value=None, freq=None, suffix=None):
        if isinstance(periods, (list, tuple)):
            # pandas 2.1 list form: a FRAME with one column per period
            from modin_spark.pandas.dataframe import DataFrame

            name = self._name if self._name is not None else 0
            out = DataFrame(_frame=self._to_frame(name)).shift(
                list(periods), fill_value=fill_value, freq=freq, suffix=suffix)
            return out
        if freq is not None:
            # pandas shift(freq=): the INDEX moves, values stay — reuse the
            # frame projection (one expression over the index column)
            from modin_spark.pandas.dataframe import DataFrame

            out = DataFrame(_frame=self._to_frame()).shift(periods, freq=freq)
            return self._rewrap(out._frame)
        return self._rewrap(win.shift(self._to_frame(), [0], periods, fill_value))

    def diff(self, periods: int = 1) -> "Series":
        return self._rewrap(win.diff(self._to_frame(), [0], periods))

    def pct_change(self, periods: int = 1, fill_method="ffill") -> "Series":
        # pandas pads missing values before differencing (fill_method);
        # fill_method=None (pandas 2.x direction) lets NaNs propagate
        return Series._from_frame(
            win.pct_change(self._to_frame(), [0], periods, fill_method=fill_method)
        ).rename(self._name)

    def rank(self, method="average", ascending=True, pct=False, na_option="keep") -> "Series":
        return self._rewrap(win.rank(self._to_frame(), [0], method, ascending, pct, na_option))

    def rolling(self, window: int, min_periods=None, win_type=None, center=False, closed=None, **win_kwargs):
        from modin_spark.pandas.window import Rolling

        return Rolling(self, window, min_periods, win_type=win_type, center=center, closed=closed, **win_kwargs)

    def ewm(self, com=None, span=None, halflife=None, alpha=None, adjust=True, min_periods=0,
            times=None):
        from modin_spark.pandas.window import EWM

        return EWM(self, com=com, span=span, halflife=halflife, alpha=alpha,
                   adjust=adjust, min_periods=min_periods, times=times)

    def expanding(self, min_periods: int = 1):
        from modin_spark.pandas.window import Expanding

        return Expanding(self, min_periods)

    def ffill(self, limit=None) -> "Series":
        """Forward fill along frame order: last non-null via ordered window
        partitioned by blocks plus a ``carry_join`` (scale-safe)."""
        fr = self._to_frame()
        return self._rewrap(win.fill(fr, [0], limit=limit))

    def bfill(self, limit=None) -> "Series":
        fr = self._to_frame()
        return self._rewrap(win.fill(fr, [0], limit=limit, backward=True))

    # ------------------------------------------------------------------ UDF
    def map(self, arg, na_action=None) -> "Series":
        if na_action == "ignore" and not isinstance(arg, dict):
            # guard INSIDE the UDF too: the callable must never see a null
            # (a bare .upper() lambda would throw in the Python worker)
            safe = lambda v, _f=arg: None if pd.isna(v) else _f(v)
            mapped = self.apply(safe)
            target, me, se, refs = mapped._combine(self)
            return Series(target, F.when(se.isNotNull(), me), refs, self._name)
        if isinstance(arg, dict):
            def f(c):
                e = None
                for k, v in arg.items():
                    w = (e.when if e is not None else F.when)(c == _lit(k), _lit(v))
                    e = w
                return e.otherwise(F.lit(None)) if e is not None else F.lit(None)

            return self._map1(f)
        return self.apply(arg)

    def apply(self, func, convert_dtype=True, args=(), **kwds) -> "Series":
        """Arbitrary elementwise UDF — Arrow-vectorized pandas_udf (the slow
        path; return dtype inferred from a driver-side sample)."""
        if args or kwds:
            inner = func
            func = lambda x, _f=inner, _a=tuple(args), _k=dict(kwds): _f(x, *_a, **_k)
        sample = self._frame.sdf.select(self._expr.alias("__v__")).limit(100).toPandas()["__v__"]
        try:
            out_dtype = pandas_dtype_to_spark(sample.map(func).infer_objects().dtype)
        except Exception:
            out_dtype = T.StringType()

        @F.pandas_udf(out_dtype)
        def _udf(s: pd.Series) -> pd.Series:
            return s.map(func)

        return self._map1(lambda c: _udf(c))

    # ------------------------------------------------------------- groupby
    def groupby(self, by=None, level=None):
        from modin_spark.pandas.groupby import SeriesGroupBy

        if by is None and level is not None:
            # group on index level(s): route through the frame machinery,
            # then select the value column back
            name = self._name if self._name is not None else "__v__"
            df = self._to_frame(name)
            from modin_spark.pandas.dataframe import DataFrame
            from modin_spark.pandas.groupby import _GroupByResultProxy

            g = DataFrame(_frame=df).groupby(level=level)[name]
            if self._name is None:
                # strip the '__v__' placeholder from result names
                if isinstance(g, _GroupByResultProxy):
                    g._strip = "__v__"
                else:
                    g = _GroupByResultProxy(g, {}, strip_value_name="__v__")
            return g
        return SeriesGroupBy(self, by)


def _native_reduce(ps: pd.Series, name: str, skipna: bool = True, **kw):
    if name == "count":
        return int(ps.count())
    if name == "quantile":
        return ps.quantile(kw.get("q", 0.5))
    kw2 = {k: kw[k] for k in ("ddof", "min_count") if k in kw}
    return getattr(ps, name)(skipna=skipna, **kw2)


def describe_kind(spark_type: T.DataType, numeric: bool) -> str:
    """pandas describe's statistics family for a column: ``datetime``,
    ``number`` or ``object`` (strings and bools)."""
    if isinstance(spark_type, (T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    return "number" if numeric else "object"


def describe_columns(sdf, cols, percentiles=None) -> list[pd.Series]:
    """pandas describe of each ``(column, spark_type, name, kind)`` of
    ``sdf`` (``kind`` from describe_kind), all in one aggregate pass:
    count/mean/std/min/percentiles/max of a number, the same without std of
    a datetime (mean and percentiles over its epoch microseconds),
    count/unique of an object, whose top/freq is one more top-1 group
    count."""
    # pandas: percentiles= replaces the quartiles; the median is always
    # included (pandas inserts 0.5 if missing)
    ps = sorted(set(list(percentiles) + [0.5])) if percentiles is not None else [0.25, 0.5, 0.75]
    pct = [f"{p * 100:g}%" for p in ps]
    stats = {
        "number": [("count", {}), ("mean", {}), ("std", {}), ("min", {}), ("quantile", {"q": ps}),
                   ("max", {})],
        "datetime": [("count", {}), ("mean", {}), ("min", {}), ("quantile", {"q": ps}), ("max", {})],
        "object": [("count", {}), ("nunique", {})],
    }
    rows = {"number": ["count", "mean", "std", "min", *pct, "max"],
            "datetime": ["count", "mean", "min", *pct, "max"]}

    def spec(c, t, kind, name, kw):
        if kind == "datetime" and name in ("mean", "quantile"):
            return F.unix_micros(c.cast("timestamp")), name, T.LongType(), kw
        return c, name, t, kw

    vals = iter(qc.reduce_columns(sdf, [spec(c, t, kind, name, kw) for c, t, _, kind in cols
                                        for name, kw in stats[kind]]))
    out = []
    for c, _t, label, kind in cols:
        got = [next(vals) for _ in stats[kind]]
        if kind == "object":
            top = (sdf.where(c.isNotNull()).groupBy(c.alias("v")).count()
                   .orderBy(F.col("count").desc(), F.col("v")).limit(1).collect())
            top, freq = (top[0]["v"], top[0]["count"]) if top else (None, None)
            out.append(pd.Series([*got, top, freq], index=["count", "unique", "top", "freq"], name=label))
            continue
        n, *mid, qv, hi = got
        if kind == "datetime":  # mean and percentiles came back in µs
            mid = [_stamp(mid[0], 1000), _stamp(mid[1])]
            qv, hi = [_stamp(v, 1000) for v in qv], _stamp(hi)
        out.append(pd.Series([n, *mid, *qv, hi], name=label, index=rows[kind]))
    return out


def _stamp(v, ns_per_unit=None):
    """A collected datetime statistic as a pd.Timestamp (NaT if missing);
    ``ns_per_unit`` scales a number of epoch units to nanoseconds."""
    if v is None or v != v:
        return pd.NaT
    return pd.Timestamp(round(v * ns_per_unit)) if ns_per_unit else pd.Timestamp(v)


def _re_escape(sep: str) -> str:
    import re as _re

    return _re.escape(sep)


def _java_pat(pat: str) -> str:
    """Python regex -> Java regex: named groups are spelled (?<name>...) /
    \\k<name> in Java, (?P<name>...) / (?P=name) in Python. Everything the
    engine hands to rlike/regexp_* must go through this."""
    return pat.replace("(?P<", "(?<").replace("(?P=", r"\k<")


def _inline_flags(flags: int) -> str:
    """Translate Python re flags to Java inline modifiers `(?imsxu)` so the
    pattern handed to rlike/regexp_extract actually carries them."""
    if not flags:
        return ""
    import re as _re

    table = [(_re.I, "i"), (_re.M, "m"), (_re.S, "s"), (_re.X, "x"), (_re.U, "u")]
    mods, rest = "", int(flags)
    for f, ch in table:
        if rest & f:
            mods += ch
            rest &= ~int(f)
    if rest:
        raise NotImplementedError(f"str.extract: unsupported regex flags {rest:#x}")
    return f"(?{mods})" if mods else ""


def _optional_groups(pat: str, flags: int = 0) -> set:
    """Indices of capture groups that can legally NOT participate in a match
    (pandas maps non-participation to NaN): groups under a min=0 quantifier
    (`(x)?`, `(x)*`, `(x){0,…}`), groups inside any alternation branch
    (`(a)|(b)` — whichever branch loses doesn't participate), and groups
    inside a negative lookaround. Walks Python's own regex parse tree
    instead of re-scanning the text, so escapes / classes / conditionals all
    come for free."""
    try:
        import re._parser as _sp  # py>=3.11
    except ImportError:  # pragma: no cover
        import sre_parse as _sp

    opts: set = set()

    def walk(items, optional: bool) -> None:
        for op, av in items:
            name = str(op)
            if name == "SUBPATTERN":
                g, _af, _df, sub = av
                if g is not None and optional:
                    opts.add(g)
                walk(sub, optional)
            elif name == "BRANCH":
                # a group in one branch is skipped whenever another wins
                for branch in av[1]:
                    walk(branch, True)
            elif name in ("MAX_REPEAT", "MIN_REPEAT", "POSSESSIVE_REPEAT"):
                lo, _hi, sub = av
                walk(sub, optional or lo == 0)
            elif name == "ASSERT":
                walk(av[1], optional)
            elif name == "ASSERT_NOT":
                walk(av[1], True)
            elif name == "ATOMIC_GROUP":
                walk(av, optional)
    walk(_sp.parse(pat, flags), False)
    return opts


# str methods whose result is boolean
_STR_PREDICATES = frozenset({
    "contains", "startswith", "endswith", "match", "fullmatch", "isalpha", "isdigit",
    "isdecimal", "isnumeric", "isalnum", "isspace", "islower", "isupper", "istitle"})


class StringMethods:
    def __init__(self, s: Series):
        self._s = s

    def extractall(self, pat: str):
        """All regex matches, one row per match: (index, match#, group...).
        regexp_extract_all + posexplode — stays JVM-side; the (doc, match)
        MultiIndex surfaces as ordinary index columns, doc level first
        (the original index, or the 0-based position for a default index).

        Each output row gets a FRESH unique order key doc_pos * 2^20 + match
        — sorts as (doc, match) and preserves the unique-order invariant
        downstream alignment relies on. Contract: < 2^20 matches per string
        (a longer match list would not fit one row's string anyway)."""
        import re as _re

        from modin_spark.pandas.dataframe import DataFrame

        rex = _re.compile(pat)
        ngroups = rex.groups or 1
        # pandas: named groups label the output columns; unnamed keep
        # 0-based integers
        gname = {v: k for k, v in rex.groupindex.items()}
        jpat = _java_pat(pat)
        fr = self._s._to_frame("__t__").ensure_order().with_global_position("__doc__")
        arr = F.regexp_extract_all(fr.scol(0), F.lit(jpat), 0)
        idx_phys = list(fr.index_cols)
        sdf = fr.sdf.select(
            F.col("__doc__"), *[F.col(c) for c in idx_phys],
            F.posexplode(arr).alias("__match__", "__m0__"),
        )
        sdf = sdf.withColumn("__match__", F.col("__match__").cast("long"))
        sdf = sdf.withColumn(
            ORDER_COL, (F.col("__doc__") * F.lit(1 << 20) + F.col("__match__")).cast("long")
        )
        cols, exprs = [], []
        for g in range(1, ngroups + 1):
            cols.append(gname.get(g, g - 1))
            exprs.append(F.regexp_extract(F.col("__m0__"), jpat, g if rex.groups else 0).alias(f"__g{g}__"))
        doc_idx = idx_phys if idx_phys else ["__doc__"]
        doc_names = list(fr.index_names) if idx_phys else [None]
        sdf = sdf.select(ORDER_COL, *doc_idx, "__match__", *exprs)
        nf = SparkFrame(sdf, pd.Index(cols), [f"__g{g}__" for g in range(1, ngroups + 1)],
                        index_cols=doc_idx + ["__match__"], index_names=doc_names + ["match"],
                        has_order=True)
        return DataFrame(_frame=nf)

    def cat(self, others=None, sep: str = "", na_rep=None):
        """pandas ``str.cat``. With ``others``: elementwise ``concat_ws``.
        Without: reduce the whole series to ONE string in frame order (the
        output is a single scalar, so the ordered collect is bounded by the
        result string itself; NaN elements are skipped, pandas-style).
        ``na_rep``: with others, substitutes missing values on EITHER side
        (default None propagates the null, pandas-exact)."""
        if sep is None:
            # pandas' documented default is sep=None meaning empty separator;
            # F.lit(None) would NULL every concat row
            sep = ""
        if others is not None:
            if isinstance(others, (list, tuple)) and not isinstance(others, str):
                others = Series(list(others))
            if isinstance(others, Series):
                if na_rep is None:
                    # pandas propagates NULL if EITHER side is null — F.concat
                    # does that; concat_ws would skip nulls
                    return self._s._binary(others, lambda a, b: F.concat(a, F.lit(sep), b))
                return self._s._binary(
                    others,
                    lambda a, b: F.concat(F.coalesce(a, F.lit(str(na_rep))), F.lit(sep),
                                          F.coalesce(b, F.lit(str(na_rep)))))
            raise NotImplementedError("str.cat others must be a Series or list")
        fr = self._s._to_frame("__t__").ensure_order()
        v = fr.scol(0)
        item = F.when(v.isNotNull(), F.struct(F.col(ORDER_COL).alias("o"), v.alias("v")))
        arr = F.array_sort(F.collect_list(item))
        e = F.array_join(F.transform(arr, lambda s: s["v"]), sep)
        return fr.sdf.agg(e.alias("r")).collect()[0]["r"]

    def get_dummies(self, sep: str = "|"):
        """One 0/1 column per distinct token. Two passes: a distinct-token
        aggregate (small) then a contains() projection per token."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        toks = [
            r[0]
            for r in fr.sdf.select(F.explode(F.split(fr.scol(0), _re_escape(sep))).alias("t"))
            .where("t <> ''").distinct().orderBy("t").collect()
        ]
        # null rows are all-zero in pandas (not NaN), and the dtype is int
        exprs = [
            F.coalesce(F.array_contains(F.split(fr.scol(0), _re_escape(sep)), t), F.lit(False)).cast("int")
            for t in toks
        ]
        return DataFrame(_frame=fr.project(toks, exprs))

    def split(self, pat=None, n=-1, expand: bool = False, regex=None):
        """str.split; ``expand=True`` widens to one column per part (the
        width is a single tiny max-size aggregate over the split arrays,
        then a pure getItem projection — no second pass over the data)."""
        if not expand:
            return self._s._map1(lambda c: STR_FUNCS["split"](c, pat, n, regex))
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        arr = STR_FUNCS["split"](fr.scol(0), pat, n, regex)
        width = fr.sdf.agg(F.max(F.size(arr))).collect()[0][0] or 1
        labels = list(range(width))
        exprs = [arr.getItem(i) for i in range(width)]
        return DataFrame(_frame=fr.project(labels, exprs))

    def rsplit(self, pat=None, n=-1, expand: bool = False):
        """str.rsplit; same expand machinery as split (one tiny width agg +
        getItem projections)."""
        if not expand:
            return self._s._map1(lambda c: STR_FUNCS["rsplit"](c, pat, n))
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        arr = STR_FUNCS["rsplit"](fr.scol(0), pat, n)
        width = fr.sdf.agg(F.max(F.size(arr))).collect()[0][0] or 1
        labels = list(range(width))
        exprs = [arr.getItem(i) for i in range(width)]
        return DataFrame(_frame=fr.project(labels, exprs))

    def extract(self, pat: str, flags: int = 0, expand: bool = True):
        """pandas str.extract: one column per regex group (named groups keep
        their names); a single group with expand=False returns a Series.
        Pure regexp_extract projections — no UDF, no shuffle."""
        import re as _re

        rx = _re.compile(pat, flags)
        n = rx.groups
        if n == 0:
            raise ValueError("pattern contains no capture groups")
        names = {v: k for k, v in rx.groupindex.items()}
        optional = _optional_groups(pat, flags)
        # Java regex spells named groups (?<name>...), Python (?P<name>...)
        pat = pat.replace("(?P<", "(?<").replace("(?P=", r"\k<")
        # Python flags become Java inline modifiers — regexp_extract/rlike
        # never see the Python flags int, so embed them in the pattern.
        pat = _inline_flags(flags) + pat

        def grp(c, i):
            # pandas: no match (or null) -> NaN, never ''. A group that can
            # be NON-PARTICIPATING (quantified `(x)?`/`(x)*`/`(x){0,}`) also
            # yields NaN when absent — regexp_extract returns '' for both
            # non-participation and a zero-width participating match, so the
            # NULL-out applies only to statically-optional groups (`(x?)`
            # keeps pandas' '' for a participating empty match).
            e = F.regexp_extract(c, pat, i)
            v = F.when(e != "", e) if i in optional else e
            return F.when(c.rlike(pat), v)

        if n == 1 and not expand:
            return self._s._map1(lambda c: grp(c, 1))
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        labels = [names.get(i + 1, i) for i in range(n)]
        return DataFrame(_frame=fr.project(labels, [grp(fr.scol(0), i + 1) for i in range(n)]))

    def partition(self, sep=" ", expand: bool = True):
        """pandas returns a 3-column frame (head, sep, tail); expand=False
        keeps the element array."""
        arr = lambda c: STR_FUNCS["partition"](c, sep)
        if not expand:
            return self._s._map1(arr)
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        a = arr(fr.scol(0))
        return DataFrame(_frame=fr.project([0, 1, 2], [a.getItem(i) for i in range(3)]))

    def rpartition(self, sep=" ", expand: bool = True):
        arr = lambda c: STR_FUNCS["rpartition"](c, sep)
        if not expand:
            return self._s._map1(arr)
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        a = arr(fr.scol(0))
        return DataFrame(_frame=fr.project([0, 1, 2], [a.getItem(i) for i in range(3)]))

    def index(self, sub, start=0):
        """pandas str.index raises ValueError when the substring is missing
        anywhere — one tiny existence aggregate, then the find projection."""
        out = self._s._map1(lambda c: STR_FUNCS["find"](c, sub, start))
        miss = out._frame.sdf.where(out._expr == -1).limit(1).count()
        if miss:
            raise ValueError("substring not found")
        return out

    def rindex(self, sub, start=0):
        out = self._s._map1(lambda c: STR_FUNCS["rfind"](c, sub, start))
        miss = out._frame.sdf.where(out._expr == -1).limit(1).count()
        if miss:
            raise ValueError("substring not found")
        return out

    def replace(self, pat, repl, regex: bool = True, case: bool = True, **kw):
        if callable(repl):
            # callable replacement: pandas hands each re.Match to repl —
            # only expressible via the Arrow UDF path
            import re as _re

            flags = 0 if case else _re.IGNORECASE
            rx = _re.compile(pat if regex else _re.escape(pat), flags)
            return self._s.apply(
                lambda v, _rx=rx, _r=repl: None if v is None else _rx.sub(_r, v))
        return self._s._map1(lambda c: STR_FUNCS["replace"](c, pat, repl, regex=regex, case=case, **kw))

    def normalize(self, form: str) -> Series:
        """unicodedata.normalize per element — no Spark builtin exists, so
        this is an Arrow-batched pandas UDF (pandas itself normalizes at
        the python level too; map-only, no shuffle)."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            import unicodedata

            return s.map(lambda v: unicodedata.normalize(form, v)
                         if v is not None else None)

        return self._s._map1(lambda c: _norm(c))

    def len(self) -> Series:
        # pandas .str.len on a LIST column (split/findall results) counts
        # elements; on strings, characters
        if isinstance(self._s.spark_type, T.ArrayType):
            return self._s._map1(lambda c: F.when(c.isNotNull(), F.size(c)))
        return self._s._map1(STR_FUNCS["len"])

    def __dir__(self):
        return sorted(set(list(super().__dir__()) + list(STR_FUNCS)))

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in STR_FUNCS:
            raise NotImplementedError(f"str.{name}")

        def call(*args, **kwargs):
            out = self._s._map1(lambda c: STR_FUNCS[name](c, *args, **kwargs))
            return out._as_bool() if name in _STR_PREDICATES else out

        return call

    def __getitem__(self, i):
        # list column (e.g. a split() result): pandas .str[i] selects the
        # i-th ELEMENT — element_at, with pandas' out-of-range -> None
        if isinstance(self._s.spark_type, T.ArrayType):
            if isinstance(i, slice):
                return self._s._map1(
                    lambda c: F.slice(c, (i.start or 0) + 1,
                                      (i.stop if i.stop is not None else (1 << 30)) - (i.start or 0)))
            pos = i + 1 if i >= 0 else i
            return self._s._map1(
                lambda c: F.when(F.size(c) > (i if i >= 0 else -i - 1),
                                 F.element_at(c, pos)))
        if isinstance(i, slice):
            return self._s._map1(lambda c: STR_FUNCS["slice"](c, i.start, i.stop, i.step))
        return self._s._map1(lambda c: STR_FUNCS["__getitem__"](c, i))

    @property
    def len_(self):
        return self._s._map1(STR_FUNCS["len"])


class DatetimeMethods:
    def __init__(self, s: Series):
        self._s = s

    _PROPS = set(DT_FUNCS)

    def isocalendar(self):
        """ISO (year, week, day) frame — three extract() expressions in one
        projection (Spark: YEAROFWEEK / weekofyear / DAYOFWEEK_ISO)."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        c = fr.data_cols[0]
        return DataFrame(_frame=fr.project(
            ["year", "week", "day"],
            [
                F.expr(f"extract(YEAROFWEEK FROM {c})").cast("long"),
                F.weekofyear(F.col(c)).cast("long"),
                F.expr(f"extract(DAYOFWEEK_ISO FROM {c})").cast("long"),
            ],
        ))

    @property
    def components(self):
        """Timedelta components (pandas ``dt.components``): 7 integer columns
        derived from the interval's exact microsecond precision (Spark
        day-time intervals carry µs, so nanoseconds are always 0)."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._s._to_frame("__t__")
        c = fr.data_cols[0]
        d = F.expr(f"extract(DAY FROM {c})").cast("long")
        h = F.expr(f"extract(HOUR FROM {c})").cast("long")
        m = F.expr(f"extract(MINUTE FROM {c})").cast("long")
        sfrac = F.expr(f"extract(SECOND FROM {c})")
        s_ = F.floor(sfrac).cast("long")
        usfrac = ((sfrac - s_) * 1_000_000).cast("long")
        return DataFrame(_frame=fr.project(
            ["days", "hours", "minutes", "seconds",
             "milliseconds", "microseconds", "nanoseconds"],
            [d, h, m, s_, F.floor(usfrac / 1000).cast("long"),
             usfrac % 1000, F.when(F.col(c).isNotNull(), F.lit(0)).cast("long")],
        ))

    def __dir__(self):
        return sorted(set(list(super().__dir__()) + list(DT_FUNCS)))

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in DT_FUNCS:
            raise NotImplementedError(f"dt.{name}")
        fn = DT_FUNCS[name]
        # properties (no-arg) are exposed as attributes like pandas, except
        # the names pandas defines as methods
        import inspect

        _METHODS = {"total_seconds", "normalize", "to_pydatetime", "to_pytimedelta", "to_timestamp"}
        params = [p for p in inspect.signature(fn).parameters.values()][1:]
        if not params and name not in _METHODS:
            return self._s._map1(fn)

        def call(*args, **kwargs):
            out = self._s._map1(lambda c: fn(c, *args, **kwargs))
            if name == "to_period":
                # period values store as strings; a later astype(str) must
                # render missing entries as 'NaT' like pandas Periods do.
                # The freq rides along so Period +/- int can shift.
                out._astype_str_null = "NaT"
                out._period_freq = (args[0] if args else kwargs.get("freq")) or "D"
            if name in ("tz_localize", "tz_convert"):
                # Spark timestamps are naive; pandas' tz-AWARE dtype is
                # reconstructed on materialization. Storage convention:
                # tz_localize keeps the UTC instant, tz_convert the wall
                # clock in the target tz — each implies its own rebuild.
                tz = args[0] if args else kwargs.get("tz")
                if tz is None:
                    out._post_to_pandas = None
                elif name == "tz_localize":
                    out._post_to_pandas = (
                        lambda s, _tz=tz: s.dt.tz_localize("UTC").dt.tz_convert(_tz))
                    out._tz_meta = ("instant", tz)
                else:
                    out._post_to_pandas = (
                        lambda s, _tz=tz: s.dt.tz_localize(_tz, ambiguous="NaT",
                                                           nonexistent="NaT"))
                    out._tz_meta = ("wall", tz)
            return out

        return call


class ListMethods:
    """Nested array-column accessor (reference: list_* at
    /root/reference/modin/core/storage_formats/base/query_compiler.py:7354-7390)
    — all native ArrayType expressions."""

    def __init__(self, s: Series):
        self._s = s

    def flatten(self) -> Series:
        return self._s._map1(F.flatten)

    def len(self) -> Series:
        return self._s._map1(lambda c: F.when(c.isNotNull(), F.size(c)))

    def __getitem__(self, i: int) -> Series:
        # pandas list[i] is 0-based; element_at is 1-based (negatives from end)
        return self._s._map1(lambda c: F.element_at(c, i + 1 if i >= 0 else i))

    def get(self, i: int) -> Series:
        return self[i]


class StructMethods:
    """Struct-column accessor (reference: struct_* at base qc:7394-7430)."""

    def __init__(self, s: Series):
        self._s = s

    def field(self, name: str) -> Series:
        return self._s._map1(lambda c: c.getField(name), name=name)

    def dtypes(self) -> pd.Series:
        st = self._s.spark_type
        return pd.Series({f.name: spark_to_pandas_dtype(f.dataType) for f in st.fields})

    def explode(self):
        """struct -> one column per field (pandas struct.explode)."""
        from modin_spark.pandas.dataframe import DataFrame

        st = self._s.spark_type
        labels = [f.name for f in st.fields]
        exprs = [self._s._expr.getField(f.name) for f in st.fields]
        return DataFrame(_frame=self._s._frame.project(labels, exprs))


class CategoricalMethods:
    """Categorical accessor: dictionary-encode via a broadcast join against
    the sorted distinct values (reference: cat_codes qc:4797 with
    LazyProxyCategoricalDtype — here the dictionary is computed on demand)."""

    def __init__(self, s: Series):
        self._s = s

    def _dtype(self) -> pd.CategoricalDtype | None:
        """The declared CategoricalDtype when ingest recorded one (storage is
        plain string; the category SET/order ride the wrapper)."""
        return getattr(self._s, "_cat_dtype", None)

    def _with_dtype(self, s: Series, dt: pd.CategoricalDtype) -> Series:
        s._cat_dtype = dt
        s._post_to_pandas = lambda x, _d=dt: x.astype(_d)
        return s

    @property
    def categories(self) -> pd.Index:
        dt = self._dtype()
        if dt is not None:
            return dt.categories
        vals = self._s._frame.sdf.select(self._s._expr.alias("__c__")).where(
            F.col("__c__").isNotNull()
        ).distinct().orderBy("__c__").collect()
        return pd.Index([r["__c__"] for r in vals])

    @property
    def codes(self) -> Series:
        s = self._s
        dt = self._dtype()
        if dt is not None:
            # declared category ORDER defines the codes (pandas) — a bounded
            # array literal lookup, no distinct pass
            arr = F.array(*[F.lit(c) for c in dt.categories])
            pos = F.array_position(arr, s._expr).cast("short")
            expr = F.when(s._expr.isNull() | (pos == 0), F.lit(-1).cast("short")).otherwise(pos - 1)
            return Series(s._frame, expr, set(s._refs), None)  # pandas: codes is unnamed
        distinct = s._frame.sdf.select(s._expr.alias("__cv__")).where(F.col("__cv__").isNotNull()).distinct()
        from pyspark.sql.window import Window as W

        coded = distinct.withColumn("__code__", (F.dense_rank().over(W.orderBy("__cv__")) - 1).cast("short"))
        joined = s._frame.sdf.join(F.broadcast(coded), s._expr == F.col("__cv__"), "left")
        nf = SparkFrame(
            joined, s._frame.columns, s._frame.data_cols, s._frame.index_cols, s._frame.index_names,
            _lid=s._frame._lid, _chain=s._frame._chain,
        )
        return Series(nf, F.coalesce(F.col("__code__"), F.lit(-1).cast("short")), {"__code__"}, None)

    @property
    def ordered(self) -> bool:
        dt = self._dtype()
        return bool(dt.ordered) if dt is not None else False

    def rename_categories(self, mapping) -> Series:
        """Relabel category values (a plain value map over the column)."""
        s = self._s
        if not isinstance(mapping, dict):
            cats = list(self.categories)
            mapping = dict(zip(cats, mapping))
        expr = None
        for old, new in mapping.items():
            expr = F.when(s._expr == F.lit(old), F.lit(new)) if expr is None else expr.when(
                s._expr == F.lit(old), F.lit(new)
            )
        expr = expr.otherwise(s._expr)
        out = Series(s._frame, expr, set(s._refs), s._name)
        dt = self._dtype()
        if dt is not None:
            out = self._with_dtype(out, pd.CategoricalDtype(
                [mapping.get(c, c) for c in dt.categories], ordered=dt.ordered))
        return out

    def add_categories(self, new_categories) -> Series:
        dt = self._dtype()
        new = (list(new_categories)
               if isinstance(new_categories, (list, tuple, set, pd.Index))
               else [new_categories])
        s = self._s
        out = Series(s._frame, s._expr, set(s._refs), s._name)
        if dt is not None:
            return self._with_dtype(out, pd.CategoricalDtype(
                list(dt.categories) + new, ordered=dt.ordered))
        # dictionary otherwise derives from the data; unused cats are a no-op
        return out

    def remove_unused_categories(self) -> Series:
        dt = self._dtype()
        s = self._s
        if dt is None:
            return s
        observed = {r["__c__"] for r in s._frame.sdf.select(s._expr.alias("__c__"))
                    .where(F.col("__c__").isNotNull()).distinct().collect()}
        out = Series(s._frame, s._expr, set(s._refs), s._name)
        return self._with_dtype(out, pd.CategoricalDtype(
            [c for c in dt.categories if c in observed], ordered=dt.ordered))

    def remove_categories(self, removals) -> Series:
        """pandas: values in removed categories become NaN."""
        s = self._s
        rem = list(removals) if isinstance(removals, (list, tuple, set, pd.Index)) else [removals]
        out = Series(s._frame, F.when(~s._expr.isin(rem), s._expr), s._refs, s._name)
        dt = self._dtype()
        if dt is not None:
            out = self._with_dtype(out, pd.CategoricalDtype(
                [c for c in dt.categories if c not in set(rem)], ordered=dt.ordered))
        return out

    def as_ordered(self) -> Series:
        s = self._s
        out = Series(s._frame, s._expr, set(s._refs), s._name)
        dt = self._dtype()
        cats = list(dt.categories) if dt is not None else list(self.categories)
        return self._with_dtype(out, pd.CategoricalDtype(cats, ordered=True))

    def as_unordered(self) -> Series:
        s = self._s
        out = Series(s._frame, s._expr, set(s._refs), s._name)
        dt = self._dtype()
        if dt is None:
            return s
        return self._with_dtype(out, pd.CategoricalDtype(list(dt.categories), ordered=False))

    def reorder_categories(self, new_categories, ordered=None) -> Series:
        dt = self._dtype()
        s = self._s
        out = Series(s._frame, s._expr, set(s._refs), s._name)
        ordered = (dt.ordered if dt is not None else False) if ordered is None else ordered
        return self._with_dtype(out, pd.CategoricalDtype(list(new_categories), ordered=ordered))

    def set_categories(self, new_categories, ordered=False) -> Series:
        """Values outside the new dictionary become NaN (pandas)."""
        s = self._s
        keep = list(new_categories)
        out = Series(s._frame, F.when(s._expr.isin(keep), s._expr), s._refs, s._name)
        return self._with_dtype(out, pd.CategoricalDtype(keep, ordered=ordered))


def _ser_sample(self, n=None, frac=None, replace=False, random_state=None,
                weights=None, ignore_index=False):
    out = self.to_frame("__s__").sample(
        n=n, frac=frac, replace=replace, random_state=random_state,
        weights=list(weights) if weights is not None and not isinstance(weights, str) else weights,
        ignore_index=ignore_index)["__s__"]
    return out.rename(self._name)


def _ser_argmax(self):
    """Position of the max value (ties -> first): idxmax over the global
    positions, one aggregate, no sort."""
    return _ser_arg_extreme(self, "idxmax")


def _ser_argmin(self):
    return _ser_arg_extreme(self, "idxmin")


def _ser_arg_extreme(self, name):
    fr = self._to_frame("__v__").with_global_position("__p__")
    p = F.col("__p__")
    return qc.reduce_columns(fr.sdf, [(fr.scol(0), name, fr.spark_type_of(0), {"at": (p, p)})])[0]


def _ser_items(self):
    for idx, v in self.to_pandas().items():
        yield idx, v


def _ser_ravel(self):
    return self.to_pandas().to_numpy()


def _ser_factorize(self, sort: bool = False):
    """pandas factorize contract returns driver-side arrays; the codes are
    computed here distributed-first (dictionary join) only when materialized
    via .cat.codes — this method is the documented driver-side variant."""
    return self.to_pandas().factorize(sort=sort)


Series.sample = _ser_sample
Series.argmax = _ser_argmax
Series.argmin = _ser_argmin
Series.items = _ser_items
Series.ravel = _ser_ravel
Series.factorize = _ser_factorize


# ------------------------------------------------------------ Series API tail
# Frame-routed methods: run the (already distributed) DataFrame implementation
# on the 1-column projection and re-wrap the result as a Series. The
# projection keeps index columns, so index semantics survive the round trip.
def _route_frame(name):
    def fn(self, *a, **k):
        from modin_spark.pandas.dataframe import DataFrame

        res = getattr(self.to_frame("__s__"), name)(*a, **k)
        if isinstance(res, DataFrame):
            if list(res.columns) == ["__s__"]:
                return res["__s__"].rename(self._name)
            if "__s__" in list(res.columns):
                # e.g. reset_index: the value column keeps the Series' name
                # (pandas uses 0 for a nameless Series)
                return res.rename(columns={"__s__": self._name if self._name is not None else 0})
            return res
        return res

    fn.__name__ = name
    return fn


for _m in [
    "sort_index", "reset_index", "reindex", "take", "truncate", "at_time",
    "between_time", "first", "last", "set_axis", "rename_axis", "droplevel",
    "swaplevel", "reorder_levels", "xs", "resample", "interpolate",
    "tz_localize", "tz_convert", "to_period", "to_timestamp", "asfreq",
    "to_sql", "to_csv", "to_json", "to_pickle",
]:
    if not hasattr(Series, _m):
        setattr(Series, _m, _route_frame(_m))


_routed_reset_index = Series.reset_index
_NO_DEFAULT = pd.api.extensions.no_default


def _ser_reset_index(self, level=None, *, drop=False, name=_NO_DEFAULT,
                     inplace=False, allow_duplicates=False):
    """pandas Series.reset_index accepts ``name=`` for the value column
    (DataFrame.reset_index does not); pandas 2.2 IGNORES name when
    drop=True. Route through the frame implementation on a renamed view."""
    base = self if (drop or name is _NO_DEFAULT) else self.rename(name)
    return _routed_reset_index(base, level=level, drop=drop, inplace=inplace)


_ser_reset_index.__name__ = "reset_index"
Series.reset_index = _ser_reset_index


def _ser_loc(self):
    from modin_spark.pandas.indexing import _SeriesLocWrapper

    return _SeriesLocWrapper(self, positional=False)


def _ser_iloc(self):
    from modin_spark.pandas.indexing import _SeriesLocWrapper

    return _SeriesLocWrapper(self, positional=True)


Series.loc = property(_ser_loc)
Series.iloc = property(_ser_iloc)


def _ser_drop(self, labels=None, index=None):
    out = self.to_frame("__s__").drop(index=index if index is not None else labels)
    return out["__s__"].rename(self._name)


def _ser_copy(self, deep=True):
    return Series(self._frame, self._expr, self._refs, name=self._name, filter_expr=self._filter_expr)


def _ser_corr(self, other, method="pearson", min_periods=None):
    """Pairwise Pearson r — ONE aggregate after lineage/position align.
    ``spearman`` = pearson over distributed ranks (exact when NaN-free).
    ``min_periods``: NaN when fewer pairwise-complete observations exist
    (counted in the same single aggregate)."""
    if method == "spearman":
        return self.rank(method="average").corr(
            other.rank(method="average"), method="pearson", min_periods=min_periods
        )
    if method == "kendall":
        # reference parity: only pearson is distributed there (ref
        # storage_formats/pandas/aggregations.py:60), kendall defaults to
        # pandas — same size-guarded escape hatch as DataFrame.corr
        from modin_spark.functions.stats import kendall_tau_b

        fr, ea, eb, _ = self._combine(other)
        cap = 10_000_000
        pdf = (fr.sdf.select(ea.cast("double").alias("a"), eb.cast("double").alias("b"))
               .limit(cap + 1).toPandas())
        if len(pdf) > cap:
            raise ValueError(
                "corr(method='kendall') runs a driver-side kernel (reference "
                f"parity: non-pearson methods are not distributed) and is "
                f"refused above {cap:,} rows; use method='spearman', which "
                "runs fully distributed, or method='pearson'"
            )
        if min_periods is not None and (pdf["a"].notna() & pdf["b"].notna()).sum() < min_periods:
            return float("nan")
        return kendall_tau_b(pdf["a"].to_numpy(), pdf["b"].to_numpy())
    if method != "pearson":
        raise NotImplementedError(f"corr method {method!r}")
    fr, ea, eb, _ = self._combine(other)
    row = fr.sdf.agg(
        F.corr(ea.cast("double"), eb.cast("double")).alias("r"),
        F.count(F.when(ea.isNotNull() & eb.isNotNull(), 1)).alias("n"),
    ).collect()[0]
    if min_periods is not None and row["n"] < min_periods:
        return float("nan")
    return row["r"]


def _ser_cov(self, other, ddof=1):
    fr, ea, eb, _ = self._combine(other)
    f = F.covar_samp if ddof == 1 else F.covar_pop
    return fr.sdf.agg(f(ea.cast("double"), eb.cast("double")).alias("r")).collect()[0]["r"]


def _ser_is_monotonic_increasing(self):
    """Adjacent-pair compare via the block+halo shift machinery (scale-safe:
    no global window), then one tiny bool reduce."""
    prev = self.shift(1)
    ok = (self >= prev) | prev.isna()
    return bool(ok.all())


def _ser_is_monotonic_decreasing(self):
    prev = self.shift(1)
    ok = (self <= prev) | prev.isna()
    return bool(ok.all())


def _ser_is_unique(self):
    # pandas: nunique(dropna=False) == len — two missing values repeat
    n, size = self._reduce_many([("nunique", {"skipna": False}), ("size", {})])
    return n == size


def _ser_hasnans(self):
    return bool(self.isna().any())


def _ser_item(self):
    vals = self.head(2).to_pandas()
    if len(vals) != 1:
        raise ValueError("can only convert an array of size 1 to a Python scalar")
    return vals.iloc[0]


def _ser_get(self, key, default=None):
    try:
        out = self.loc[key]
        return out
    except (KeyError, IndexError):
        return default


def _ser_equals(self, other):
    a = self.to_pandas().reset_index(drop=True)
    b = other.to_pandas().reset_index(drop=True)
    return a.equals(b)


def _ser_combine_first(self, other):
    fr, ea, eb, refs = self._combine(other)
    return Series(fr, F.coalesce(ea, eb), refs, name=self._name)


def _ser_divmod(self, other):
    return self.floordiv(other), self.mod(other)


def _ser_rdivmod(self, other):
    return self.rfloordiv(other), self.rmod(other)


def _ser_add_prefix(self, prefix):
    # pandas prefixes the INDEX labels (stringifying them), not the name
    return self.rename(index=lambda lbl, _p=prefix: f"{_p}{lbl}")


def _ser_add_suffix(self, suffix):
    return self.rename(index=lambda lbl, _s=suffix: f"{lbl}{_s}")


def _ser_argsort(self):
    # pandas argsort KEEPS the original index (positions as values, -1 NaN)
    return Series._from_pandas(self.to_pandas().argsort())


Series.drop = _ser_drop
Series.copy = _ser_copy
Series.corr = _ser_corr
Series.cov = _ser_cov
Series.is_monotonic_increasing = property(_ser_is_monotonic_increasing)
Series.is_monotonic_decreasing = property(_ser_is_monotonic_decreasing)
Series.is_unique = property(_ser_is_unique)
Series.hasnans = property(_ser_hasnans)
Series.item = _ser_item
Series.get = _ser_get
Series.equals = _ser_equals
Series.combine_first = _ser_combine_first
Series.divmod = _ser_divmod
Series.rdivmod = _ser_rdivmod
Series.add_prefix = _ser_add_prefix
Series.add_suffix = _ser_add_suffix
Series.argsort = _ser_argsort
Series.ndim = 1
Series.dtypes = property(lambda self: self.dtype)
Series.pad = lambda self: self.ffill()
Series.backfill = lambda self: self.bfill()
Series.keys = lambda self: self.index
Series.bool = lambda self: bool(self.item())
Series.transform = lambda self, func: self.apply(func)
Series.view = lambda self, dtype=None: self
Series.infer_objects = lambda self: self
Series.convert_dtypes = lambda self: self
Series.to_dict = lambda self: self.to_pandas().to_dict()
Series.to_string = lambda self, **k: self.to_pandas().to_string(**k)
Series.to_markdown = lambda self, **k: self.to_pandas().to_markdown(**k)
Series.to_latex = lambda self, **k: self.to_pandas().to_latex(**k)
Series.to_numpy = lambda self: self.to_pandas().to_numpy()
Series.to_excel = lambda self, path, **k: self.to_pandas().to_excel(path, **k)
Series.to_hdf = lambda self, path, key, **k: self.to_pandas().to_hdf(path, key=key, **k)
Series.memory_usage = lambda self, index=True, deep=False: int(self.to_frame("__s__").memory_usage().sum())
Series.nbytes = property(lambda self: int(self.to_frame("__s__").memory_usage().sum()))
Series.size = property(lambda self: len(self))
Series.shape = property(lambda self: (len(self),))
Series.empty = property(lambda self: len(self) == 0)
Series.T = property(lambda self: self)
Series.transpose = lambda self: self
Series.squeeze = lambda self: self.item() if len(self) == 1 else self


def _ser_case_when(self, caselist):
    """pandas 2.2 Series.case_when: list of (condition, replacement)."""
    e = None
    for cond, repl in caselist:
        ce = cond._filter_expr if isinstance(cond, Series) and cond._filter_expr is not None else (
            cond._expr if isinstance(cond, Series) else F.lit(bool(cond))
        )
        re_ = repl._expr if isinstance(repl, Series) else _lit(repl)
        e = (e.when if e is not None else F.when)(ce, re_)
    out = e.otherwise(self._expr) if e is not None else self._expr
    return Series(self._frame, out, set(self._refs), name=self._name)


def _ser_filter(self, items=None, like=None, regex=None, axis=0):
    out = self.to_frame("__s__").reset_index()
    # Series.filter filters by index labels
    import re as _re

    fr = self._to_frame("__s__")
    if not fr.index_cols:
        if items is not None:
            return self.loc[list(items)]
        raise NotImplementedError("Series.filter(like/regex) needs labeled index")
    c = F.col(fr.index_cols[0])
    if items is not None:
        cond = c.isin(list(items))
    elif like is not None:
        cond = c.cast("string").contains(like)
    elif regex is not None:
        cond = c.cast("string").rlike(regex)
    else:
        raise TypeError("must pass items, like, or regex")
    out = Series._from_frame(fr.filter(cond))
    out._name = self._name
    return out


def _ser_pop(self, item):
    out = self.drop([item])
    val = self.loc[item]
    self._frame, self._expr, self._refs = out._frame, out._expr, out._refs
    self._native_col = None  # frame swapped: the plain-column marker is stale
    return val


def _ser_compare(self, other):
    """Differing positions, as a two-column frame (frame compare machinery).
    pandas: a SERIES compare yields FLAT self/other columns (the frame
    version's (col, self/other) MultiIndex top level is dropped)."""
    a = self.to_frame("__c__")
    b = other.to_frame("__c__")
    out = a.compare(b)
    cols = out._frame.columns
    if getattr(cols, "nlevels", 1) == 2:
        out = out.__class__(_frame=out._frame.set_labels([c[1] for c in cols]))
    return out


def _ser_align(self, other, join="outer", fill_value=None):
    fr, ea, eb, refs = self._combine(other)
    return Series(fr, ea, refs, name=self._name), Series(fr, eb, refs, name=other._name)


def _ser_update(self, other):
    merged = other.combine_first(self)
    self._frame, self._expr, self._refs = merged._frame, merged._expr, merged._refs
    # the in-place frame swap invalidates the plain-column native marker:
    # the merged frame's column 0 is the LEFT operand, not the coalesce
    self._native_col = None


def _ser_combine(self, other, func, fill_value=None):
    """Driver-side pandas combine (arbitrary python func per element).
    pandas ALIGNS BY LABEL with the union index — dropping the indexes
    compared positionally and lost the union (caught by probe wave 13)."""
    import pandas as _pd

    a = self.to_pandas()
    b = other.to_pandas() if isinstance(other, Series) else other
    return Series._from_pandas(a.combine(b, func, fill_value=fill_value))


def _ser_info(self, **kw):
    print(f"<modin_spark Series, name={self._name}, len={len(self)}>")


def _ser_unstack(self, level=-1, fill_value=None):
    return self.to_frame("__s__").unstack(level, fill_value=fill_value)


Series.compare = _ser_compare
Series.case_when = _ser_case_when
Series.filter = _ser_filter
Series.pop = _ser_pop
Series.align = _ser_align
Series.update = _ser_update
Series.combine = _ser_combine
Series.info = _ser_info
Series.unstack = _ser_unstack
Series.reindex_like = lambda self, other: self
Series.array = property(lambda self: self.to_pandas().array)
Series.axes = property(lambda self: [self.index])
Series.attrs = property(lambda self: {})
Series.set_flags = lambda self, **k: self
Series.swapaxes = lambda self, a, b: self
Series.at = property(lambda self: self.loc)
Series.iat = property(lambda self: self.iloc)
Series.to_xarray = lambda self: self.to_pandas().to_xarray()
Series.get_backend = lambda self: "Spark"
Series.set_backend = lambda self, backend, inplace=False, **k: self
Series.is_backend_pinned = lambda self: False


def _ser_asof(self, where):
    """Last value whose index <= where — block+halo asof via the frame path."""
    out = self.to_frame("__s__").asof(where)
    vals = out.to_pandas()["__s__"]
    if not isinstance(where, (list, tuple)):
        return vals.iloc[0] if len(vals) else None
    return Series._from_pandas(vals)


Series.asof = _ser_asof
Series.plot = property(lambda self: self.to_pandas().plot)
Series.hist = lambda self, *a, **k: self.to_pandas().hist(*a, **k)
Series.flags = property(lambda self: pd.Series(dtype="float64").flags)
Series.to_clipboard = lambda self, **k: self.to_pandas().to_clipboard(**k)


# ---------------------------------------------------------------- inplace=
# Series mutators accept inplace=True — adopt the derived series' fields
# (expression metadata only; no extra plan or job).
def _ser_maybe_inplace(self, out, inplace: bool):
    if inplace:
        self.__dict__.update(out.__dict__)
        # a plain-column marker describes the PRE-mutation values: keep it
        # only if the result carries its own
        self._native_col = getattr(out, "_native_col", None)
        return None
    return out


Series._maybe_inplace = _ser_maybe_inplace


def _ser_wrap_inplace(nm):
    orig = getattr(Series, nm)

    def f(self, *a, inplace: bool = False, **k):
        out = orig(self, *a, **k)
        return self._maybe_inplace(out, inplace)

    f.__name__ = nm
    f.__doc__ = orig.__doc__
    setattr(Series, nm, f)


for _nm in ["fillna", "replace", "clip", "dropna", "where", "mask",
            "sort_values", "sort_index", "ffill", "bfill"]:
    _ser_wrap_inplace(_nm)
del _ser_wrap_inplace, _nm


def _ser_resample(self, rule, **kw):
    """Series.resample: the frame Resampler with the scalar flag set, so
    aggregates come back as a Series (pandas parity)."""
    from modin_spark.pandas.dataframe import DataFrame

    name = self._name if self._name is not None else "__s__"
    fr = self._to_frame(name)
    r = DataFrame(_frame=fr).resample(rule, **kw)
    r._scalar = True
    return r


Series.resample = _ser_resample


# ------------------------------------------------------- numpy ufunc protocol
# np.sqrt(series) / np.log1p(series) / ... stay JVM-side expressions.
def _log_fn(base_fn, zero_arg):
    """numpy log semantics: log(0) = -inf (Spark: NULL), log(<0) = NaN
    (Spark already NULL — the missing encoding, correct)."""
    def f(c):
        return F.when(c.cast("double") == F.lit(float(zero_arg)),
                      F.lit(float("-inf"))).otherwise(base_fn(c))
    return f


def _finite(fn):
    """``fn`` on finite values; ±inf and NaN pass through (Spark's floor and
    ceil return a long, which would clamp them)."""
    return lambda c: F.when(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), c).otherwise(fn(c))


# NaN-minting funcs (sqrt/asin/acos of out-of-domain, trig of ±inf) route
# through _nan_to_null: Spark NaN is not the engine's missing encoding
_UFUNC_EXPRS = {
    "sqrt": lambda c: _nan_to_null(F.sqrt(c)), "exp": F.exp, "expm1": F.expm1,
    "log": _log_fn(F.log, 0.0), "log1p": _log_fn(F.log1p, -1.0),
    "log10": _log_fn(F.log10, 0.0), "log2": _log_fn(F.log2, 0.0),
    "absolute": F.abs, "fabs": F.abs, "floor": _finite(F.floor), "ceil": _finite(F.ceil),
    "sin": lambda c: _nan_to_null(F.sin(c)),
    "cos": lambda c: _nan_to_null(F.cos(c)),
    "tan": lambda c: _nan_to_null(F.tan(c)),
    "arcsin": lambda c: _nan_to_null(F.asin(c)),
    "arccos": lambda c: _nan_to_null(F.acos(c)),
    "arctan": F.atan, "sinh": F.sinh, "cosh": F.cosh,
    "tanh": F.tanh, "sign": F.signum, "negative": lambda c: -c,
    "rint": lambda c: F.round(c, 0), "square": lambda c: c * c,
    "isnan": lambda c: qc.null_or_nan(c, T.DoubleType()), "cbrt": F.cbrt,
    "isinf": lambda c: F.coalesce(F.abs(c) == F.lit(float("inf")), F.lit(False)),
    "isfinite": lambda c: F.coalesce(~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))), F.lit(False)),
    "logical_not": lambda c: ~c.cast("boolean"),
}
def _ufunc_greatest(a, b, which):
    # np.maximum/minimum(series, other): same-lineage expression pairing
    fn = F.greatest if which == "max" else F.least
    if isinstance(b, Series):
        target, ae, be, refs = a._combine(b)
        return Series(target, fn(ae, be), refs, a._name)
    return a._map1(lambda c: fn(c, _lit(b)))


_UFUNC_BINOPS = {
    "add": lambda a, b: a + b, "subtract": lambda a, b: a - b,
    "multiply": lambda a, b: a * b, "true_divide": lambda a, b: a / b,
    "divide": lambda a, b: a / b, "power": lambda a, b: a ** b,
    "mod": lambda a, b: a % b, "floor_divide": lambda a, b: a // b,
    "maximum": lambda a, b: _ufunc_greatest(a, b, "max"),
    "minimum": lambda a, b: _ufunc_greatest(a, b, "min"),
}


def _ser_array_ufunc(self, ufunc, method, *inputs, **kwargs):
    if method != "__call__" or kwargs.get("out") is not None:
        return NotImplemented
    name = ufunc.__name__
    if len(inputs) == 1 and name in _UFUNC_EXPRS:
        fn = _UFUNC_EXPRS[name]
        if name in ("absolute", "negative", "sign", "square") and self._is_integral():
            # numpy keeps an integer dtype through these
            st = self.spark_type
            return self._map1(lambda c: fn(c).cast(st))
        if name in ("floor", "ceil", "rint"):
            # pandas keeps float dtype through these
            return self._map1(lambda c: fn(c.cast("double")).cast("double"))
        return self._map1(lambda c: fn(c.cast("double")))
    if len(inputs) == 2 and name in _UFUNC_BINOPS and _UFUNC_BINOPS[name] is not None:
        a, b = inputs
        if a is self:
            return _UFUNC_BINOPS[name](self, b)
        return NotImplemented
    return NotImplemented


Series.__array_ufunc__ = _ser_array_ufunc
