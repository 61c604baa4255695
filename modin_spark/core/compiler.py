"""SparkQueryCompiler layer — one function per logical operator, operating on
SparkFrame and returning SparkFrame.

Mirrors the role of the reference's PandasQueryCompiler
(/root/reference/modin/core/storage_formats/pandas/query_compiler.py:279): the
pandas-API layer normalizes arguments and calls exactly one operator here;
this layer picks the Spark plan shape. Unlike the reference there is no
partition-manager below — Catalyst handles partial aggregation, broadcast
selection, range partitioning and AQE re-planning.

Order contracts are stated per operator. ORDER_COL may be any Spark-sortable
value (int64 from reads; a struct of parent orders after joins/concats) — all
order machinery only requires a total order, not contiguity.
"""

from __future__ import annotations

import datetime
import math
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names

_MAXLONG = (1 << 62)


# ---------------------------------------------------------------------------
# reduction algebra: pandas reduction name -> Spark Column
# ---------------------------------------------------------------------------
# The reference registers each reduction once (its Reduce / TreeReduce /
# GroupByReduce templates) and every context reuses it. agg_expr is that one
# owner here: whole-column, grouped, pivoted and windowed (``over=``)
# reductions all build through it, so each pandas rule is written once below.

def skew_from_g1(g1: Column, n: Column) -> Column:
    """pandas' bias-corrected sample skewness G1 from the population g1 that
    Spark's ``skewness`` (and a carried third moment) gives."""
    return g1 * F.sqrt(n * (n - 1)) / (n - 2)


def kurt_from_g2(g2: Column, n: Column) -> Column:
    """pandas' bias-corrected sample excess kurtosis G2 from the population
    excess g2 that Spark's ``kurtosis`` gives."""
    return ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * g2 + 6)


def moving_sem(std1: Column, n: Column, ddof: int) -> Column:
    """pandas Rolling/Expanding ``sem(ddof)``: ``std(ddof=1) / sqrt(n - ddof)``
    (the std keeps ddof=1 whatever ddof is). At n == ddof pandas divides by
    zero: inf, or NaN for a zero std."""
    e = std1 / F.sqrt(n - F.lit(ddof))
    if ddof > 1:
        e = F.when(n == F.lit(ddof), std1 * F.lit(float("inf"))).otherwise(e)
    return e


# builders take the column and ``o``, which puts the window (if any) on each
# leaf aggregate
_REDUCTIONS: dict[str, callable] = {
    "sum": lambda c, o: o(F.sum(c)),
    "mean": lambda c, o: o(F.avg(c)),
    "avg": lambda c, o: o(F.avg(c)),
    "count": lambda c, o: o(F.count(c)),
    "size": lambda c, o: o(F.count(F.lit(1))),
    "min": lambda c, o: o(F.min(c)),
    "max": lambda c, o: o(F.max(c)),
    "std": lambda c, o: o(F.stddev_samp(c)),
    "var": lambda c, o: o(F.var_samp(c)),
    # reduction sem: std(ddof=1)/sqrt(n); windows use moving_sem
    "sem": lambda c, o: o(F.stddev_samp(c)) / F.sqrt(o(F.count(c))),
    "median": lambda c, o: o(F.median(c)),
    "nunique": lambda c, o: o(F.countDistinct(c)),
    "any": lambda c, o: o(F.bool_or(c.cast("boolean"))),
    "all": lambda c, o: o(F.bool_and(c.cast("boolean"))),
    "prod": lambda c, o: o(F.product(c)),
    "product": lambda c, o: o(F.product(c)),
    "skew": lambda c, o: skew_from_g1(o(F.skewness(c)), o(F.count(c))),
    "kurt": lambda c, o: kurt_from_g2(o(F.kurtosis(c)), o(F.count(c))),
    "kurtosis": lambda c, o: kurt_from_g2(o(F.kurtosis(c)), o(F.count(c))),
    "first": lambda c, o: o(F.min_by(c, F.when(c.isNotNull(), F.col(ORDER_COL)))),
    "last": lambda c, o: o(F.max_by(c, F.when(c.isNotNull(), F.col(ORDER_COL)))),
    # approximate variants (net-new vs the exact-only reference, SURVEY §2.4)
    "approx_nunique": lambda c, o: o(F.approx_count_distinct(c)),
    "approx_median": lambda c, o: o(F.approx_percentile(c, F.lit(0.5), F.lit(10000))),
}

# pandas numeric-aggregates booleans as 0/1 (bool.sum() = #True); Spark
# refuses sum/avg over a boolean column
_BOOL_AS_INT = frozenset({"sum", "mean", "avg", "std", "var", "sem", "median", "quantile",
                          "prod", "product", "skew", "kurt", "kurtosis"})

# pandas' result over no (non-missing) values where it is not NaN: the
# sum/prod identities (min_count=0), empty any/all, and the counts
_EMPTY = {"sum": 0, "prod": 1, "product": 1, "any": False, "all": True,
          "count": 0, "size": 0, "nunique": 0}
# the aggregates that return NULL over no values and so take _EMPTY
_NULL_WHEN_EMPTY = frozenset({"sum", "prod", "product", "any", "all"})


def empty_result(name: str, input_type=None) -> Column | None:
    """pandas' value of reduction ``name`` over no values, or None for NaN."""
    if name not in _EMPTY:
        return None
    if name == "sum" and isinstance(input_type, T.DayTimeIntervalType):
        # interval sums get a type-correct zero (pandas: Timedelta(0))
        return F.expr("INTERVAL '0' SECOND")
    return F.lit(_EMPTY[name])


_DATETIMES = (T.TimestampType, T.TimestampNTZType)


def agg_expr(name: str, c: Column, q=None, input_type=None,
             ddof: int | None = None, interpolation: str | None = None, *,
             over=None, min_count: int = 0, skipna: bool = True,
             moving: bool = False, pivot: bool = False, at=None) -> Column:
    """The Spark aggregate computing pandas reduction ``name`` over ``c``.

    - ``q``: the quantile fraction; a list of them at linear interpolation
      is one percentile buffer answering an array;
    - ``input_type``: the Spark type of ``c`` (bool -> int cast, interval 0,
      the std of datetimes as an interval);
    - ``at``: for idxmax/idxmin, the (label, position) columns — the label
      of the first extreme wins;
    - ``over``: a window spec, put on each leaf aggregate (a composite such
      as sem or skew cannot take ``.over`` as a whole);
    - ``moving``: pandas Rolling/Expanding semantics where they differ from
      a reduction's (sem, see moving_sem);
    - ``min_count``: fewer observations (rows, for count) give NULL —
      pandas' ``min_count`` and a window's ``min_periods``;
    - ``skipna=False``: any missing value gives NULL, save for nunique,
      where it counts as one more distinct value (pandas' dropna=False);
    - ``pivot``: the aggregate runs per pivot cell, and a cell with no rows
      stays NULL instead of taking the sum/prod identity.
    """
    o = (lambda e: e.over(over)) if over is not None else (lambda e: e)
    if name in _BOOL_AS_INT and isinstance(input_type, T.BooleanType):
        c = c.cast("int")
    # pandas: the std of datetimes is a Timedelta — the std of the epoch
    # microseconds, turned back into an interval at the end
    as_interval = name == "std" and isinstance(input_type, _DATETIMES)
    if as_interval:
        c = F.unix_micros(c.cast("timestamp"))
    if name == "median" and over is not None:
        # Spark's median is not frame-window capable; percentile(0.5) is
        name, q = "quantile", 0.5
    if name == "quantile":
        if interpolation in (None, "linear"):
            qv = (F.array(*[F.lit(float(x)) for x in q]) if isinstance(q, (list, tuple))
                  else F.lit(float(q if q is not None else 0.5)))
            e = o(F.percentile(c, qv))
        else:
            qv = float(q if q is not None else 0.5)
            # non-linear interpolation: exact order statistics from a sorted
            # collect — the same memory class as Spark's exact percentile
            # buffer (both hold the group's values)
            arr = F.array_sort(o(F.collect_list(c)))
            n = F.size(arr)
            h = (n - 1) * F.lit(qv)
            lo = F.element_at(arr, F.floor(h).cast("int") + 1).cast("double")
            hi = F.element_at(arr, F.ceil(h).cast("int") + 1).cast("double")
            if interpolation == "lower":
                e = lo
            elif interpolation == "higher":
                e = hi
            elif interpolation == "midpoint":
                e = (lo + hi) / 2
            elif interpolation == "nearest":
                # numpy rounds the fractional index half-to-even
                e = F.element_at(arr, F.bround(h, 0).cast("int") + 1).cast("double")
            else:
                raise ValueError(f"invalid interpolation {interpolation!r}")
    elif name in ("idxmax", "idxmin"):
        # ties go to the first position; a missing value never wins
        label, pos = at
        top = name == "idxmax"
        key = F.when(c.isNotNull(), F.struct(c.alias("v"), (-pos if top else pos).alias("t")))
        e = o((F.max_by if top else F.min_by)(label, key))
    elif name == "sem" and moving:
        e = moving_sem(o(F.stddev_samp(c)), o(F.count(c)), 1 if ddof is None else int(ddof))
    elif name in ("std", "var", "sem") and ddof is not None and ddof != 1:
        # Spark's sample stats are ddof=1: M2/(n - ddof) = var_pop * n/(n - ddof),
        # NaN at n <= ddof (pandas)
        n, d = o(F.count(c)), F.lit(int(ddof))
        var = F.when(n > d, o(F.var_pop(c)) * n / (n - d))
        e = var if name == "var" else F.sqrt(var)
        if name == "sem":
            # reduction sem: std(ddof)/sqrt(n)
            e = e / F.sqrt(n)
    else:
        fn = _REDUCTIONS.get(name)
        if fn is None:
            raise NotImplementedError(f"aggregation {name!r}")
        e = fn(c, o)
    if min_count:
        seen = o(F.count(F.lit(1)) if name == "count" else F.count(c))
        e = F.when(seen >= min_count, e)
    elif name in _NULL_WHEN_EMPTY:
        e = F.coalesce(e, empty_result(name, input_type))
        if pivot:
            e = F.when(F.count(F.lit(1)) > 0, e)
    if not skipna:
        missing = o(F.count(F.lit(1))) > o(F.count(c))
        e = e + missing.cast("long") if name == "nunique" else F.when(missing, F.lit(None)).otherwise(e)
    if as_interval:
        e = F.make_dt_interval(secs=(e / 1e6).cast("decimal(18,6)"))
    return e


# pandas' scalar contract over collected aggregates: a missing result is NaN
# (NaT over datetimes), save a skipping min/max/first/last, which stays None
# (a min of strings has no NaN)
_KEEP_NONE = frozenset({"min", "max", "first", "last"})


def _pandas_scalar(v, name: str, input_type, skipna: bool):
    if isinstance(v, list):
        return [_pandas_scalar(x, name, input_type, skipna) for x in v]
    if v is None:
        if name in _KEEP_NONE and skipna:
            return None
        # idxmax/idxmin answer a label, not a datetime
        dt = isinstance(input_type, _DATETIMES) and name not in ("idxmax", "idxmin")
        return pd.NaT if dt else np.nan
    if isinstance(v, datetime.timedelta) and not isinstance(v, pd.Timedelta):
        return pd.Timedelta(v)
    return v


def reduce_columns(sdf, specs) -> list:
    """Whole-column reductions in ONE ``sdf.agg(...).collect()``: the
    reference's Reduce over every (column, name) pair at once.

    Each spec is ``(column, name, input_type, kw)``; ``kw`` holds agg_expr's
    keywords (``q`` may be a list) and ``cast``, a type the aggregate is cast
    to. Returns one pandas scalar per spec, a list for a q list."""
    if not specs:
        return []
    aggs = []
    for k, (c, name, itype, kw) in enumerate(specs):
        e = agg_expr(name, c, input_type=itype, **{a: v for a, v in kw.items() if a != "cast"})
        aggs.append((e.cast(kw["cast"]) if "cast" in kw else e).alias(f"__r{k}__"))
    row = sdf.agg(*aggs).collect()[0]
    out = []
    for k, (_c, name, itype, kw) in enumerate(specs):
        v, q = row[k], kw.get("q")
        if v is None and isinstance(q, (list, tuple)):
            v = [None] * len(q)  # no rows: no percentile array either
        out.append(_pandas_scalar(v, name, itype, kw.get("skipna", True)))
    return out


def _exact_fraction(k: int, m: int) -> float:
    """A fraction p with ``m * p == k`` in doubles, so Spark's percentile at
    p is exactly the k-th order statistic (k/m can miss: 49 * (1/49) < 1)."""
    p = k / m if m else 0.0
    for cand in (p, float(np.nextafter(p, 2.0)), float(np.nextafter(p, -1.0))):
        if float(m) * cand == k:
            return cand
    return p


def order_quantiles(sdf, cols, qs, interpolation: str) -> list[list]:
    """Whole-column quantiles at a non-linear ``interpolation`` (lower,
    higher, nearest, midpoint), by numpy's rule: the order statistics around
    the virtual index (n - 1) * q, nearest rounding half to even.

    ``cols`` holds (column, input_type) pairs. Two passes whatever the
    number of columns and qs: the counts, then one exact percentile buffer
    per column at its order statistics. (agg_expr's collect_list form holds
    a whole column in one array row; it serves grouped and window contexts.)
    Integer columns keep integer order statistics, as in pandas."""
    ns = reduce_columns(sdf, [(c, "count", t, {}) for c, t in cols])
    picks = []
    for n in ns:
        ks = []
        for q in qs:
            # pandas hands numpy q * 100, which numpy divides back
            pos = (n - 1) * (float(q) * 100.0 / 100.0)
            lo, hi = math.floor(pos), math.ceil(pos)
            ks.append({"lower": (lo,), "higher": (hi,), "nearest": (round(pos),),
                       "midpoint": (lo, hi)}[interpolation])
        picks.append(ks)
    ords = [sorted({k for pair in ks for k in pair}) for ks in picks]
    vals = iter(reduce_columns(sdf, [(c, "quantile", t, {"q": [_exact_fraction(k, n - 1) for k in o]})
                                     for (c, t), n, o in zip(cols, ns, ords) if n]))
    out = []
    for (_, t), n, ks, o in zip(cols, ns, picks, ords):
        at = dict(zip(o, next(vals))) if n else {}
        row = [sum(at[k] for k in pair) / len(pair) if n else np.nan for pair in ks]
        if n and interpolation != "midpoint" and isinstance(t, T.IntegralType):
            row = [int(v) for v in row]
        out.append(row)
    return out


# ---------------------------------------------------------------------------
# groupby
# ---------------------------------------------------------------------------

def groupby_agg(
    frame: SparkFrame,
    by_positions: Sequence[int],
    agg_spec: list[tuple[object, int | None, str, dict]],
    *,
    as_index: bool = True,
    dropna: bool = True,
    sort: bool = True,
) -> SparkFrame:
    """``df.groupby(keys).agg(...)``.

    agg_spec: list of (output_label, input_position or None, agg_name, kwargs).

    Plan shape: single hash aggregate — Catalyst inserts the map-side partial
    aggregate automatically (the reference builds this by hand as
    GroupByReduce, /root/reference/modin/core/dataframe/algebra/groupby.py:33).
    Order contract: pandas sorts by group key when sort=True; else first
    appearance. Implemented by making the key struct / min(ORDER) the new
    ORDER_COL — no extra sort pass needed until someone actually consumes
    order.
    """
    # ORDER is only consumed for first/last aggs or first-appearance order
    if (not sort) or any(s[2] in ("first", "last") for s in agg_spec):
        frame = frame.ensure_order()
    key_phys = [frame.data_cols[i] for i in by_positions]
    key_labels = [frame.columns[i] for i in by_positions]
    sdf = frame.sdf
    if dropna:
        for k in key_phys:
            sdf = sdf.where(F.col(k).isNotNull())

    out_phys = fresh_names(len(agg_spec))
    aggs = []
    for (lbl, pos, name, kw), op in zip(agg_spec, out_phys):
        c = F.col(frame.data_cols[pos]) if pos is not None else F.lit(1)
        itype = frame.schema_map.get(frame.data_cols[pos]) if pos is not None else None
        e = agg_expr(name, c, kw.get("q"), input_type=itype, ddof=kw.get("ddof"),
                     interpolation=kw.get("interpolation"), min_count=kw.get("min_count") or 0)
        aggs.append(e.alias(op))
    if sort:
        # pandas sorts group keys with NaN LAST; Spark struct ordering puts
        # nulls first — prefix each key with its null flag (false < true)
        order_fields = []
        for i, k in enumerate(key_phys):
            order_fields.append(F.col(k).isNull().alias(f"__n{i}__"))
            order_fields.append(F.col(k).alias(f"__k{i}__"))
        agged = sdf.groupBy(*key_phys).agg(*aggs).withColumn(ORDER_COL, F.struct(*order_fields))
    else:
        agged = sdf.groupBy(*key_phys).agg(F.min(ORDER_COL).alias(ORDER_COL), *aggs)

    labels = [s[0] for s in agg_spec]
    if as_index:
        return SparkFrame(agged, pd.Index(labels), out_phys, key_phys, list(key_labels))
    return SparkFrame(agged, _keys_plus_labels(key_labels, labels), key_phys + out_phys, [], [None])


def _keys_plus_labels(key_labels, labels) -> pd.Index:
    """as_index=False columns: keys + agg labels. When the agg labels are
    tuples (list/dict-of-list specs) pandas pads the keys to ('key', '') and
    the result carries 2-level columns."""
    if any(isinstance(l, tuple) for l in labels):
        width = max(len(l) for l in labels if isinstance(l, tuple))

        def pad(l):
            t = l if isinstance(l, tuple) else (l,)
            return t + ("",) * (width - len(t))

        return pd.MultiIndex.from_tuples([pad(l) for l in list(key_labels) + list(labels)])
    return pd.Index(list(key_labels) + list(labels))


def groupby_agg_udf(
    frame: SparkFrame,
    by_positions: Sequence[int],
    agg_spec: list,
    *,
    as_index: bool = True,
    dropna: bool = True,
) -> SparkFrame:
    """``groupby().agg`` specs containing arbitrary CALLABLE aggfuncs — ONE
    ``groupBy().applyInPandas`` pass computes every (column, func) entry per
    group. Built-in names in the same spec run through their pandas
    equivalents inside the group, so a mixed spec still costs one shuffle
    instead of joining a Catalyst plan to a UDF plan. Documented slow path:
    groups come back key-sorted (the struct ORDER).

    NOTE: schema inference runs ONE extra eager Spark job at plan-build time
    (a 200-row ``limit().toPandas()`` bounded to the key+value columns) so
    integer-valued callables come back int64 like pandas. The sample is
    grouped by the keys before probing, so a callable that returns int for
    one group and a fractional float for another widens the whole column to
    double instead of truncating; if an unsampled group still surprises the
    inferred long dtype, the coercer is lossless (``int(v)`` only when
    ``v == int(v)``, else NULL) rather than silently truncating."""
    key_phys = [frame.data_cols[i] for i in by_positions]
    key_labels = [frame.columns[i] for i in by_positions]
    sdf = frame.sdf
    if dropna:
        for k in key_phys:
            sdf = sdf.where(F.col(k).isNotNull())
    out_phys = fresh_names(len(agg_spec))
    specs = [(frame.data_cols[pos], fn, kw) for (_, pos, fn, kw) in agg_spec]
    cols0 = list(dict.fromkeys(key_phys + [s[0] for s in specs]))

    # dtype contract (the SAME sampling contract as groupby_apply, see the
    # guard at pandas/dataframe.py): each spec's output type is inferred by
    # running it once on a driver-side sample, so integer-valued callables
    # come back int64 like pandas; a callable must return the same scalar
    # type for every group
    def _type_of(v):
        import datetime as _dt

        import numpy as _np

        if isinstance(v, (bool, _np.bool_)):
            return T.BooleanType()
        if isinstance(v, (int, _np.integer)):
            return T.LongType()
        if isinstance(v, (pd.Timestamp, _dt.datetime)):
            return T.TimestampType()
        if isinstance(v, str):
            return T.StringType()
        return T.DoubleType()

    sample_pdf = sdf.select(*cols0).limit(200).toPandas()

    def _widen(types):
        """Combine per-group sampled types: any numeric disagreement with
        LongType widens to double (pandas upcasts the column the same way)."""
        uniq = {type(t) for t in types}
        return types[0] if len(uniq) == 1 else T.DoubleType()

    out_types = []
    for vp, fn, kw in specs:
        try:
            if key_phys and len(sample_pdf):
                # probe per sampled GROUP, not the flat sample: a callable
                # that is integral on one group but fractional on another
                # must widen the column instead of truncating later
                vals = [
                    (fn(g) if callable(fn) else getattr(g, fn)(**(kw or {})))
                    for _, g in sample_pdf.groupby(key_phys, dropna=False)[vp]
                ]
            else:
                vals = [fn(sample_pdf[vp]) if callable(fn) else getattr(sample_pdf[vp], fn)(**(kw or {}))]
            if not vals:
                out_types.append(T.DoubleType())
            else:
                out_types.append(_widen([_type_of(v) for v in vals]))
        except Exception:
            out_types.append(T.DoubleType())
    fields = [T.StructField(k, frame.schema_map[k]) for k in key_phys]
    fields += [T.StructField(op, t) for op, t in zip(out_phys, out_types)]
    schema = T.StructType(fields)
    def _lossless_int(v):
        # an unsampled group can still return a fractional float for a
        # column inferred long: NULL beats a silently truncated value
        iv = int(v)
        if v != iv:
            raise ValueError("non-integral value in long-typed agg")
        return iv

    coercers = []
    for t in out_types:
        if isinstance(t, T.LongType):
            coercers.append(_lossless_int)
        elif isinstance(t, T.BooleanType):
            coercers.append(lambda v: bool(v))
        elif isinstance(t, (T.StringType, T.TimestampType)):
            coercers.append(lambda v: v)
        else:
            coercers.append(lambda v: float(v))

    def apply_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        row = {k: [v] for k, v in zip(key_phys, key)}
        for op, (vp, fn, kw), co in zip(out_phys, specs, coercers):
            s = pdf[vp]
            v = fn(s) if callable(fn) else getattr(s, fn)(**(kw or {}))
            try:
                row[op] = [co(v)]
            except (TypeError, ValueError):
                row[op] = [None]
        return pd.DataFrame(row)

    agged = sdf.select(*cols0).groupBy(*key_phys).applyInPandas(apply_fn, schema)
    order_fields = []
    for i, k in enumerate(key_phys):
        order_fields.append(F.col(k).isNull().alias(f"__n{i}__"))
        order_fields.append(F.col(k).alias(f"__k{i}__"))
    agged = agged.withColumn(ORDER_COL, F.struct(*order_fields))
    labels = [s[0] for s in agg_spec]
    if as_index:
        return SparkFrame(agged, pd.Index(labels), out_phys, key_phys, list(key_labels))
    return SparkFrame(agged, _keys_plus_labels(key_labels, labels), key_phys + out_phys, [], [None])


def groupby_apply(frame: SparkFrame, by_positions: Sequence[int], func,
                  schema_sample_rows: int = 100, group_keys: bool = True,
                  kind_out: list | None = None, dropna: bool = True) -> SparkFrame:
    """``groupby.apply(func)`` — arbitrary pandas-DataFrame-in/out per group via
    ``applyInPandas``. Output schema is inferred by running ``func`` on one
    sampled group on the driver (the reference instead runs everywhere and
    re-aligns columns after the fact,
    /root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:4386).

    pandas fidelity: ``func`` sees the group slice with its ORIGINAL row
    labels in frame order; a DataFrame result concatenates keyed by group
    (MultiIndex ``(keys..., inner index)``), Series/scalar results stay
    keys-only.  ``group_keys=False`` drops the key levels and restores the
    original row order for rows whose labels came from the input."""
    frame = frame.ensure_order()
    key_phys = [frame.data_cols[i] for i in by_positions]
    key_labels = [frame.columns[i] for i in by_positions]
    data_phys = frame.data_cols
    labels = list(frame.columns)
    # a global position for in-task ordering (funcs see rows in FRAME order,
    # which after a sort differs from label order) + the original labels
    # (positional pandas labels when the index is default)
    pos_phys, lbl_phys = fresh_names(2)
    base = frame.with_global_position(pos_phys)
    if frame.index_cols:
        idx_phys = list(frame.index_cols)
        idx_names = list(frame.index_names)
    else:
        base = base.with_pandas_labels(lbl_phys)
        idx_phys = [lbl_phys]
        idx_names = [None]

    # dropna=True (pandas default): null-key rows belong to NO group — they
    # must vanish from the output, not form a SQL-NULL group (Spark groupBy
    # would). One pushdown-able filter before the shuffle.
    bsdf = base.sdf
    if dropna:
        nn = None
        for k in key_phys:
            c = F.col(k).isNotNull()
            nn = c if nn is None else (nn & c)
        bsdf = bsdf.where(nn)

    # sample one group to infer the output schema
    one_key = bsdf.select(*key_phys).where(
        F.struct(*key_phys).isNotNull()
    ).limit(1).collect()
    if not one_key:
        raise ValueError("empty frame in groupby.apply")
    row = one_key[0]
    cond = None
    for k in key_phys:
        c = F.col(k) == F.lit(row[k])
        cond = c if cond is None else (cond & c)
    sample_pdf = bsdf.where(cond).limit(schema_sample_rows).toPandas()

    def _named(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(pos_phys)
        named = pdf[data_phys].copy()
        named.columns = labels
        if len(idx_phys) == 1:
            named.index = pd.Index(pdf[idx_phys[0]].to_numpy(), name=idx_names[0])
        else:
            named.index = pd.MultiIndex.from_arrays(
                [pdf[c].to_numpy() for c in idx_phys], names=idx_names)
        return named

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        res = func(_named(pdf))
        if isinstance(res, pd.Series):
            res = res.to_frame().T
        elif not isinstance(res, pd.DataFrame):
            # scalar-per-group apply (pandas: a Series keyed by group)
            res = pd.DataFrame({0: [res]})
        return res

    raw_sample = func(_named(sample_pdf))
    with_inner = isinstance(raw_sample, pd.DataFrame)
    if kind_out is not None:
        kind_out.append("frame" if with_inner
                        else "series" if isinstance(raw_sample, pd.Series)
                        else "scalar")
    sample_out = run(sample_pdf)
    out_labels = list(sample_out.columns)
    # per-group SERIES results align into a frame whose columns axis takes
    # the series' NAME (pandas: describe()['v'] per group -> columns.name
    # 'v'); frames/scalars keep an unnamed columns axis
    out_cols_index = pd.Index(out_labels)
    if not with_inner and isinstance(raw_sample, pd.Series):
        out_cols_index = out_cols_index.rename(raw_sample.name)
    out_phys = fresh_names(len(out_labels))
    n_inner = sample_out.index.nlevels if with_inner else 0
    inner_names = list(sample_out.index.names) if with_inner else []
    inner_phys = fresh_names(n_inner) if n_inner else []
    seq_phys, ord_phys = fresh_names(2)

    from modin_spark.core.frame import pandas_dtype_to_spark

    fields = [T.StructField(k, frame.schema_map[k]) for k in key_phys]
    for k in range(n_inner):
        fields.append(T.StructField(
            inner_phys[k],
            pandas_dtype_to_spark(sample_out.index.get_level_values(k).dtype)))
    fields.append(T.StructField(seq_phys, T.LongType()))
    fields.append(T.StructField(ord_phys, T.LongType()))
    for lbl, p in zip(out_labels, out_phys):
        fields.append(T.StructField(p, pandas_dtype_to_spark(sample_out[lbl].dtype)))
    out_schema = T.StructType(fields)

    def apply_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(pos_phys)
        res = run(pdf)
        out = res.reset_index(drop=True)
        out.columns = out_phys
        for k in range(n_inner):
            out[inner_phys[k]] = res.index.get_level_values(k).to_numpy()
        out[seq_phys] = np.arange(len(out), dtype="int64")
        # original position of each result row whose label came from the
        # input slice (group_keys=False order restoration; NaN when the
        # func invented labels)
        if len(idx_phys) == 1:
            in_labels = pdf[idx_phys[0]].to_numpy()
        else:
            in_labels = list(zip(*[pdf[c].to_numpy() for c in idx_phys]))
        pos_map = {}
        for lbl, p in zip(in_labels, pdf[pos_phys].to_numpy()):
            pos_map.setdefault(lbl, int(p))
        out[ord_phys] = pd.array(
            [pos_map.get(lbl) for lbl in res.index.to_numpy()], dtype="Int64")
        for k, v in zip(key_phys, key):
            out[k] = v
        return out[[*key_phys, *inner_phys, seq_phys, ord_phys, *out_phys]]

    agged = bsdf.groupBy(*key_phys).applyInPandas(apply_fn, out_schema)
    if group_keys:
        agged = agged.withColumn(
            ORDER_COL, F.struct(*[F.col(k) for k in key_phys], F.col(seq_phys))
        ).drop(seq_phys, ord_phys)
        return SparkFrame(agged, out_cols_index, out_phys,
                          key_phys + inner_phys, list(key_labels) + inner_names)
    # group_keys=False: no key levels; rows whose labels came from the input
    # return to their original positions, invented labels sort group-major
    agged = agged.withColumn(
        ORDER_COL,
        F.struct(F.coalesce(F.col(ord_phys), F.lit(2**62)),
                 *[F.col(k) for k in key_phys], F.col(seq_phys)),
    ).drop(seq_phys, ord_phys)
    idx_out = inner_phys if with_inner else list(key_phys)
    nm_out = inner_names if with_inner else list(key_labels)
    return SparkFrame(agged, out_cols_index, out_phys, idx_out, nm_out)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

# pandas NaN-key matching in merges costs Spark the plain-`=` equi-join.
# True (default) keeps pandas fidelity; tests may flip it to isolate the
# plan-shape cost.
NULL_SAFE_MERGE = True


# Session-level memo: does ANY persistent catalog table exist? The analyzed
# plan walk below can only ever return True through a spark_catalog-qualified
# SubqueryAlias, i.e. a table written via saveAsTable — when the catalog is
# empty the walk (an analyzed() materialization + a py4j call per plan node,
# twice per merge) is pure driver-side overhead on every merge chain.
# Invalidated by DataFrame.to_table (the only saveAsTable site in this
# package) and on session change. LIMITATION: a table created OUTSIDE this
# API on the same session (spark.sql('CREATE TABLE ...'), df.write
# .saveAsTable on a raw pyspark frame) leaves the memo stale-False and
# bucketed-merge detection disabled for it — performance-only, never a
# correctness issue. Call modin_spark.invalidate_catalog_memo() (public
# API) after out-of-band catalog writes to re-enable the bucketed path.
_CATALOG_MEMO = {"sid": None, "has_tables": False}


def invalidate_catalog_memo() -> None:
    """Drop the session catalog memo so the next merge re-checks the catalog.

    Call after creating a persistent table outside this package (e.g.
    ``spark.sql('CREATE TABLE ...')``) to re-enable bucketed-merge
    detection for it; see _CATALOG_MEMO above."""
    _CATALOG_MEMO["sid"] = None


def _catalog_has_tables(spark) -> bool:
    sid = id(spark)
    if _CATALOG_MEMO["sid"] != sid:
        try:
            has = any(
                t.tableType != "TEMPORARY"
                for db in spark.catalog.listDatabases()
                for t in spark.catalog.listTables(db.name)
            )
        except Exception:
            has = True  # can't tell — keep the precise walk
        _CATALOG_MEMO["sid"] = sid
        _CATALOG_MEMO["has_tables"] = has
    return _CATALOG_MEMO["has_tables"]


def _shallow_catalog_scan(sdf) -> bool:
    """True when the frame is a bare catalog-table scan (filters/projections
    only) — the only shape where bucketed co-location exists and the merge
    null-pattern split pays off (``plans.shallow_catalog_scan``)."""
    from modin_spark.plans import shallow_catalog_scan

    try:
        if not _catalog_has_tables(sdf.sparkSession):
            return False
    except Exception:
        return False
    return shallow_catalog_scan(sdf)


def merge(
    left: SparkFrame,
    right: SparkFrame,
    how: str = "inner",
    left_on: Sequence[int] | None = None,
    right_on: Sequence[int] | None = None,
    left_index: bool = False,
    right_index: bool = False,
    suffixes: tuple[str, str] = ("_x", "_y"),
    broadcast_right: bool | None = None,
    sort: bool = False,
    indicator: bool | str = False,
) -> SparkFrame:
    """pandas ``merge`` (equi-join).

    Plan shape: plain Catalyst join — broadcast vs shuffle chosen by the
    optimizer/AQE (the reference hard-codes a broadcast of the combined right
    frame, /root/reference/modin/core/storage_formats/pandas/merge.py:178, or
    an explicit range-partitioned shuffle, merge.py:39; both are subsumed).
    ``broadcast_right=True`` forces the hint for known-small dimensions.

    Order contract: pandas returns left-frame order (then right order for
    ties); encoded as a struct ORDER, no sort executed.
    """
    def _with_positional_index(fr: SparkFrame) -> SparkFrame:
        # index-merge on a DEFAULT index: the positional labels ARE the key
        # (an empty key list would otherwise compile to a CROSS join)
        lc = fresh_names(1)[0]
        base = fr.with_pandas_labels(lc)
        return base._same_rows(base.sdf, index_cols=[lc], index_names=[None])

    if left_index and not left.index_cols:
        left = _with_positional_index(left)
    if right_index and not right.index_cols:
        right = _with_positional_index(right)
    # pandas: a one-sided index merge KEEPS the other side's index on the
    # result (left's for right_index joins that preserve left rows, and
    # vice versa) — materialize a default index so it can ride through
    keep_left_idx = right_index and not left_index and how in ("inner", "left", "left_outer")
    keep_right_idx = left_index and not right_index and how in ("inner", "right", "right_outer")
    if keep_left_idx and not left.index_cols:
        left = _with_positional_index(left)
    if keep_right_idx and not right.index_cols:
        right = _with_positional_index(right)
    lkeys = [left.index_cols[i] for i in range(len(left.index_cols))] if left_index else [
        left.data_cols[i] for i in (left_on or [])
    ]
    rkeys = [right.index_cols[i] for i in range(len(right.index_cols))] if right_index else [
        right.data_cols[i] for i in (right_on or [])
    ]
    if len(lkeys) != len(rkeys):
        raise ValueError("merge key arity mismatch")
    # statistics-driven: keys PROVEN null-free (parquet footer null_count /
    # exact ingest stats) keep the plain `=` equi-join plan outright
    keys_proven_nonnull = bool(lkeys) and all(
        k in left.nonnull_cols for k in lkeys
    ) and all(k in right.nonnull_cols for k in rkeys)

    left, right = left.ensure_order(), right.ensure_order()
    lsdf = left.sdf.withColumnRenamed(ORDER_COL, "__lorder__")
    # re-alias every right column to fresh physical names: self-merges and
    # merges of frames sharing lineage would otherwise collide
    r_orig = list(dict.fromkeys(right.index_cols + right.data_cols))
    r_map = dict(zip(r_orig, fresh_names(len(r_orig))))
    # one selectExpr call — physical names are generated identifiers, and a
    # per-column Column object would cost 2 py4j round-trips per column on
    # every merge of a chain
    rsdf = right.sdf.selectExpr(
        f"{ORDER_COL} AS __rorder__", *[f"{p} AS {r_map[p]}" for p in r_orig]
    )
    rkeys = [r_map[k] for k in rkeys]
    if broadcast_right:
        rsdf = F.broadcast(rsdf)

    # pandas merge matches NaN keys to each other; Spark's `=` drops them.
    # Default: ONE join with `<=>` (eqNullSafe) — Catalyst still extracts it
    # as an equi-join (hashes the coalesced key), so hash/broadcast/AQE all
    # apply and the plan tree is not duplicated. The only thing `<=>` loses
    # is BUCKETED co-location (partitioning on the raw column no longer
    # lines up), so when both inputs are shallow catalog-table scans — the
    # only shape where co-location exists — decompose by null pattern
    # instead: no-null key tuples join with plain `=` (bucket join intact),
    # and rows with a null key component, which can only null-safe-match
    # the IDENTICAL null pattern, join in a separate ~empty branch that
    # parquet null_count stats prune and whose build side broadcasts.
    # right-side columns were just re-aliased to fresh physical names, so
    # every name in the joined scope is unique and the condition can be ONE
    # parsed expression (a Column-object tree costs ~6 py4j round-trips per
    # key on every merge of a chain)
    def _cond(ls, rs, null_safe):
        op = "<=>" if null_safe else "="
        return F.expr(" AND ".join(f"({lk} {op} {rk})" for lk, rk in zip(lkeys, rkeys)))

    nullable = NULL_SAFE_MERGE and not keys_proven_nonnull and (
        any(lsdf.schema[k].nullable for k in lkeys)
        or any(rsdf.schema[k].nullable for k in rkeys)
    )
    if lkeys and nullable and _shallow_catalog_scan(lsdf) and _shallow_catalog_scan(rsdf):
        l_null = None
        for k in lkeys:
            e = F.col(k).isNull()
            l_null = e if l_null is None else (l_null | e)
        r_null = None
        for k in rkeys:
            e = F.col(k).isNull()
            r_null = e if r_null is None else (r_null | e)
        lnn, rnn = lsdf.where(~l_null), rsdf.where(~r_null)
        ln, rn = lsdf.where(l_null), rsdf.where(r_null)
        if broadcast_right:
            rnn = F.broadcast(rnn)
        # the null branch is ~empty on clean data — broadcast its build side
        # (where the join type allows) so it never costs a hash shuffle and
        # co-located/bucketed plans on the main branch stay exchange-free
        if how in ("inner", "left", "left_outer", "semi", "left_semi", "anti", "left_anti", "cross"):
            rn = F.broadcast(rn)
        elif how in ("right", "right_outer"):
            ln = F.broadcast(ln)
        joined = lnn.join(rnn, _cond(lnn, rnn, False), how).unionByName(
            ln.join(rn, _cond(ln, rn, True), how)
        )
    else:
        joined = lsdf.join(rsdf, _cond(lsdf, rsdf, nullable) if lkeys else None, how)
    if how in ("right", "outer", "full", "full_outer"):
        # pandas coalesces shared `on` keys (and index keys): right-only rows
        # carry the right key value instead of NULL
        shared = list(range(len(lkeys))) if (left_index and right_index) else [
            idx for idx, (li, ri) in enumerate(zip(left_on or [], right_on or []))
            if left.columns[li] == right.columns[ri]
        ]
        for idx in shared:
            joined = joined.withColumn(lkeys[idx], F.coalesce(F.col(lkeys[idx]), F.col(rkeys[idx])))

    # output columns: left data cols, then right data cols minus right key
    # columns when joining key-to-key with identical labels (pandas `on=`)
    out_labels: list = []
    out_phys: list[str] = []
    l_labels = list(left.columns)
    r_labels = [right.columns[i] for i in range(len(right.columns))]

    on_pairs = {}
    if left_on is not None and right_on is not None:
        for li, ri in zip(left_on, right_on):
            if left.columns[li] == right.columns[ri]:
                on_pairs[ri] = li

    overlap = {
        right.columns[j] for j in range(len(right.columns)) if j not in on_pairs
    } & set(l_labels)
    if overlap and not suffixes[0] and not suffixes[1]:
        # pandas refuses to emit silently duplicated labels
        raise ValueError(
            f"columns overlap but no suffix specified: {sorted(map(str, overlap))}"
        )
    for i, lbl in enumerate(l_labels):
        name = lbl
        # suffixes=(None, '_y') keeps that side's shared columns bare
        if suffixes[0] and lbl in {right.columns[j] for j in range(len(right.columns)) if j not in on_pairs}:
            name = f"{lbl}{suffixes[0]}"
        out_labels.append(name)
        out_phys.append(left.data_cols[i])
    for j, lbl in enumerate(r_labels):
        if j in on_pairs:
            continue  # single copy of the shared key column (from left)
        name = lbl
        if suffixes[1] and lbl in set(l_labels):
            name = f"{lbl}{suffixes[1]}"
        out_labels.append(name)
        out_phys.append(r_map[right.data_cols[j]])

    # pandas (2.x): suffixing must not CREATE a duplicate label that wasn't
    # a duplicate before (e.g. left has both "v" and "v_x", right has "v")
    if overlap:
        from collections import Counter

        dup = {lbl for lbl, n in Counter(out_labels).items() if n > 1}
        pre = {lbl for lbl, n in Counter(list(l_labels) + [
            r_labels[j] for j in range(len(r_labels)) if j not in on_pairs
        ]).items() if n > 1}
        created = dup - pre
        if created:
            raise pd.errors.MergeError(
                f"Passing 'suffixes' which cause duplicate columns "
                f"{sorted(map(str, created))} is not allowed.")

    if indicator:
        # side presence read off the order markers before they drop
        ind_name = "_merge" if indicator is True else str(indicator)
        ind_phys = fresh_names(1)[0]
        joined = joined.withColumn(
            ind_phys,
            F.when(F.col("__rorder__").isNull(), F.lit("left_only"))
            .when(F.col("__lorder__").isNull(), F.lit("right_only"))
            .otherwise(F.lit("both")),
        )
        out_labels.append(ind_name)
        out_phys.append(ind_phys)

    # struct order: unmatched side sorts last (pandas appends right-only rows);
    # the null flag leads so struct comparison never hits a NULL field.
    # One selectExpr replaces withColumn+drop+an 8-call Column struct.
    joined = joined.selectExpr(
        "* except(__lorder__, __rorder__)",
        "struct(cast((__lorder__ is null) as int) as ln, __lorder__ as l, "
        "cast((__rorder__ is null) as int) as rn, __rorder__ as r) "
        f"AS {ORDER_COL}",
    )
    if left_index and right_index:
        # index-aligned join keeps the (coalesced) index
        out = SparkFrame(joined, pd.Index(out_labels), out_phys, lkeys, list(left.index_names))
    elif keep_left_idx and left.index_cols:
        out = SparkFrame(joined, pd.Index(out_labels), out_phys,
                         list(left.index_cols), list(left.index_names))
    elif keep_right_idx and right.index_cols:
        out = SparkFrame(joined, pd.Index(out_labels), out_phys,
                         [r_map[c] for c in right.index_cols], list(right.index_names))
    else:
        out = SparkFrame(joined, pd.Index(out_labels), out_phys, [], [None])
    # propagate null-freeness through the join (merge chains then keep the
    # plain `=` plan): preserved-side columns keep their proof; a side that
    # can emit unmatched rows (outer of it) loses it
    l_nn = left.nonnull_cols
    r_nn = frozenset(r_map[p] for p in right.nonnull_cols if p in r_map)
    if how in ("inner", "cross", "semi", "left_semi", "anti", "left_anti"):
        out.nonnull_cols = l_nn | r_nn
    elif how in ("left", "left_outer"):
        out.nonnull_cols = l_nn
    elif how in ("right", "right_outer"):
        out.nonnull_cols = r_nn
    # the ORDER struct is a deterministic derivation of this join — stamp an
    # epoch so the output and its row-subset descendants recognize each
    # other's raw ORDER values as comparable (row-identity alignment in
    # binaries/setitems instead of a label re-derivation that would renumber)
    out.order_epoch = ("merge", out._lid)
    if (sort or how in ("outer", "full", "full_outer")) and lkeys:
        # pandas sorts outer-merge results by the join keys even with
        # sort=False ("outer: ... sort keys lexicographically"); NaN last
        out_keys = [F.col(k) for k in lkeys]
        out = out.sort_by(out_keys, [True] * len(out_keys))
    return out


# ---------------------------------------------------------------------------
# concat / set ops
# ---------------------------------------------------------------------------

def concat_rows(frames: list[SparkFrame], join: str = "outer", ignore_index: bool = False) -> SparkFrame:
    """``pd.concat(axis=0)``. Order contract: frames in sequence.
    Identical column SEQUENCES (duplicate labels included) union
    positionally; otherwise the label union applies."""
    first_cols = list(frames[0].columns)
    positional = all(list(fr.columns) == first_cols for fr in frames)
    if positional:
        out_labels = first_cols  # duplicates preserved
    elif join == "outer":
        out_labels = []
        for fr in frames:
            for lbl in fr.columns:
                if lbl not in out_labels:
                    out_labels.append(lbl)
    else:
        out_labels = [lbl for lbl in frames[0].columns if all(lbl in set(fr.columns) for fr in frames)]

    out_phys = fresh_names(len(out_labels))
    idx_arity = max((len(fr.index_cols) for fr in frames), default=0)
    idx_phys = fresh_names(idx_arity)

    # level-0 union type: frames WITHOUT an index contribute their
    # POSITIONAL labels (long), not nulls — pandas keeps 0..n-1 labels in
    # the union. Mixed label types stringify (documented typed-label
    # concat contract).
    lvl0_types = set()
    if idx_arity:
        for fr in frames:
            if fr.index_cols:
                lvl0_types.add(fr.schema_map[fr.index_cols[0]].simpleString())
            else:
                lvl0_types.add("bigint")
    lvl0_cast = None
    if len(lvl0_types) > 1:
        lvl0_cast = "string"

    # all-default-index concat keeps each frame's POSITIONAL labels
    # ([0,1] + [0] -> [0,1,0], duplicates included) via the labels stash,
    # unless ignore_index renumbers anyway
    stash_all = idx_arity == 0 and not ignore_index
    parts = []
    for fi, fr in enumerate(frames):
        fr = fr.ensure_order()
        lblc = None
        if (idx_arity and not fr.index_cols) or stash_all:
            fr = fr.with_pandas_labels("__cclbl__")
            lblc = "__cclbl__"
        # frames out of merge/melt/groupby(sort=True) carry an opaque (struct)
        # ORDER_COL that cannot cast to double — flatten to a contiguous long
        # position first so every branch unions a common sortable order repr
        odt = dict(fr.sdf.dtypes).get(ORDER_COL, "bigint")
        if not odt.startswith(("bigint", "int", "smallint", "tinyint", "decimal")):
            fr = fr.with_global_position("__cpos__")
            o_expr = F.col("__cpos__").cast("decimal(38,0)")
        else:
            # decimal(38,0), NOT double: monotonically_increasing_id packs
            # `pid<<33 + row`, which exceeds 2^53 past ~2^20 partitions — a
            # double cast would collapse adjacent ids into order ties.
            o_expr = F.col(ORDER_COL).cast("decimal(38,0)")
        sel = [F.struct(F.lit(fi).alias("f"), o_expr.alias("o")).alias(ORDER_COL)]
        if stash_all:
            sel.append(F.col(lblc).cast("long").alias("__cclbl__"))
        for k in range(idx_arity):
            src = fr.index_cols[k] if k < len(fr.index_cols) else (
                lblc if k == 0 else None)
            e = F.col(src) if src else F.lit(None)
            if src and lvl0_cast and k == 0:
                e = e.cast(lvl0_cast)
            sel.append(e.alias(idx_phys[k]))
        if positional:
            # identical column sequences: map source -> output by POSITION
            # (label-keying would collapse duplicate labels onto one source)
            for src, p in zip(fr.data_cols, out_phys):
                sel.append(F.col(src).alias(p))
        else:
            label_map = {}
            for lbl, p in zip(fr.columns, fr.data_cols):
                label_map.setdefault(lbl, p)
            for lbl, p in zip(out_labels, out_phys):
                src = label_map.get(lbl)
                sel.append((F.col(src) if src is not None else F.lit(None)).alias(p))
        parts.append(fr.sdf.select(*sel))

    sdf = parts[0]
    for p in parts[1:]:
        sdf = sdf.unionByName(p)
    index_names = frames[0].index_names if idx_arity else [None]
    out = SparkFrame(sdf, pd.Index(out_labels), out_phys, idx_phys, index_names)
    if stash_all:
        out.labels_col = "__cclbl__"
        out.order_is_position = False
    if ignore_index:
        out = SparkFrame(sdf, pd.Index(out_labels), out_phys, [], [None])
    return out


def concat_cols(frames: list[SparkFrame], join: str = "outer") -> SparkFrame:
    """``pd.concat(axis=1)`` — horizontal stack aligned on index columns when
    all frames have them, else on global position (each side range-partitions
    on its order; the joins co-locate). Reference: frame concat axis=1 via
    copartition, /root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:3953."""
    how = "full_outer" if join == "outer" else "inner"
    use_index = all(fr.index_cols for fr in frames)
    base = frames[0]
    if use_index:
        acc = base.sdf
        key = base.index_cols[0]
        out_labels = list(base.columns)
        out_phys = list(base.data_cols)
        for fr in frames[1:]:
            r_orig = list(dict.fromkeys(fr.index_cols + fr.data_cols))
            r_map = dict(zip(r_orig, fresh_names(len(r_orig))))
            rsdf = fr.sdf.select(*[F.col(p).alias(r_map[p]) for p in r_orig])
            rk = r_map[fr.index_cols[0]]
            acc = acc.join(rsdf, acc[key] == rsdf[rk], how)
            acc = acc.withColumn(key, F.coalesce(F.col(key), F.col(rk)))
            out_labels += list(fr.columns)
            out_phys += [r_map[p] for p in fr.data_cols]
        acc = acc.withColumn(ORDER_COL, F.col(key))
        return SparkFrame(acc, pd.Index(out_labels), out_phys, [key], list(base.index_names))
    pos = fresh_names(len(frames))

    def _poskey(fr: SparkFrame, name: str) -> SparkFrame:
        # frames with known pandas labels (order_is_position lineage or a
        # post-sort labels_col stash) align on the TRUE labels — zero extra
        # plan cost; only scan-lineage frames pay the blocked position
        return fr.with_pandas_labels(name)

    acc = _poskey(frames[0], pos[0]).sdf
    out_labels = list(base.columns)
    out_phys = list(base.data_cols)
    for k, fr in enumerate(frames[1:], start=1):
        fp = _poskey(fr, pos[k])
        r_orig = list(fp.data_cols)
        r_map = dict(zip(r_orig, fresh_names(len(r_orig))))
        rsdf = fp.sdf.select(F.col(pos[k]), *[F.col(p).alias(r_map[p]) for p in r_orig])
        acc = acc.join(rsdf, acc[pos[0]] == rsdf[pos[k]], how)
        # rows contributed ONLY by a later frame have a null left position —
        # fold each join's position into pos[0] so the final ORDER is the
        # union position for every row (pandas: union of labels, ascending)
        acc = acc.withColumn(pos[0], F.coalesce(F.col(pos[0]), F.col(pos[k])))
        out_labels += list(fr.columns)
        out_phys += [r_map[p] for p in fr.data_cols]
    acc = acc.withColumn(ORDER_COL, F.col(pos[0]))
    nf = SparkFrame(acc, pd.Index(out_labels), out_phys, [], [None])
    nf.order_is_position = all(
        (not fr.has_order) or fr.order_is_position for fr in frames
    )  # union positions ARE the pandas labels when every input was positional
    return nf


def align_frames(left: SparkFrame, right: SparkFrame, how: str = "full_outer") -> SparkFrame:
    """Row-align two frames for an element-wise binary op: the result holds
    ``left``'s columns, then ``right``'s, on one frame.

    Frames of one lineage (same rows, same order) rebase with no join.
    Otherwise ONE join aligns them the pandas way, on the index: the index
    columns, or, when neither frame has one, the pandas default-index labels
    (raw ORDER when both frames come from one derivation). ``how='full_outer'``
    is pandas' operand alignment: the union of both indexes (a missing side is
    NULL), ordered by the sorted union. ``how='left'`` is a lookup: left's
    rows and order."""
    columns = pd.Index(list(left.columns) + list(right.columns))
    if left._lid == right._lid:
        data_cols = left.data_cols + right.data_cols
        if left.can_rebase(right, set(right.data_cols)):
            return left._same_rows(left.sdf, columns=columns, data_cols=data_cols)
        if right.can_rebase(left, left._available_cols()):
            # right was derived from left (``df.where(df > 0)``): its plan
            # still carries every column of left's
            return right._same_rows(right.sdf, columns=columns, data_cols=data_cols,
                                    index_cols=left.index_cols, index_names=left.index_names)
        if right._projection is not None:
            lid, pairs = right._projection
            src_cols = right._available_cols() - {p for p, _ in pairs}
            if lid in left._chain and src_cols <= left._available_cols():
                # right is one projection of a frame whose columns left's plan
                # carries (``df.where(df > 0, -df)``): replay it there
                sdf = left.sdf.select("*", *[e.alias(p) for p, e in pairs])
                return left._same_rows(sdf, columns=columns, data_cols=data_cols)
    lf, rf = left.ensure_order(), right.ensure_order()
    lab_l = lab_r = None
    if not lf.index_cols and not rf.index_cols:
        lab_l, lab_r = fresh_names(2)
        lf, rf = lf.with_pandas_labels(lab_l), rf.with_pandas_labels(lab_r)
    if lab_l is not None and (lf.order_epoch is None or lf.order_epoch != rf.order_epoch):
        # different derivations: raw ORDER/positions are not label-true
        # (permuted after sorts, gappy after filters) — join on the labels
        lkey, rkey = [lab_l], [lab_r]
    else:
        lpos, rpos = fresh_names(2)
        lf, lkey = lf.align_keyed_with(rf, lpos)
        rf, rkey = rf.align_keyed_with(lf, rpos)
    if len(lkey) != len(rkey):
        raise NotImplementedError("alignment of indexes with different depths")
    rk = fresh_names(len(rkey))
    rdata = fresh_names(len(rf.data_cols))
    rsdf = rf.sdf.select(
        *[F.col(k).alias(n) for k, n in zip(rkey, rk)],
        *[F.col(p).alias(n) for p, n in zip(rf.data_cols, rdata)],
        *([F.col(lab_r)] if lab_r is not None else []),
    )
    cond = None
    for k, n in zip(lkey, rk):
        c = lf.sdf[k].eqNullSafe(rsdf[n])
        cond = c if cond is None else (cond & c)
    joined = lf.sdf.join(rsdf, cond, how)
    if how != "left":
        for k, n in zip(lkey, rk):
            joined = joined.withColumn(k, F.coalesce(F.col(k), F.col(n)))
        if lab_l is not None:
            joined = joined.withColumn(lab_l, F.coalesce(F.col(lab_l), F.col(lab_r)))
        joined = joined.orderBy(
            *[F.col(k).asc_nulls_last() for k in lkey], F.col(ORDER_COL).asc_nulls_first()
        ).withColumn(ORDER_COL, F.monotonically_increasing_id())
    joined = joined.drop(*rk)
    # a right-only index keeps its (position-keyed) rows as the index
    idx = lkey if lf.index_cols or (how != "left" and rf.index_cols) else []
    names = lf.index_names if lf.index_cols else (rf.index_names if idx else [None])
    nf = SparkFrame(joined, columns, lf.data_cols + rdata, idx, names)
    if lab_l is not None:
        nf.labels_col = lab_l
    return nf


def drop_duplicates(frame: SparkFrame, subset_positions: Sequence[int] | None, keep: str = "first") -> SparkFrame:
    """Order contract: keeps first (or last) occurrence, original order.

    Plan: min/max(ORDER) per key group + semi-join back — one shuffle, no
    global window (scale-safe vs a rank-over-everything approach).
    """
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in (subset_positions if subset_positions is not None else range(len(frame.columns)))]
    if keep is False:
        # pandas keep=False drops EVERY member of a duplicated group: keep
        # only groups of size 1 (same single-shuffle groupBy + semi-join)
        singles = (
            frame.sdf.groupBy(*[F.col(p) for p in phys])
            .agg(F.count(F.lit(1)).alias("__n__"), F.min(ORDER_COL).alias("__keep_order__"))
            .where(F.col("__n__") == 1)
        )
        joined = frame.sdf.join(
            singles,
            on=[frame.sdf[ORDER_COL] == singles["__keep_order__"]],
            how="left_semi",
        )
        return frame._subset_rows(joined)
    pick = F.min(ORDER_COL) if keep == "first" else F.max(ORDER_COL)
    if not frame.index_cols and set(phys) >= set(frame.data_cols):
        # subset covers the whole row: duplicates are bytewise identical, so
        # ONE groupBy (keys -> kept ORDER) replaces the agg + semi-join-back
        # (which scans the frame twice and builds a keys-sized build side)
        aggs = [pick.alias(ORDER_COL)]
        lc = frame.labels_col if (frame.labels_col is not None
                                  and frame.labels_col in frame.sdf.columns) else None
        if lc is not None:
            # the kept row's stashed pandas label rides along (post-sort
            # permuted labels would otherwise renumber)
            pick_lbl = (F.min_by(F.col(lc), F.col(ORDER_COL)) if keep == "first"
                        else F.max_by(F.col(lc), F.col(ORDER_COL)))
            aggs.append(pick_lbl.alias(lc))
        agg = frame.sdf.groupBy(*[F.col(p) for p in phys]).agg(*aggs)
        return frame._subset_rows(
            agg.select(*frame.data_cols, ORDER_COL, *([lc] if lc is not None else [])))
    keepers = frame.sdf.groupBy(*[F.col(p) for p in phys]).agg(pick.alias("__keep_order__"))
    joined = frame.sdf.join(
        keepers,
        on=[frame.sdf[p].eqNullSafe(keepers[p]) for p in phys] + [frame.sdf[ORDER_COL] == keepers["__keep_order__"]],
        how="left_semi",
    )
    return frame._subset_rows(joined)


def duplicated(frame: SparkFrame, subset_positions: Sequence[int] | None, keep: str = "first") -> SparkFrame:
    """Boolean column frame marking duplicates (pandas ``duplicated``)."""
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in (subset_positions if subset_positions is not None else range(len(frame.columns)))]
    w = Window.partitionBy(*[F.col(p) for p in phys])
    if keep == "first":
        flag = F.col(ORDER_COL) > F.min(ORDER_COL).over(w)
    elif keep == "last":
        flag = F.col(ORDER_COL) < F.max(ORDER_COL).over(w)
    else:  # keep=False -> all members of any dup group
        flag = F.count(F.lit(1)).over(w) > 1
    return frame.project(["duplicated"], [flag])


# ---------------------------------------------------------------------------
# missing data
# ---------------------------------------------------------------------------

def dropna(frame: SparkFrame, how: str = "any", thresh: int | None = None, subset_positions: Sequence[int] | None = None) -> SparkFrame:
    positions = subset_positions if subset_positions is not None else range(len(frame.columns))
    cols = [frame.scol(i) for i in positions]
    checks = [null_or_nan(c, frame.spark_type_of(i)) for i, c in zip(positions, cols)]
    nonnull = sum((F.when(~chk, 1).otherwise(0) for chk in checks), F.lit(0))
    if thresh is not None:
        cond = nonnull >= thresh
    elif how == "any":
        cond = nonnull == len(checks)
    else:
        cond = nonnull > 0
    return frame.filter(cond)


from pyspark.sql import types as _T

_FLOATING = (_T.FloatType, _T.DoubleType)


def null_or_nan(c: Column, spark_type) -> Column:
    """pandas' missing test for one column: NULL, or NaN for a float type."""
    if isinstance(spark_type, _FLOATING):
        return c.isNull() | F.isnan(c)
    return c.isNull()
