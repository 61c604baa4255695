"""GroupBy — API equivalent of the reference's DataFrameGroupBy
(/root/reference/modin/pandas/groupby.py:112).

Aggregations compile to a single Catalyst hash aggregate (partial+final agg
is automatic — the reference builds this by hand as GroupByReduce).
Transforms (cum*/shift/rank/fillna) compile to key-partitioned windows —
naturally parallel, skew handled by AQE. ``apply`` uses applyInPandas.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from modin_spark.core import compiler as qc
from modin_spark.core import windows as win
from modin_spark.core.frame import ORDER_COL, SparkFrame
from modin_spark.pandas.series import Series

_AGG_NAMES = (
    "sum mean min max count std var sem median nunique any all prod first last size skew".split()
)


class DataFrameGroupBy:
    def __init__(self, df, by, as_index=True, dropna=True, sort=True,
                 observed=True, group_keys=True):
        self._group_keys = group_keys
        self._observed = observed
        from modin_spark.pandas.dataframe import DataFrame

        self._df: DataFrame = df
        self._as_index = as_index
        self._dropna = dropna
        self._sort = sort
        # observed=False on a key whose CategoricalDtype is known (recorded
        # at setitem/assign time — Spark storage is plain string, so the
        # category SET rides on the wrapper): unobserved categories come
        # back as identity rows, pandas-style
        self._unobserved_dtype = None
        if not observed and isinstance(by, (str, int)) or (
            not observed and isinstance(by, list) and len(by) == 1):
            key = by if isinstance(by, (str, int)) else by[0]
            self._unobserved_dtype = getattr(df, "_cat_meta", {}).get(key)
        fr = df._frame
        if isinstance(by, Series):
            # external/derived key: attach as a hidden key column
            key_label = by._name if by._name is not None else "__key__"
            if fr.can_rebase(by._frame, by._refs):
                fr2 = fr.with_columns([key_label], [by._expr])
            else:
                # unrelated lineage: align the key by index/position once
                # (the same left-lookup join fillna(Series) rides), then the
                # groupBy is ordinary
                probe = df._series_at(0) if len(df.columns) else None
                if probe is None:
                    raise NotImplementedError("groupby by Series on an empty frame")
                target, _le, ke, _refs = probe._combine(by, how="left")
                # target's sdf still carries every physical column of df
                # (project keeps them hidden) — restore df's column metadata
                base = target._same_rows(
                    target.sdf, columns=fr.columns, data_cols=fr.data_cols,
                    index_cols=fr.index_cols, index_names=fr.index_names,
                )
                fr2 = base.with_columns([key_label], [ke])
            self._df = DataFrame(_frame=fr2)
            by = [key_label]
        elif isinstance(by, list) and any(isinstance(b, Series) for b in by):
            # mixed [Series, label, ...] key list: attach each Series as a
            # hidden derived key column (same-lineage rebase — one plan)
            labels = []
            cur = df
            for j, b in enumerate(by):
                if not isinstance(b, Series):
                    labels.append(b)
                    continue
                key_label = b._name if b._name is not None else f"__key{j}__"
                cfr = cur._frame
                if not cfr.can_rebase(b._frame, b._refs):
                    raise NotImplementedError(
                        "groupby list keys: an unrelated-lineage Series key "
                        "must be aligned first (assign it as a column)"
                    )
                cur = DataFrame(_frame=cfr.with_columns([key_label], [b._expr]))
                labels.append(key_label)
            self._df = cur
            by = labels
        by = by if isinstance(by, list) else [by]
        self._by_labels = by
        self._by_pos = self._df._frame.positions_of(by)
        # float/double keys: normalize NaN -> NULL ONCE at construction.
        # Spark treats NaN as an ordinary (non-NULL) value, so a COMPUTED
        # NaN key (0/0, failed parse) would sail past every isNotNull
        # dropna gate and, under dropna=False, even split into a separate
        # group from ingested NULLs. pandas knows only one missing key.
        from pyspark.sql import types as T

        kfr = self._df._frame
        norm_lbls, norm_exprs, norm_refs = [], [], set()
        for lbl, i in zip(self._by_labels, self._by_pos):
            p = kfr.data_cols[i]
            if isinstance(kfr.schema_map.get(p), (T.FloatType, T.DoubleType)):
                norm_lbls.append(lbl)
                c = kfr.scol(i)
                norm_exprs.append(F.when(~F.isnan(c), c))
                norm_refs.add(p)
        if norm_lbls:
            self._df = DataFrame(
                _frame=kfr.with_columns(norm_lbls, norm_exprs, refs=norm_refs))
            self._by_pos = self._df._frame.positions_of(by)

    # ---------------------------------------------------------------- select
    def __getattr__(self, name):
        # pandas: g.v is g["v"] for any grouped column (attribute access)
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            cols = set(self._df.columns)
        except Exception:
            raise AttributeError(name)
        if name in cols:
            return self[name]
        raise AttributeError(f"'DataFrameGroupBy' object has no attribute {name!r}")

    def __getitem__(self, key):
        if isinstance(key, list):
            sub = self._df[list(dict.fromkeys(self._by_labels + key))]
            g = DataFrameGroupBy(sub, self._by_labels, self._as_index, self._dropna, self._sort,
                                 observed=self._observed, group_keys=self._group_keys)
            g._value_labels = key
            g._unobserved_dtype = self._unobserved_dtype
            return g
        g = SeriesGroupBy._from_frame_groupby(self, key)
        return g

    def _value_positions(self, numeric_only=False, datetimes=False) -> list[tuple[Any, int]]:
        fr = self._df._frame
        labels = getattr(self, "_value_labels", None)
        out = []
        byset = set(self._by_pos)
        for i, lbl in enumerate(fr.columns):
            if i in byset:
                continue
            if labels is not None and lbl not in set(labels):
                continue
            if (labels is None and numeric_only
                    and not (fr.dtype_of(i).startswith(("int", "float")) or fr.dtype_of(i) == "bool"
                             or (datetimes and fr.dtype_of(i).startswith("datetime")))):
                # numeric_only prunes only the implicit all-columns selection;
                # an explicitly selected column always participates (pandas
                # SeriesGroupBy semantics — sums of object Nones yield NaN/0,
                # not an empty aggregate)
                continue
            out.append((lbl, i))
        return out

    # ------------------------------------------------------------------ aggs
    def _complete_unobserved(self, res, fns):
        """groupby(observed=False) on a known CategoricalDtype key: append
        identity rows (count/size/nunique/sum -> 0, else NaN) for categories
        never observed. The missing set is bounded by the category SET —
        driver metadata by definition; the body stays distributed."""
        dt = self._unobserved_dtype
        if dt is None or not self._as_index:
            return res
        from modin_spark.pandas.general import concat as _concat
        from modin_spark.pandas.io import from_pandas as _fp

        fr = res._frame
        if len(fr.index_cols) != 1:
            return res
        observed = {r[0] for r in fr.sdf.select(fr.index_cols[0]).distinct().collect()}
        missing = [c for c in dt.categories if c not in observed]
        if not missing:
            return res

        def ident(fn):
            return 0 if fn in ("count", "size", "nunique", "sum") else float("nan")

        pad = pd.DataFrame({lbl: [ident(fn)] * len(missing) for lbl, fn in fns},
                           index=pd.Index(missing, name=fr.index_names[0]))
        return _concat([res, _fp(pad)])

    def _agg_all(self, name: str, numeric_only=False, **kw):
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.pandas import native as _native

        nat = _native.maybe_groupby(self, name, numeric_only=numeric_only, **kw)
        if nat is None and numeric_only is False:
            # several pandas groupby reducers reject numeric_only kwarg
            nat = _native.maybe_groupby(self, name, **kw)
        if nat is not None:
            return nat

        # pandas keeps datetime columns in a std (a Timedelta)
        vals = self._value_positions(numeric_only, datetimes=name == "std")
        spec = [(lbl, i, name, kw) for lbl, i in vals]
        out = qc.groupby_agg(
            self._df._frame, self._by_pos, spec, as_index=self._as_index, dropna=self._dropna, sort=self._sort
        )
        res = DataFrame(_frame=out)
        if self._unobserved_dtype is not None:
            res = self._complete_unobserved(res, [(lbl, name) for lbl, _ in vals])
            # pandas keys a categorical groupby result by a CategoricalIndex
            res._post_to_pandas_index = (
                lambda ix, _d=self._unobserved_dtype: ix.astype(_d))
        return res

    def sum(self, numeric_only=True, min_count=0):
        return self._agg_all("sum", numeric_only, **({"min_count": min_count} if min_count > 0 else {}))

    def mean(self, numeric_only=True):
        return self._agg_all("mean", numeric_only)

    def min(self, numeric_only=False):
        return self._agg_all("min", numeric_only)

    def max(self, numeric_only=False):
        return self._agg_all("max", numeric_only)

    def count(self):
        return self._agg_all("count")

    def std(self, ddof=1, numeric_only=True):
        return self._agg_all("std", numeric_only,
                             **({"ddof": ddof} if ddof != 1 else {}))

    def var(self, ddof=1, numeric_only=True):
        return self._agg_all("var", numeric_only,
                             **({"ddof": ddof} if ddof != 1 else {}))

    def sem(self, ddof=1, numeric_only=True):
        return self._agg_all("sem", numeric_only,
                             **({"ddof": ddof} if ddof != 1 else {}))

    def median(self, numeric_only=True):
        return self._agg_all("median", numeric_only)

    def nunique(self):
        return self._agg_all("nunique")

    def prod(self, numeric_only=True):
        return self._agg_all("prod", numeric_only)

    def first(self):
        return self._agg_all("first")

    def last(self):
        return self._agg_all("last")

    def any(self):
        return self._agg_all("any")

    def all(self):
        return self._agg_all("all")

    def skew(self, numeric_only=True):
        return self._agg_all("skew", numeric_only)

    def quantile(self, q=0.5, numeric_only=True, interpolation="linear"):
        kw = {} if interpolation in (None, "linear") else {"interpolation": interpolation}
        return self._agg_all("quantile", numeric_only, q=q, **kw)

    def size(self):
        spec = [("size", None, "size", {})]
        out = qc.groupby_agg(
            self._df._frame, self._by_pos, spec, as_index=self._as_index,
            dropna=self._dropna, sort=self._sort
        )
        if not self._as_index:
            # pandas as_index=False: a frame with the keys + a 'size' column
            from modin_spark.pandas.dataframe import DataFrame

            return DataFrame(_frame=out)
        res = Series._from_frame(out)
        res._name = None  # pandas: groupby.size() is unnamed
        return res

    def ohlc(self):
        from modin_spark.pandas.dataframe import DataFrame

        vals = self._value_positions(numeric_only=True)
        spec = []
        for lbl, i in vals:
            spec += [
                ((lbl, "open") if len(vals) > 1 else "open", i, "first", {}),
                ((lbl, "high") if len(vals) > 1 else "high", i, "max", {}),
                ((lbl, "low") if len(vals) > 1 else "low", i, "min", {}),
                ((lbl, "close") if len(vals) > 1 else "close", i, "last", {}),
            ]
        out = qc.groupby_agg(
            self._df._frame, self._by_pos, spec, as_index=self._as_index, dropna=self._dropna, sort=self._sort
        )
        return DataFrame(_frame=out)

    def agg(self, spec=None, **named):
        """dict / list / str / named-tuple aggregation specs. ``engine=`` /
        ``engine_kwargs=`` are pandas numba EXECUTION hints — accepted and
        ignored (the plan is Catalyst's; the reference delegates these too)."""
        from modin_spark.pandas.dataframe import DataFrame

        named.pop("engine", None)
        named.pop("engine_kwargs", None)
        from modin_spark.pandas import native as _native

        nat = (_native.maybe_groupby(self, "agg", **named) if spec is None
               else _native.maybe_groupby(self, "agg", spec, **named))
        if nat is not None:
            return nat

        entries: list[tuple[Any, int | None, str, dict]] = []
        fr = self._df._frame
        # with a spec, the keywords are the aggregation's own (ddof=, q=...)
        kw = {} if spec is None else named
        if named and spec is None:
            for out_lbl, na in named.items():
                col, fn = (na.column, na.aggfunc) if hasattr(na, "column") else na
                i = fr.positions_of([col])[0]
                entries.append((out_lbl, i, fn, {}))
        elif isinstance(spec, str):
            return self._agg_all(spec, **kw)
        elif isinstance(spec, dict):
            # pandas: if ANY column's spec is a list, EVERY output column
            # gets the 2-level (column, agg) label
            any_list = any(isinstance(v, (list, tuple)) for v in spec.values())
            for col, fns in spec.items():
                i = fr.positions_of([col])[0]
                fns_list = list(fns) if isinstance(fns, (list, tuple)) else [fns]
                for fn in fns_list:
                    if any_list:
                        fname = fn if isinstance(fn, str) else getattr(fn, "__name__", str(fn))
                        out_lbl = (col, fname)
                    else:
                        out_lbl = col
                    entries.append((out_lbl, i, fn, kw))
        elif isinstance(spec, list):
            for lbl, i in self._value_positions():
                for fn in spec:
                    entries.append(((lbl, fn), i, fn, kw))
        elif callable(spec):
            # pandas applies the callable per column, output label = column
            for lbl, i in self._value_positions():
                entries.append((lbl, i, spec, {}))
        else:
            raise NotImplementedError("agg spec")
        if any(callable(e[2]) for e in entries):
            out = qc.groupby_agg_udf(
                fr, self._by_pos, entries, as_index=self._as_index, dropna=self._dropna
            )
            return DataFrame(_frame=out)
        out = qc.groupby_agg(
            fr, self._by_pos, entries, as_index=self._as_index, dropna=self._dropna, sort=self._sort
        )
        res = DataFrame(_frame=out)
        if self._unobserved_dtype is not None:
            # observed=False on a categorical key: complete the unobserved
            # categories here too (same contract as _agg_all)
            res = self._complete_unobserved(
                res, [(lbl, fn) for lbl, _i, fn, _kw in entries])
            res._post_to_pandas_index = (
                lambda ix, _d=self._unobserved_dtype: ix.astype(_d))
        return res

    aggregate = agg

    # ------------------------------------------------------------ transforms
    def _keys_notnull(self, keys):
        """The ``dropna=True`` gate for row-level group ops: AND of
        ``key IS NOT NULL``. Spark windows/groupBy treat SQL NULL as an
        ordinary group; pandas (default dropna=True) assigns null-key rows
        to NO group — transforms emit NaN there, row selectors drop the
        rows (reference plumbing: modin/pandas/groupby.py dropna arg).
        Returns None when dropna=False (null keys are real groups then)."""
        if not self._dropna:
            return None
        cond = None
        for k in keys:
            c = F.col(k).isNotNull()
            cond = c if cond is None else (cond & c)
        return cond

    def _window_transform(self, builder) -> "SparkFrame":
        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        vals = self._value_positions(numeric_only=True)
        labels = [lbl for lbl, _ in vals]
        guard = self._keys_notnull(keys)
        wrap = (lambda e: e) if guard is None else (lambda e: F.when(guard, e))
        exprs = [wrap(builder(fr.scol(i), keys)) for _, i in vals]
        return fr.project(labels, exprs)

    def cumsum(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            return F.when(c.isNull(), F.lit(None)).otherwise(F.sum(c).over(w))

        return DataFrame(_frame=self._window_transform(b))

    def cumcount(self, ascending: bool = True) -> Series:
        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        w = Window.partitionBy(*keys).orderBy(ORDER_COL)
        if ascending:
            expr = F.row_number().over(w) - 1
        else:
            # count from the end of the group: size - 1 - cumcount, via one
            # extra unordered group-count window over the same partitioning
            expr = F.count(F.lit(1)).over(Window.partitionBy(*keys)) - F.row_number().over(w)
        expr = expr.cast("bigint")
        guard = self._keys_notnull(keys)
        if guard is not None:  # dropna: null-key rows count in no group (NaN)
            expr = F.when(guard, expr)
        out = Series._from_frame(fr.project(["cumcount"], [expr]))
        out._name = None  # pandas: cumcount is unnamed int64
        return out

    def cummax(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            return F.when(c.isNull(), F.lit(None)).otherwise(F.max(c).over(w))

        return DataFrame(_frame=self._window_transform(b))

    def cummin(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            return F.when(c.isNull(), F.lit(None)).otherwise(F.min(c).over(w))

        return DataFrame(_frame=self._window_transform(b))

    def shift(self, periods=1, freq=None, fill_value=None):
        from modin_spark.pandas.dataframe import DataFrame

        if freq is not None:
            raise NotImplementedError("groupby.shift(freq=)")

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL)
            if fill_value is not None:
                return F.lag(c, periods, fill_value).over(w)
            return F.lag(c, periods).over(w)

        return DataFrame(_frame=self._window_transform(b))

    def diff(self, periods=1):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL)
            return c.cast("double") - F.lag(c, periods).over(w).cast("double")

        return DataFrame(_frame=self._window_transform(b))

    def rank(self, method="average", ascending=True, pct=False):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            # nulls must sort LAST so they never occupy low ranks (their own
            # outputs are masked below; pandas keeps NaN rank for NaN values)
            order = c.asc_nulls_last() if ascending else c.desc_nulls_last()
            w = Window.partitionBy(*keys).orderBy(order)
            if method == "min":
                r = F.rank().over(w).cast("double")
            elif method == "first":
                r = F.row_number().over(w).cast("double")
            elif method == "dense":
                r = F.dense_rank().over(w).cast("double")
            else:  # average
                # row_number extremes, not rank: F.rank() gives every tied row
                # the same min value, so min/max of it collapse to min
                rn = F.row_number().over(w)
                w2 = Window.partitionBy(*keys, c)
                r = (F.min(rn).over(w2) + F.max(rn).over(w2)) / 2
            if pct:
                # pandas pct denominator: non-null count within the group
                wg = Window.partitionBy(*keys)
                r = r / F.sum(F.when(c.isNotNull(), 1).otherwise(0)).over(wg)
            return F.when(c.isNull(), F.lit(None)).otherwise(r)

        return DataFrame(_frame=self._window_transform(b))

    def ffill(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            return F.last(c, ignorenulls=True).over(w)

        return DataFrame(_frame=self._window_transform(b))

    def bfill(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(0, Window.unboundedFollowing)
            return F.first(c, ignorenulls=True).over(w)

        return DataFrame(_frame=self._window_transform(b))

    def ngroup(self, ascending: bool = True) -> Series:
        """Scale-safe group numbering. Distinct keys are aggregated (one hash
        shuffle with map-side combine), then numbered with the blocked
        global-position scheme — range repartition + per-partition rank +
        tiny (#partitions)-row offset join — NOT an unpartitioned window
        (single-task sort of ALL distinct groups) and NOT a forced broadcast
        of them back (AQE picks the join strategy; 1e8 groups stay a shuffle
        join). pandas order: sorted keys (NaN last) when groupby(sort=True),
        first appearance when sort=False; null-key rows get NaN when
        dropna=True. ascending=False reverses the numbering (G-1-ng)."""
        from modin_spark.core.frame import (
            dense_positions, leaf_bucket_sql, order_bucket_expr as _obe, sql_name)

        fr = self._df._frame
        keys = [fr.data_cols[i] for i in self._by_pos]
        if self._sort:
            d = fr.sdf.select(*keys).distinct()
            # NaN-last key order (False < True on the flag)
            order = [e for k in keys for e in (f"isnull({sql_name(k)})", sql_name(k))]
        else:
            fr = fr.ensure_order()
            d = fr.sdf.groupBy(*keys).agg(F.min(ORDER_COL).alias("__mo__"))
            order = ["__mo__"]
        if self._dropna:
            for k in keys:
                d = d.where(F.col(k).isNotNull())
        _np = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        # deterministic bucket (see core.frame.order_bucket_sql): range-
        # shuffle pids re-sample per branch and would misalign the offsets
        # join. Bucket on the leading sort key (monotone under the full
        # composite order: leading-key major); nulls sort last here.
        if not self._sort:
            # sort=False: __mo__ is the min-ORDER value — a LONG for scan/
            # range lineages, but a STRUCT after merge/concat/groupby (the
            # cast to long would raise AnalysisException): bucket its leading
            # integral leaf, as SparkFrame._order_bucket_sql does; a
            # non-integral leaf falls back to the explicit-N range shuffle.
            t = dict((f.name, f.dataType) for f in d.schema.fields)["__mo__"]
            leaf = leaf_bucket_sql(t, "__mo__")
            bkt = F.expr(leaf) if leaf is not None else None
        else:
            k0 = keys[0]
            b0 = _obe(d, k0)
            bkt = (F.when(F.col(k0).isNull(), F.lit(2_000_000_000)).otherwise(b0)
                   if b0 is not None else None)
        if bkt is not None:
            d = d.withColumn("__pid__", bkt).repartition(_np, "__pid__")
        else:
            d = d.repartitionByRange(_np, *map(F.expr, order)).withColumn(
                "__pid__", F.spark_partition_id())
        d = dense_positions(d, "__pid__", ", ".join(order), "__ng__")
        if not ascending:
            total = d.count()  # one job over the (already aggregated) keys
            d = d.withColumn("__ng__", F.lit(total - 1) - F.col("__ng__"))
        dk = d.select(*[F.col(k).alias(f"__jk{i}__") for i, k in enumerate(keys)], "__ng__")
        cond = None
        for i, k in enumerate(keys):  # null-safe: dropna=False matches NaN groups
            c = F.col(k).eqNullSafe(F.col(f"__jk{i}__"))
            cond = c if cond is None else cond & c
        joined = fr.sdf.join(dk, cond, "left").drop(*[f"__jk{i}__" for i in range(len(keys))])
        nf = SparkFrame(joined, fr.columns, fr.data_cols, fr.index_cols, fr.index_names,
                        _lid=fr._lid, _chain=fr._chain, has_order=fr.has_order)
        nf.order_epoch = fr.order_epoch
        nf.order_is_position = fr.order_is_position
        out = Series._from_frame(nf.project(["ngroup"], [F.col("__ng__")]))
        out._name = None  # pandas: ngroup is unnamed
        return out

    def head(self, n=5):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        guard = self._keys_notnull(keys)
        sdf = fr.sdf if guard is None else fr.sdf.where(guard)
        w = Window.partitionBy(*keys).orderBy(ORDER_COL)
        sdf = sdf.withColumn("__rn__", F.row_number().over(w))
        if n >= 0:
            sdf = sdf.where(F.col("__rn__") <= n)
        else:
            # pandas head(-k): all but the LAST k rows of each group
            wc = Window.partitionBy(*keys)
            sdf = sdf.withColumn("__gn__", F.count(F.lit(1)).over(wc))
            sdf = sdf.where(F.col("__rn__") <= F.col("__gn__") + n).drop("__gn__")
        sdf = sdf.drop("__rn__")
        return DataFrame(_frame=fr._subset_rows(sdf))

    @property
    def nth(self):
        """pandas 2.x indexable selector: ``g.nth(1)``, ``g.nth([-1, 0])``,
        ``g.nth[:2]`` all work (the slice form keeps every matching row)."""
        return _NthSelector(self)

    def _nth(self, n):
        """Row(s) n of each group; negative n counts from the group's end,
        a list selects several — one key-window (+ a count window only when
        a negative position needs the group size)."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        guard = self._keys_notnull(keys)
        sdf = fr.sdf if guard is None else fr.sdf.where(guard)
        w = Window.partitionBy(*keys).orderBy(ORDER_COL)
        ns = list(n) if isinstance(n, (list, tuple)) else [n]
        sdf = sdf.withColumn("__rn__", F.row_number().over(w))
        if any(v < 0 for v in ns):
            wc = Window.partitionBy(*keys)
            sdf = sdf.withColumn("__gn__", F.count(F.lit(1)).over(wc))
        cond = None
        for v in ns:
            e = (F.col("__rn__") == v + 1) if v >= 0 else (F.col("__rn__") == F.col("__gn__") + v + 1)
            cond = e if cond is None else (cond | e)
        sdf = sdf.where(cond).drop("__rn__", "__gn__")
        return DataFrame(_frame=fr._subset_rows(sdf))

    def tail(self, n=5):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        guard = self._keys_notnull(keys)
        sdf = fr.sdf if guard is None else fr.sdf.where(guard)
        w = Window.partitionBy(*keys).orderBy(F.col(ORDER_COL).desc())
        sdf = sdf.withColumn("__rn__", F.row_number().over(w))
        if n >= 0:
            sdf = sdf.where(F.col("__rn__") <= n)
        else:
            # pandas tail(-k): all but the FIRST k rows of each group
            wc = Window.partitionBy(*keys)
            sdf = sdf.withColumn("__gn__", F.count(F.lit(1)).over(wc))
            sdf = sdf.where(F.col("__rn__") <= F.col("__gn__") + n).drop("__gn__")
        sdf = sdf.drop("__rn__")
        return DataFrame(_frame=fr._subset_rows(sdf))

    def nlargest(self, n=5):
        """Per-group top-n rows by value (SeriesGroupBy.nlargest surface) —
        key-partitioned window + row_number, one hash shuffle."""
        return self._topn(n, desc=True)

    def nsmallest(self, n=5):
        return self._topn(n, desc=False)

    def _topn(self, n: int, desc: bool):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        vals = self._value_positions(numeric_only=True)
        _, i = vals[0]
        p = fr.data_cols[i]
        order = F.col(p).desc() if desc else F.col(p).asc()
        guard = self._keys_notnull(keys)
        sdf0 = fr.sdf if guard is None else fr.sdf.where(guard)
        w = Window.partitionBy(*keys).orderBy(order, F.col(ORDER_COL))
        sdf = sdf0.withColumn("__rn__", F.row_number().over(w))
        sdf = sdf.where(F.col("__rn__") <= n).drop("__rn__")
        lbl = vals[0][0]
        key_labels = [self._df._frame.columns[j] for j in self._by_pos]
        out = fr._subset_rows(sdf, columns=pd.Index([lbl]), data_cols=[p],
                              index_cols=list(keys), index_names=list(key_labels))
        return DataFrame(_frame=out)

    def unique(self):
        """Per-group distinct values in first-appearance order: (key, value)
        pre-aggregation carrying min(ORDER), then array_sort over the small
        per-group distinct sets — two hash shuffles, map-side combined."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        key_labels = [self._df._frame.columns[i] for i in self._by_pos]
        lbl, i = self._value_positions()[0]
        p = fr.data_cols[i]
        guard = self._keys_notnull(keys)
        src = fr.sdf if guard is None else fr.sdf.where(guard)
        per = src.groupBy(*keys, F.col(p)).agg(F.min(ORDER_COL).alias("__o__"))
        lists = per.groupBy(*keys).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("__o__"), F.col(p).alias("__v__")))),
                lambda x: x["__v__"],
            ).alias("__u__"),
            F.min("__o__").alias("__go__"),
        )
        # pandas key order: sorted keys NaN-last under sort=True, first
        # appearance under sort=False — NOT whatever the hash agg emits
        if self._sort:
            order_fields = []
            for i2, k in enumerate(keys):
                order_fields.append(F.col(k).isNull().alias(f"__n{i2}__"))
                order_fields.append(F.col(k).alias(f"__k{i2}__"))
            lists = lists.withColumn(ORDER_COL, F.struct(*order_fields))
        else:
            lists = lists.withColumn(ORDER_COL, F.col("__go__"))
        out = SparkFrame(
            lists, pd.Index([lbl]), ["__u__"], list(keys), list(key_labels),
        )
        return DataFrame(_frame=out)

    def get_group(self, key):
        """Rows of one group — a plain pushdown-able filter on the keys."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        key = key if isinstance(key, tuple) else (key,)
        cond = None
        for i, v in zip(self._by_pos, key):
            c = fr.scol(i) == F.lit(v)
            cond = c if cond is None else (cond & c)
        return DataFrame(_frame=fr.filter(cond))

    def cumprod(self):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            w = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            return F.when(c.isNull(), F.lit(None)).otherwise(F.product(c).over(w))

        return DataFrame(_frame=self._window_transform(b))

    def pct_change(self, periods=1):
        from modin_spark.pandas.dataframe import DataFrame

        def b(c, keys):
            # pandas pct_change pads missing values before differencing
            wf = Window.partitionBy(*keys).orderBy(ORDER_COL).rowsBetween(Window.unboundedPreceding, 0)
            filled = F.last(c, ignorenulls=True).over(wf).cast("double")
            w = Window.partitionBy(*keys).orderBy(ORDER_COL)
            prev = F.lag(filled, periods).over(w)
            return filled / prev - 1

        return DataFrame(_frame=self._window_transform(b))

    def idxmax(self, numeric_only=True):
        return self._idx_extreme("max", numeric_only)

    def idxmin(self, numeric_only=True):
        return self._idx_extreme("min", numeric_only)

    def _idx_extreme(self, which: str, numeric_only=True):
        """Index label of the per-group max/min — ``max_by/min_by(index, value)``
        in one hash aggregate (the reference reduces per-column,
        /root/reference/modin/core/storage_formats/pandas/query_compiler.py:1101)."""
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.core.frame import fresh_names

        from pyspark.sql import types as T

        fr = self._df._frame
        pos = None
        if fr.index_cols:
            idx = F.col(fr.index_cols[0]) if len(fr.index_cols) == 1 else F.struct(
                *[F.col(c) for c in fr.index_cols]
            )
        elif fr.has_order and fr.order_is_position:
            # ORDER values ARE the pandas labels (default-index ingest,
            # possibly filtered since) — no position shuffle needed, and
            # pandas-exact labels after dropna/masks
            idx = F.col(ORDER_COL)
            pos = idx
        else:
            pos_col = fresh_names(1)[0]
            fr = fr.with_global_position(pos_col)
            idx = F.col(pos_col)
            pos = idx
        if pos is None:
            # pandas tie-break is FIRST occurrence — need a long frame
            # position; free when ORDER is already an integer
            if not fr.has_order:
                fr = fr.ensure_order()
            if isinstance(fr.schema_map.get(ORDER_COL), (T.LongType, T.IntegerType)):
                pos = F.col(ORDER_COL)
            else:
                pos_col = fresh_names(1)[0]
                fr = fr.with_global_position(pos_col)
                pos = F.col(pos_col)
        key_phys = [fr.data_cols[i] for i in self._by_pos]
        picker = F.max_by if which == "max" else F.min_by

        vals = [(lbl, i) for lbl, i in self._value_positions(numeric_only)]
        out_phys = fresh_names(len(vals))

        def tie_key(c):
            # rank by (value, ±position): max_by gets -pos (earliest wins),
            # min_by gets +pos; null values yield a null key (skipped)
            t = (-pos) if which == "max" else pos
            return F.when(c.isNotNull(), F.struct(c.alias("v"), t.alias("t")))

        aggs = [picker(idx, tie_key(fr.scol(i))).alias(p) for (_, i), p in zip(vals, out_phys)]
        agged = fr.sdf.groupBy(*key_phys).agg(*aggs)
        agged = agged.withColumn(ORDER_COL, F.struct(*[F.col(k) for k in key_phys]))
        out = SparkFrame(agged, pd.Index([lbl for lbl, _ in vals]), out_phys, key_phys, list(self._by_labels))
        return DataFrame(_frame=out)

    def transform(self, func, *args, **kwargs):
        """Group aggregate broadcast back to every row.

        String aggs compile to an unordered key-window (one shuffle, no sort);
        callables fall back to applyInPandas with the input schema.
        """
        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(func, str):
            if func in ("rank", "cumsum", "cumprod", "cummax", "cummin",
                        "cumcount", "shift", "diff", "ngroup", "ffill", "bfill"):
                # already-length-preserving group methods ARE the transform
                return getattr(self, func)(*args, **kwargs)

            def b(c, keys):
                if func == "nunique":  # DISTINCT aggs can't run over a window
                    return F.size(F.collect_set(c).over(Window.partitionBy(*keys)))
                if func in ("first", "last"):
                    wo = Window.partitionBy(*keys).orderBy(
                        ORDER_COL if func == "first" else F.col(ORDER_COL).desc()
                    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                    return F.first(c, ignorenulls=True).over(wo)
                return qc.agg_expr(func, c, kwargs.get("q"), ddof=kwargs.get("ddof"),
                                   over=Window.partitionBy(*keys))

            return DataFrame(_frame=self._window_transform(b))

        # callable: shape-preserving applyInPandas, output schema = value schema
        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        vals = self._value_positions()
        val_phys = [fr.data_cols[i] for _, i in vals]
        labels = [lbl for lbl, _ in vals]
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [fr.sdf.schema[ORDER_COL]] + [T.StructField(p, T.DoubleType()) for p in val_phys]
        )

        dropna = self._dropna

        def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            if dropna and pdf[keys].iloc[0].isnull().any():
                # pandas: the SQL-NULL key group is no group — NaN output
                res = pd.DataFrame(np.nan, index=range(len(pdf)), columns=val_phys)
                res.insert(0, ORDER_COL, pdf[ORDER_COL].values)
                return res
            named = pdf[val_phys].copy()
            named.columns = labels
            res = func(named, *args, **kwargs)
            res = res.astype("float64")
            res.columns = val_phys
            res.insert(0, ORDER_COL, pdf[ORDER_COL].values)
            return res

        sdf = fr.sdf.groupBy(*keys).applyInPandas(apply_fn, out_schema)
        out = SparkFrame(sdf, pd.Index(labels), val_phys, [], [None])
        return DataFrame(_frame=out)

    def filter(self, func):
        """Keep rows of groups where ``func(group_df)`` is truthy.

        Plan: applyInPandas keeping/dropping whole groups — schema is the
        input schema, so no inference pass is needed.
        """
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in self._by_pos]
        labels = list(fr.columns)
        data_phys = list(fr.data_cols)

        def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            named = pdf[data_phys].copy()
            named.columns = labels
            return pdf if bool(func(named)) else pdf.iloc[0:0]

        guard = self._keys_notnull(keys)
        src = fr.sdf if guard is None else fr.sdf.where(guard)
        sdf = src.groupBy(*keys).applyInPandas(apply_fn, fr.sdf.schema)
        return DataFrame(_frame=fr._subset_rows(sdf))

    def apply(self, func, *args, include_groups=True, **kwargs):
        from modin_spark.pandas.dataframe import DataFrame

        vl = getattr(self, "_value_labels", None)
        if args or kwargs:
            inner0 = func
            func = lambda d, _f=inner0, _a=tuple(args), _k=dict(kwargs): _f(d, *_a, **_k)
        if vl is not None:
            # narrowed apply: pandas hands func ONLY the selected columns
            inner1 = func
            func = lambda d, _f=inner1, _v=list(vl): _f(d[_v])
        elif not include_groups:
            # pandas 2.2: include_groups=False excludes the grouping columns
            # from the frame handed to func (the deprecation-free spelling)
            inner2 = func
            drop = list(self._by_labels)
            func = lambda d, _f=inner2, _d=drop: _f(d.drop(columns=_d))
        else:
            # pandas 2.2 deprecates operating on the grouping columns
            import warnings

            warnings.warn(
                "DataFrameGroupBy.apply operated on the grouping columns. "
                "This behavior is deprecated, and in a future version of "
                "pandas the grouping columns will be excluded from the "
                "operation. Either pass `include_groups=False` to exclude "
                "the groupings or explicitly select the grouping columns "
                "after groupby to silence this warning.",
                DeprecationWarning,
                stacklevel=2,
            )
        kind = []
        out = qc.groupby_apply(self._df._frame, self._by_pos, func,
                               group_keys=getattr(self, "_group_keys", True),
                               kind_out=kind, dropna=self._dropna)
        if kind == ["scalar"]:
            # pandas: scalar-per-group apply is a group-keyed SERIES
            s = Series._from_frame(out)
            s._name = None
            return s
        return DataFrame(_frame=out)

    def rolling(self, window, min_periods=None, center: bool = False,
                closed=None, on=None):
        from modin_spark.pandas.window import GroupRolling

        return GroupRolling(self, window, min_periods, center=center,
                            closed=closed, on=on)

    def ewm(self, com=None, span=None, halflife=None, alpha=None, adjust=True,
            min_periods=0):
        """Grouped exponentially-weighted windows. The recurrence is
        group-local, so each group runs exact pandas ewm inside ONE
        applyInPandas task (same groups-fit-in-a-task contract as
        groupby.apply; the ungrouped EWM instead uses the blocked-halo
        scheme because there are no natural partitions there)."""
        return _GroupEWM(self, dict(com=com, span=span, halflife=halflife,
                                    alpha=alpha, adjust=adjust, min_periods=min_periods))

    @property
    def keys(self):
        return self._by_labels[0] if len(self._by_labels) == 1 else list(self._by_labels)

    def pivot(self, *a, **kw):
        raise NotImplementedError


class _NthSelector:
    """``groupby.nth`` — callable (``nth(1)``) and sliceable (``nth[:2]``),
    mirroring pandas' GroupByNthSelector. The slice form compiles to one
    key-window row_number predicate (group size only when a bound is
    negative)."""

    def __init__(self, g):
        self._g = g

    def __call__(self, n, dropna=None):
        return self._g._nth(n)

    def __getitem__(self, key):
        if not isinstance(key, slice):
            return self._g._nth(key)
        from modin_spark.pandas.dataframe import DataFrame

        g = self._g
        fr = g._df._frame.ensure_order()
        keys = [fr.data_cols[i] for i in g._by_pos]
        guard = g._keys_notnull(keys)
        sdf = fr.sdf if guard is None else fr.sdf.where(guard)
        w = Window.partitionBy(*keys).orderBy(ORDER_COL)
        sdf = sdf.withColumn("__rn__", F.row_number().over(w) - 1)
        start, stop, step = key.start, key.stop, key.step or 1
        if step <= 0:
            raise NotImplementedError("groupby.nth[] with a non-positive step")
        rn = F.col("__rn__")
        if (start is not None and start < 0) or (stop is not None and stop < 0):
            wc = Window.partitionBy(*keys)
            sdf = sdf.withColumn("__gn__", F.count(F.lit(1)).over(wc))
            gn = F.col("__gn__")
            lo = F.lit(start or 0) if (start or 0) >= 0 else gn + start
            hi = F.lit(stop) if stop is None or stop >= 0 else gn + stop
        else:
            lo = F.lit(start or 0)
            hi = None if stop is None else F.lit(stop)
        cond = rn >= lo
        if stop is not None:
            cond = cond & (rn < hi)
        if step != 1:
            cond = cond & ((rn - lo) % step == 0)
        sdf = sdf.where(cond).drop("__rn__", "__gn__")
        return DataFrame(_frame=fr._subset_rows(sdf))


class _GroupEWM:
    def __init__(self, g, kw):
        self._g = g
        self._kw = kw

    def __getitem__(self, key):
        g = self._g
        g2 = DataFrameGroupBy(g._df, g._by_labels, g._as_index, g._dropna, g._sort)
        g2._value_labels = list(key) if isinstance(key, list) else [key]
        r = _GroupEWM(g2, self._kw)
        if not isinstance(key, list):
            r._as_series = True
        return r

    def _run(self, agg: str):
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.pandas.window import _group_window_finish

        g = self._g
        fr = g._df._frame
        keys = [fr.data_cols[i] for i in g._by_pos]
        val_pos = [i for _, i in g._value_positions(numeric_only=True)]
        kw = self._kw

        def pd_fn(sub):
            return getattr(sub.ewm(**kw), agg)()

        out = win.grouped_pandas_transform(fr, val_pos, keys, pd_fn)
        nf = _group_window_finish(g, fr, out)
        if getattr(self, "_as_series", False) and len(nf.data_cols) == 1:
            return Series._from_frame(nf)
        return DataFrame(_frame=nf)

    def mean(self):
        return self._run("mean")

    def sum(self):
        return self._run("sum")

    def var(self):
        return self._run("var")

    def std(self):
        return self._run("std")


class SeriesGroupBy:
    """s.groupby(key) and df.groupby(k)[col]."""

    def __init__(self, series: Series, by):
        self._series = series
        self._by = by

    @classmethod
    def _from_frame_groupby(cls, g: DataFrameGroupBy, col_label) -> "SeriesGroupBy":
        obj = cls.__new__(cls)
        obj._g = g
        obj._col = col_label
        return obj

    def apply(self, func, *args, **kwargs):
        """Series-groupby apply (pandas shapes): func sees the GROUP'S
        SERIES with its original labels; scalar results -> group-keyed
        Series, Series results -> concat keyed by group (key levels dropped
        and original order restored under group_keys=False); the result
        keeps the source column's name."""
        from modin_spark.pandas.dataframe import DataFrame

        g = self._fg()
        col = g._value_labels[0]

        def inner(d, _f=func, _c=col, _a=tuple(args), _k=dict(kwargs)):
            r = _f(d[_c], *_a, **_k)
            if isinstance(r, pd.Series):
                return r.to_frame("__sga__")
            return r

        # bypass the narrowing wrapper: inner needs the key-labeled frame
        g2 = DataFrameGroupBy(g._df, g._by_labels, g._as_index, g._dropna, g._sort,
                              group_keys=getattr(g, "_group_keys", True))
        import warnings

        with warnings.catch_warnings():
            # the internal frame-level apply is not a user "operated on the
            # grouping columns" call — pandas' SeriesGroupBy.apply never warns
            warnings.simplefilter("ignore", DeprecationWarning)
            res = g2.apply(inner)
        if isinstance(res, Series):  # scalar-per-group path
            res._name = col
            return res
        if isinstance(res, DataFrame) and len(res._frame.columns) == 1:
            out = Series._from_frame(res._frame)
            lbl = res._frame.columns[0]
            out._name = col if lbl == "__sga__" or str(lbl) == str(col) else None
            return out
        return res

    def _fg(self) -> DataFrameGroupBy:
        if hasattr(self, "_g"):
            g2 = DataFrameGroupBy(self._g._df, self._g._by_labels, self._g._as_index,
                                  self._g._dropna, self._g._sort,
                                  observed=getattr(self._g, "_observed", True),
                                  group_keys=getattr(self._g, "_group_keys", True))
            g2._value_labels = [self._col]
            g2._scalar_selection = True  # gb["col"], not gb[["col"]]
            g2._unobserved_dtype = self._g._unobserved_dtype
            return g2
        # standalone series groupby: build a 2-col frame
        from modin_spark.pandas.dataframe import DataFrame

        s, by = self._series, self._by
        if not isinstance(by, Series):
            raise NotImplementedError("series.groupby by label requires index")
        key_lbl = by._name if by._name is not None else "__key__"
        val_lbl = s._name if s._name is not None else "__val__"
        fr = s._frame
        if fr.can_rebase(by._frame, by._refs):
            fr2 = fr.project([key_lbl, val_lbl], [by._expr, s._expr])
        else:
            # unaligned key series: index/position alignment join (_combine)
            target, se, be, _refs = s._combine(by)
            fr2 = target.project([key_lbl, val_lbl], [be, se])
        g = DataFrameGroupBy(DataFrame(_frame=fr2), [key_lbl])
        g._value_labels = [val_lbl]
        return g

    def agg(self, spec=None, *args, **named):
        """pandas SeriesGroupBy.agg: a LIST spec yields FLAT columns named
        by each agg fn (the frame path would label them (col, fn)).
        Positional ``*args`` after a callable spec are forwarded to it
        (pandas ``agg(func, *args)``); engine=/engine_kwargs= numba hints
        are accepted and ignored."""
        import pandas as pd

        from modin_spark.pandas.dataframe import DataFrame

        named.pop("engine", None)
        named.pop("engine_kwargs", None)
        from modin_spark.pandas import native as _native

        nat = (_native.maybe_groupby(self, "agg", **named) if spec is None
               else _native.maybe_groupby(self, "agg", spec))
        if nat is not None:
            return nat

        if args and callable(spec):
            inner = spec
            spec = lambda s, _f=inner, _a=tuple(args): _f(s, *_a)
            args = ()
        if (isinstance(spec, list) and spec
                and all(isinstance(t, tuple) and len(t) == 2 for t in spec)):
            # pandas legacy (name, fn) tuple list -> named-agg columns
            g = self._fg()
            col = g._value_labels[0]
            return g.agg(**{nm: (col, fn) for nm, fn in spec})
        res = self._fg().agg(spec, **named)
        if isinstance(spec, list) and isinstance(res, DataFrame):
            fr = res._frame
            flat = [
                (getattr(t[1], "__name__", t[1]) if isinstance(t, tuple) else t)
                for t in fr.columns
            ]
            return DataFrame(_frame=fr._same_rows(fr.sdf, columns=pd.Index(flat)))
        if isinstance(res, DataFrame) and len(res._frame.columns) == 1:
            return Series._from_frame(res._frame)
        return res

    aggregate = agg

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        g = self._fg()
        attr = getattr(g, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            res = attr(*args, **kwargs)
            from modin_spark.pandas.dataframe import DataFrame
            from modin_spark.pandas.window import GroupExpanding, GroupRolling

            if isinstance(res, DataFrame) and len(res._frame.columns) == 1:
                out = Series._from_frame(res._frame)
                pidx = getattr(res, "_post_to_pandas_index", None)
                if pidx is not None:
                    out._post_to_pandas_index = pidx
                return out
            if isinstance(res, (GroupRolling, GroupExpanding, _GroupEWM)):
                # s-groupby window results are Series in pandas
                res._as_series = True
            return res

        return call


# ------------------------------------------------------- GroupBy API tail
def _g_ngroups(self) -> int:
    fr = self._df._frame
    keys = [F.col(fr.data_cols[i]) for i in self._by_pos]
    return fr.sdf.select(*keys).distinct().count()


def _g_groups(self):
    """Driver-side {key: index labels} map — pandas' own contract is a
    materialized dict, so this is inherently a collect (documented)."""
    return self._df.to_pandas().groupby(self._by_labels).groups


def _g_indices(self):
    return self._df.to_pandas().groupby(self._by_labels).indices


def _g_describe(self):
    """Per-group describe: one groupBy computing all 8 stats per numeric
    column (single shuffle, partial+final agg). A single narrowed column
    (SeriesGroupBy.describe) gets pandas' FLAT stat columns."""
    from modin_spark.pandas.dataframe import DataFrame

    vals = self._value_positions(numeric_only=True)
    flat = getattr(self, "_scalar_selection", False) and len(vals) == 1
    entries = []
    for lbl, i in vals:
        for stat, fn, kw in [
            ("count", "count", {}), ("mean", "mean", {}), ("std", "std", {}),
            ("min", "min", {}), ("25%", "quantile", {"q": 0.25}),
            ("50%", "quantile", {"q": 0.5}), ("75%", "quantile", {"q": 0.75}),
            ("max", "max", {}),
        ]:
            entries.append((stat if flat else (lbl, stat), i, fn, kw))
    out = qc.groupby_agg(
        self._df._frame, self._by_pos, entries, as_index=self._as_index,
        dropna=self._dropna, sort=self._sort,
    )
    return DataFrame(_frame=out)


def _g_value_counts(self, sort: bool = True, ascending: bool = False, normalize: bool = False):
    """Counts of unique rows per group: ONE groupBy on keys+values."""
    sub = DataFrameGroupBy(
        self._df,
        self._by_labels + [lbl for lbl, _ in self._value_positions()],
        self._as_index, self._dropna, self._sort,
    )
    s = sub.size()
    nby = len(self._by_labels)

    def _sort_within_groups(ser):
        # pandas sorts the count WITHIN each group (groups stay in key
        # order); ties keep value order — keys asc, count, then the value
        # levels as a deterministic tiebreak
        fr2 = ser._to_frame("__vc__")
        keys = [F.col(c) for c in fr2.index_cols[:nby]]
        rest = [F.col(c) for c in fr2.index_cols[nby:]]
        exprs = keys + [fr2.scol(0)] + rest
        asc = [True] * nby + [ascending] + [True] * len(rest)
        return Series._from_frame(fr2.sort_by(exprs, asc))

    if normalize:
        # proportion within each GROUP: one key-partitioned window over the
        # already-aggregated (keys, values, count) rows — no extra shuffle
        # class (the window partitions on a prefix of the aggregate keys)
        from pyspark.sql.window import Window

        fr = s._to_frame("__vc__")
        w = Window.partitionBy(*[F.col(c) for c in fr.index_cols[:nby]])
        expr = fr.scol(0).cast("double") / F.sum(fr.scol(0)).over(w)
        out = fr.project(["proportion"], [expr])
        s = Series._from_frame(out)
        if sort:
            s = _sort_within_groups(s)
        s._name = "proportion"
        return s
    if sort:
        s = _sort_within_groups(s)
    s._name = "count"  # pandas 2.x: groupby.value_counts is named 'count'
    return s


def _g_fillna(self, value):
    from modin_spark.pandas.dataframe import DataFrame

    fr = self._df._frame
    vals = self._value_positions()
    return DataFrame(_frame=fr.project(
        [lbl for lbl, _ in vals], [F.coalesce(fr.scol(i), F.lit(value)) for _, i in vals]
    ))


def _g_sample(self, n=None, frac=None, random_state=None):
    """Per-group sampling. frac -> seeded Bernoulli (group-independent, no
    shuffle); n -> row_number over rand() per key-window, <= n."""
    from modin_spark.pandas.dataframe import DataFrame
    from pyspark.sql.window import Window

    fr = self._df._frame
    seed = random_state if random_state is not None else 42
    guard = self._keys_notnull([fr.data_cols[i] for i in self._by_pos])
    if frac is not None and n is None:
        cond = F.rand(seed) < float(frac)
        return DataFrame(_frame=fr.filter(cond if guard is None else (cond & guard)))
    keys = [F.col(fr.data_cols[i]) for i in self._by_pos]
    src = fr.sdf if guard is None else fr.sdf.where(guard)
    w = Window.partitionBy(*keys).orderBy(F.rand(seed))
    sdf = src.withColumn("__rn__", F.row_number().over(w)).where(F.col("__rn__") <= int(n)).drop("__rn__")
    return DataFrame(_frame=fr._subset_rows(sdf))


def _g_take(self, indices):
    """Positional selection within each group — one key-window row_number
    (plus a descending one when negative positions are present, so
    ``take([-1])`` = last row per group resolves without a per-group count).
    Set semantics: rows come back in frame order, a row matched by both a
    positive and a negative position appears once."""
    from modin_spark.pandas.dataframe import DataFrame
    from modin_spark.pandas.window import _group_window_finish
    from pyspark.sql.window import Window

    fr = self._df._frame.ensure_order()
    if not fr.index_cols:
        # pandas keeps the ORIGINAL row labels as the inner index level —
        # materialize them BEFORE filtering (free via order_is_position)
        from modin_spark.core.frame import fresh_names as _fn

        lc = _fn(1)[0]
        base0 = fr.with_pandas_labels(lc)
        fr = base0._same_rows(base0.sdf, index_cols=[lc], index_names=[None])
    keys = [F.col(fr.data_cols[i]) for i in self._by_pos]
    guard = self._keys_notnull([fr.data_cols[i] for i in self._by_pos])
    w = Window.partitionBy(*keys).orderBy(F.col(ORDER_COL))
    pos = [int(i) for i in indices if i >= 0]
    neg = [-int(i) for i in indices if i < 0]  # 1-based offsets from the end
    cond = None
    sdf = fr.sdf if guard is None else fr.sdf.where(guard)
    if pos:
        sdf = sdf.withColumn("__rn__", F.row_number().over(w) - 1)
        cond = F.col("__rn__").isin(pos)
    if neg:
        w_desc = Window.partitionBy(*keys).orderBy(F.col(ORDER_COL).desc())
        sdf = sdf.withColumn("__rnd__", F.row_number().over(w_desc))
        c2 = F.col("__rnd__").isin(neg)
        cond = c2 if cond is None else (cond | c2)
    if cond is None:
        cond = F.lit(False)
    sdf = sdf.where(cond).drop("__rn__", "__rnd__")
    base = fr._subset_rows(sdf)
    # pandas shape: value columns only, indexed by (keys..., original labels)
    vl = getattr(self, "_value_labels", None)
    if vl is not None:
        val_pos = base.positions_of(vl)
    else:
        keyset = set(self._by_pos)
        val_pos = [i for i in range(len(base.columns)) if i not in keyset]
    out = base._same_rows(
        base.sdf,
        columns=pd.Index([base.columns[i] for i in val_pos]),
        data_cols=[base.data_cols[i] for i in val_pos],
    )
    nf = _group_window_finish(self, base, out)
    return DataFrame(_frame=nf)


def _g_expanding(self, min_periods: int = 1):
    from modin_spark.pandas.window import GroupExpanding

    return GroupExpanding(self, min_periods)


def _g_resample(self, rule: str, on=None, closed=None, label=None,
                offset=None, origin=None):
    """Grouped time resample: groupBy(keys + window-bucket(time)) — one hash
    aggregate, no per-group loop. ``on=`` buckets a column instead of the
    index; closed/offset ride the same bucket_start as frame resample;
    origin 'epoch'/'start_day' coincide for sub-day rules (day boundaries
    are duration multiples of the epoch for every divisor-of-a-day rule)."""
    from modin_spark.pandas.dataframe import DataFrame
    from modin_spark.pandas.resample import bucket_start, rule_to_duration

    fr = self._df._frame
    if origin not in (None, "epoch", "start_day"):
        raise NotImplementedError(f"groupby.resample origin {origin!r}")
    dur = rule_to_duration(rule)
    if on is not None:
        ts = fr.data_cols[fr.positions_of([on])[0]]
        tname = on
    else:
        if not fr.index_cols:
            raise TypeError("groupby.resample requires a DatetimeIndex or on=")
        ts = fr.index_cols[0]
        tname = fr.index_names[0] or "ts"
    bucket = bucket_start(ts, dur, closed, offset)
    if label == "right":
        bucket = bucket + F.expr(f"INTERVAL {dur}")
    fr2 = fr.with_columns([tname], [bucket])
    g = DataFrameGroupBy(DataFrame(_frame=fr2), self._by_labels + [tname],
                         self._as_index, self._dropna, self._sort)
    # an UNNAMED DatetimeIndex needs a label to group by, but pandas keeps
    # the output level name None — the wrapper strips the synthesized name
    anon = on is None and fr.index_names[0] is None
    return _GroupedResampler(g, dur, anon_ts=anon)


class _GroupedResampler:
    """pandas groupby.resample parity wrapper: runs the grouped aggregate,
    then completes each group's time grid with resample._complete_grid."""

    def __init__(self, g, dur: str, anon_ts: bool = False):
        self._g = g
        self._dur = dur
        self._anon_ts = anon_ts

    def __getitem__(self, key):
        return _GroupedResampler(self._g[key], self._dur, anon_ts=self._anon_ts)

    def _complete(self, out, agg_name: str):
        from modin_spark.core.frame import ORDER_COL, SparkFrame
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.pandas.resample import _complete_grid
        from modin_spark.pandas.series import Series

        is_series = isinstance(out, Series)
        fr = out._to_frame() if is_series else out._frame
        if len(fr.index_cols) < 2:
            return out
        keys, b = list(fr.index_cols[:-1]), fr.index_cols[-1]
        joined = _complete_grid(fr.sdf.select(*keys, b, *fr.data_cols), b, self._dur,
                                fr.data_cols, agg_name, keys)
        joined = joined.orderBy(*keys, b).withColumn(ORDER_COL, F.monotonically_increasing_id())
        nfr = SparkFrame(joined, fr.columns, fr.data_cols, fr.index_cols, fr.index_names)
        if is_series:
            s = Series._from_frame(nfr)
            s._name = out._name
            return s
        return DataFrame(_frame=nfr)

    def _agg(self, name, *a, **k):
        out = self._complete(getattr(self._g, name)(*a, **k), name)
        if not self._anon_ts:
            return out
        from modin_spark.pandas.series import Series as _S

        fr = out._to_frame() if isinstance(out, _S) else out._frame
        names = list(fr.index_names)
        if names:
            names[-1] = None  # restore pandas' unnamed time level
        nfr = fr._same_rows(fr.sdf, index_names=names)
        if isinstance(out, _S):
            s = _S._from_frame(nfr)
            s._name = out._name
            return s
        from modin_spark.pandas.dataframe import DataFrame as _D

        return _D(_frame=nfr)

    def sum(self, *a, **k):
        return self._agg("sum", *a, **k)

    def mean(self, *a, **k):
        return self._agg("mean", *a, **k)

    def count(self, *a, **k):
        return self._agg("count", *a, **k)

    def size(self, *a, **k):
        return self._agg("size", *a, **k)

    def min(self, *a, **k):
        return self._agg("min", *a, **k)

    def max(self, *a, **k):
        return self._agg("max", *a, **k)

    def median(self, *a, **k):
        return self._agg("median", *a, **k)

    def std(self, *a, **k):
        return self._agg("std", *a, **k)

    def var(self, *a, **k):
        return self._agg("var", *a, **k)

    def first(self, *a, **k):
        return self._agg("first", *a, **k)

    def last(self, *a, **k):
        return self._agg("last", *a, **k)

    def nunique(self, *a, **k):
        return self._agg("nunique", *a, **k)

    def prod(self, *a, **k):
        return self._agg("prod", *a, **k)

    def __getattr__(self, name):
        # attribute-style column narrowing must KEEP the resampler (grid
        # completion included): r.w.sum() == r["w"].sum(). Anything else
        # (agg/apply/transform/head...) runs ungridded on the inner groupby
        # — same rows, occupied buckets only.
        if not name.startswith("_"):
            try:
                cols = set(self._g._df.columns)
            except Exception:
                cols = set()
            if name in cols:
                return self[name]
        return getattr(self._g, name)


def _apply_nowarn(g, func):
    """Internal frame-level apply — not a user 'operated on the grouping
    columns' call, so pandas' include_groups deprecation must not fire."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        return g.apply(func)


def _g_corr(self, method="pearson"):
    return _apply_nowarn(self, lambda pdf: pdf.corr(numeric_only=True))


def _g_cov(self):
    return _apply_nowarn(self, lambda pdf: pdf.cov(numeric_only=True))


def _g_corrwith(self, other, axis=0, drop=False, method="pearson", numeric_only=False):
    """Per-group corr of each value column with an index-aligned Series
    (pandas DataFrameGroupBy.corrwith): the operand joins in ONCE as a temp
    column via the tested cross-lineage setitem alignment, then one
    groupby.apply (Series-per-group -> group-keyed frame)."""
    if axis not in (0, "index"):
        raise NotImplementedError("groupby.corrwith(axis=1)")
    if not isinstance(other, Series):
        if isinstance(other, pd.Series):
            other = Series(other)
        else:
            raise NotImplementedError("groupby.corrwith with a DataFrame operand")
    vals = [lbl for lbl, _ in self._value_positions(numeric_only=True)]
    tmp = "__cw_other__"
    df2 = self._df.copy()
    df2[tmp] = other
    g2 = DataFrameGroupBy(df2, self._by_labels, self._as_index, self._dropna, self._sort)

    def f(d, _v=list(vals), _m=method):
        return d[_v].corrwith(d[tmp], method=_m)

    return _apply_nowarn(g2, f)


def _g_pipe(self, func, *a, **k):
    return func(self, *a, **k)


DataFrameGroupBy.ngroups = property(_g_ngroups)
DataFrameGroupBy.groups = property(_g_groups)
DataFrameGroupBy.indices = property(_g_indices)
DataFrameGroupBy.describe = _g_describe
DataFrameGroupBy.value_counts = _g_value_counts
DataFrameGroupBy.fillna = _g_fillna
DataFrameGroupBy.sample = _g_sample
DataFrameGroupBy.take = _g_take
DataFrameGroupBy.expanding = _g_expanding
DataFrameGroupBy.resample = _g_resample
DataFrameGroupBy.corr = _g_corr
DataFrameGroupBy.cov = _g_cov
DataFrameGroupBy.corrwith = _g_corrwith
DataFrameGroupBy.pipe = _g_pipe
DataFrameGroupBy.ndim = 2
DataFrameGroupBy.dtypes = property(lambda self: self._df[[l for l, _ in self._value_positions()]].dtypes)
DataFrameGroupBy.get_backend = lambda self: "Spark"
DataFrameGroupBy.set_backend = lambda self, backend, **k: self
DataFrameGroupBy.is_backend_pinned = lambda self: False


class _GroupByResultProxy:
    """Post-processes every result of a wrapped groupby (reference parity
    shim): used by groupby(level=) to map surfaced-placeholder index names
    ('index' / 'level_i' for UNNAMED levels) back to None, and by
    Series.groupby(level=) to strip the '__v__' placeholder value name.
    Purely metadata — no extra plan nodes."""

    def __init__(self, inner, name_map: dict, strip_value_name: str | None = None):
        self._inner = inner
        self._map = name_map
        self._strip = strip_value_name

    def _fix(self, r):
        from modin_spark.pandas.dataframe import DataFrame
        from modin_spark.pandas.series import Series

        if isinstance(r, (Series, DataFrame)):
            fr = r._frame if not isinstance(r, Series) else r._frame
            new = [self._map.get(n, n) for n in fr.index_names]
            if new != list(fr.index_names):
                nfr = fr._same_rows(fr.sdf, index_names=new)
                if isinstance(r, Series):
                    s = Series(nfr, r._expr, r._refs, name=r._name)
                    r = s
                else:
                    r = DataFrame(_frame=nfr)
            if isinstance(r, Series) and self._strip is not None and r._name == self._strip:
                r = Series(r._frame, r._expr, r._refs, name=None)
            # rename the surfaced placeholder among result COLUMNS too
            # (as_index=False keeps the key as a column; pandas labels an
            # unnamed level 'index' there, so leave columns untouched)
            return r
        if isinstance(r, (DataFrameGroupBy, SeriesGroupBy)):
            return _GroupByResultProxy(r, self._map, self._strip)
        return r

    def __getattr__(self, k):
        a = getattr(self._inner, k)
        if callable(a):
            def wrapped(*args, **kw):
                return self._fix(a(*args, **kw))
            return wrapped
        return self._fix(a) if not isinstance(a, (int, str, list, dict, bool, type(None))) else a

    def __getitem__(self, k):
        return self._fix(self._inner[k])

    def __iter__(self):
        return iter(self._inner)
