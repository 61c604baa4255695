"""Resample — time-series tumbling-window groupby
(reference surface: /root/reference/modin/pandas/resample.py:36).

Batch implementation: ``F.window(ts, freq)`` tumbling windows + hash agg —
one shuffle, identical plan shape to any Spark windowed aggregation; the same
expression works under Structured Streaming (see modin_spark.streaming).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F

from modin_spark.core import compiler as qc
from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names

_FREQ = {
    "s": "second", "S": "second", "sec": "second",
    "min": "minute", "T": "minute", "t": "minute",
    "h": "hour", "H": "hour",
    "d": "day", "D": "day",
    "w": "week", "W": "week",
}


def rule_to_duration(rule: str) -> str:
    m = re.fullmatch(r"(\d*)\s*([A-Za-z]+)", rule)
    if not m:
        raise ValueError(f"cannot parse resample rule {rule!r}")
    n = int(m.group(1) or 1)
    unit = m.group(2)
    if unit not in _FREQ:
        raise NotImplementedError(f"resample freq {unit!r}")
    return f"{n} {_FREQ[unit]}{'s' if n != 1 else ''}"


def bucket_start(ts_col, dur: str, closed=None, offset=None):
    """Tumbling-window bucket for one timestamp column.

    closed='right' makes intervals (lo, hi] — a boundary point belongs to
    the EARLIER bucket, implemented by bucketing ts-1µs (exact: parquet
    timestamps are µs-grained). offset= shifts every boundary (F.window's
    startTime)."""
    t = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    if closed == "right":
        t = t - F.expr("INTERVAL 1 MICROSECOND")
    if offset:
        # a pandas rule ("30min") or an already-rendered duration
        # ("1800000000 microseconds", from origin='start')
        try:
            off = rule_to_duration(offset)
        except (ValueError, NotImplementedError):
            off = offset
        return F.window(t, dur, dur, off)["start"]
    return F.window(t, dur)["start"]


def _complete_grid(agged, key_p: str, dur: str, val_ps, agg_name, keys=()):
    """pandas resample emits EVERY bucket between min and max, not just the
    occupied ones (an empty bucket takes compiler.empty_result: 0 for the
    counts and sum, 1 for prod, NaN for the rest); a groupby resample does so
    per group ``keys``. Stays one plan: a min/max aggregate (one row per
    group), F.sequence exploded into the grid, left join of the occupied
    buckets onto it — no driver collect, the grid is ~bucket-count rows."""
    keys = list(keys)
    names = agg_name if isinstance(agg_name, list) else [agg_name] * len(val_ps)
    fills = [qc.empty_result(n) for n in names]
    grid = (
        agged.groupBy(*keys).agg(F.min(key_p).alias("__mn__"), F.max(key_p).alias("__mx__"))
        .where(F.col("__mn__").isNotNull())
        .select(*keys, F.explode(F.sequence(F.col("__mn__"), F.col("__mx__"),
                                            F.expr(f"interval {dur}"))).alias(key_p))
    )
    out = grid.join(agged, on=keys + [key_p], how="left")
    if any(f is not None for f in fills):
        out = out.select(
            *keys, key_p,
            *[F.coalesce(F.col(p), f).alias(p) if f is not None else F.col(p)
              for p, f in zip(val_ps, fills)],
        )
    return out


class Resampler:
    def __init__(self, df, rule: str, on=None, closed=None, label=None,
                 offset=None, origin=None):
        self._df = df
        self._rule = rule
        self._on = on
        self._closed = closed
        self._label = label
        self._offset = offset
        # origin: 'epoch' (our native alignment) and 'start_day' coincide
        # for day-dividing frequencies; 'start' aligns buckets to the first
        # timestamp — one tiny min aggregate resolves it to a window offset
        import pandas as _pd

        dur_us = int(_pd.Timedelta(rule_to_duration(rule)).total_seconds() * 1_000_000)
        _DAY_US = 86_400_000_000
        # epoch alignment coincides with pandas' default 'start_day' ONLY
        # for frequencies that DIVIDE a day; multi-day rules AND sub-day
        # non-divisors (5h, 7min, 90s...) must anchor to the first
        # timestamp's midnight (one tiny min aggregate), like pandas
        needs_day_anchor = (
            origin in (None, "start_day") and offset is None
            and (dur_us > _DAY_US or _DAY_US % dur_us != 0)
        )
        if origin == "start" or needs_day_anchor:
            fr = df._frame
            if on is not None:
                ts_phys = fr.data_cols[fr.positions_of([on])[0]]
            elif fr.index_cols:
                ts_phys = fr.index_cols[0]
            else:
                raise NotImplementedError("resample origin='start' needs a time column")
            mn = fr.sdf.agg(F.min(ts_phys)).collect()[0][0]
            if mn is not None:
                anchor = _pd.Timestamp(mn)
                if origin != "start":
                    anchor = anchor.normalize()  # start_day: first ts midnight
                off_us = (int(anchor.value) // 1000) % dur_us
                if off_us:
                    self._offset = f"{off_us} microseconds"
        elif origin not in (None, "epoch", "start_day"):
            raise NotImplementedError(f"resample origin {origin!r}")

    def __getitem__(self, key):
        # column-scoped resample: r["v"].sum() / r[["a","b"]].mean()
        cols = key if isinstance(key, list) else [key]
        on = self._on
        keep = cols + ([on] if on is not None and on not in cols else [])
        sub = self._df[keep] if not self._df._frame.index_cols else self._df[cols]
        r = Resampler(sub, self._rule, on, closed=self._closed, label=self._label,
                      offset=self._offset)
        r._scalar = not isinstance(key, list)
        return r

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in list(self._df.columns):
            return self[name]
        raise AttributeError(name)

    def _agg(self, name: str, numeric_only=True, **kw):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        if name in ("first", "last"):
            fr = fr.ensure_order()
        if self._on is not None:
            ts_phys = fr.data_cols[fr.positions_of([self._on])[0]]
        elif fr.index_cols:
            ts_phys = fr.index_cols[0]
        else:
            raise ValueError("resample needs on= or a datetime index")
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)

        positions = [
            i
            for i in range(len(fr.columns))
            if fr.data_cols[i] != ts_phys
            and (not numeric_only or fr.dtype_of(i).startswith(("int", "float")))
        ]
        out_phys = fresh_names(len(positions) + 1)
        key_p, val_ps = out_phys[0], out_phys[1:]
        aggs = [qc.agg_expr(name, F.col(fr.data_cols[i]), ddof=kw.get("ddof")).alias(p)
                for i, p in zip(positions, val_ps)]
        agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs)
        agged = _complete_grid(agged, key_p, dur, val_ps, name)
        if self._label == "right":
            # label buckets by their right edge (pandas label='right')
            agged = agged.withColumn(key_p, F.col(key_p) + F.expr(f"INTERVAL {dur}"))
        agged = agged.withColumn(ORDER_COL, F.col(key_p))
        labels = [fr.columns[i] for i in positions]
        on_name = self._on if self._on is not None else fr.index_names[0]
        out = SparkFrame(agged, pd.Index(labels), val_ps, [key_p], [on_name])
        if getattr(self, "_scalar", False) and len(val_ps) == 1:
            from modin_spark.pandas.series import Series

            return Series._from_frame(out)
        return DataFrame(_frame=out)

    def sum(self):
        return self._agg("sum")

    def mean(self):
        return self._agg("mean")

    def count(self):
        return self._agg("count")

    def min(self):
        return self._agg("min")

    def max(self):
        return self._agg("max")

    def std(self, ddof=1):
        return self._agg("std", ddof=ddof)

    def var(self, ddof=1):
        return self._agg("var", ddof=ddof)

    def median(self):
        return self._agg("median")

    def first(self):
        return self._agg("first")

    def last(self):
        return self._agg("last")

    def nunique(self):
        return self._agg("nunique", numeric_only=False)

    def size(self):
        from modin_spark.pandas.series import Series

        out = self._agg("size", numeric_only=True)
        fr = out._frame if not isinstance(out, Series) else out._to_frame()
        one = fr.select_positions([0]) if fr.columns.size else fr
        if not fr.columns.size:
            return None
        res = Series._from_frame(one.set_labels(["size"]))
        # pandas: series resample keeps the series NAME; frame resample None
        res._name = str(fr.columns[0]) if getattr(self, "_scalar", False) else None
        if res._name == "__s__":
            res._name = None
        return res

    def agg(self, spec):
        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(spec, str):
            return self._agg(spec)
        if isinstance(spec, dict):
            # {col_label: agg_name} — one groupBy with per-column expressions
            fr = self._df._frame
            if self._on is not None:
                ts_phys = fr.data_cols[fr.positions_of([self._on])[0]]
            else:
                ts_phys = fr.index_cols[0]
            dur = rule_to_duration(self._rule)
            bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
            labels = list(spec.keys())
            positions = fr.positions_of(labels)
            out_phys = fresh_names(len(positions) + 1)
            key_p, val_ps = out_phys[0], out_phys[1:]
            aggs = [
                qc.agg_expr(spec[lbl], F.col(fr.data_cols[i])).alias(p)
                for lbl, i, p in zip(labels, positions, val_ps)
            ]
            agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs)
            agged = agged.withColumn(ORDER_COL, F.col(key_p))
            on_name = self._on if self._on is not None else fr.index_names[0]
            out = SparkFrame(agged, pd.Index(labels), val_ps, [key_p], [on_name])
            return DataFrame(_frame=out)
        if isinstance(spec, (list, tuple)):
            # list spec: every value column x every fn. A single-column
            # selection yields FLAT fn-named columns; a frame resample
            # yields (column, fn) MultiIndex columns (pandas shapes).
            fr = self._df._frame
            if self._on is not None:
                ts_phys = fr.data_cols[fr.positions_of([self._on])[0]]
            else:
                ts_phys = fr.index_cols[0]
            dur = rule_to_duration(self._rule)
            bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
            vlabels = [c for c in self._df.columns if self._on is None or c != self._on]
            fns = list(spec)
            entries = [(lbl, fr.positions_of([lbl])[0], fn)
                       for lbl in vlabels for fn in fns]
            out_phys = fresh_names(len(entries) + 1)
            key_p, val_ps = out_phys[0], out_phys[1:]
            aggs = [qc.agg_expr(fn, F.col(fr.data_cols[i])).alias(p)
                    for (_lbl, i, fn), p in zip(entries, val_ps)]
            agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs)
            agged = agged.withColumn(ORDER_COL, F.col(key_p))
            on_name = self._on if self._on is not None else fr.index_names[0]
            if getattr(self, "_scalar", False) and len(vlabels) == 1:
                cols = pd.Index([fn for _lbl, _i, fn in entries])
            else:
                cols = pd.MultiIndex.from_tuples(
                    [(lbl, fn) for lbl, _i, fn in entries])
            out = SparkFrame(agged, cols, val_ps, [key_p], [on_name])
            return DataFrame(_frame=out)
        raise NotImplementedError(type(spec))

    aggregate = agg

    def apply(self, func):
        """pandas Resampler.apply — named/dict specs == agg; a CALLABLE runs
        per bucket (one hash shuffle: collect_list per bucket + one Arrow
        pandas_udf over the bucket arrays; empty grid buckets fill with
        ``func(empty series)``, pandas semantics)."""
        if not callable(func):
            return self.agg(func)
        from pyspark.sql import types as T

        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        if self._on is not None:
            ts_phys = fr.data_cols[fr.positions_of([self._on])[0]]
        elif fr.index_cols:
            ts_phys = fr.index_cols[0]
        else:
            raise ValueError("resample needs on= or a datetime index")
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
        positions = [
            i for i in range(len(fr.columns))
            if fr.data_cols[i] != ts_phys and fr.dtype_of(i).startswith(("int", "float"))
        ]
        out_phys = fresh_names(len(positions) + 1)
        key_p, val_ps = out_phys[0], out_phys[1:]

        @F.pandas_udf(T.DoubleType())
        def _apply(arrs: pd.Series) -> pd.Series:
            import numpy as _np

            out = []
            for a in arrs:
                pairs = sorted(a, key=lambda r: r["t"])
                s = pd.Series([r["v"] for r in pairs], dtype="float64")
                v = func(s)
                out.append(float(v) if v is not None and not (isinstance(v, float) and _np.isnan(v)) else _np.nan)
            return pd.Series(out, dtype="float64")

        aggs = [
            _apply(F.collect_list(F.struct(
                F.col(ts_phys).alias("t"),
                F.col(fr.data_cols[i]).cast("double").alias("v"),
            ))).alias(p)
            for i, p in zip(positions, val_ps)
        ]
        agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs)
        agged = _complete_grid(agged, key_p, dur, val_ps, "__callable__")
        # pandas evaluates func on an EMPTY series for grid-only buckets
        try:
            fv = func(pd.Series([], dtype="float64"))
            fv = None if fv is None or pd.isna(fv) else float(fv)
        except Exception:
            fv = None
        if fv is not None:
            agged = agged.select(
                key_p, *[F.coalesce(F.col(p), F.lit(fv)).alias(p) for p in val_ps])
        if self._label == "right":
            agged = agged.withColumn(key_p, F.col(key_p) + F.expr(f"INTERVAL {dur}"))
        agged = agged.withColumn(ORDER_COL, F.col(key_p))
        labels = [fr.columns[i] for i in positions]
        on_name = self._on if self._on is not None else fr.index_names[0]
        out = SparkFrame(agged, pd.Index(labels), val_ps, [key_p], [on_name])
        return self._maybe_series(DataFrame(_frame=out))

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def get_group(self, ts):
        """Rows of one resample bucket — a bucket-equality filter on the
        original frame (pushes down; no aggregation)."""
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        ts_phys = (
            fr.data_cols[fr.positions_of([self._on])[0]] if self._on is not None else fr.index_cols[0]
        )
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
        return DataFrame(_frame=fr.filter(bucket == F.lit(pd.Timestamp(ts).to_pydatetime())))

    def transform(self, func: str):
        """Per-row broadcast of the bucket aggregate (pandas semantics:
        same shape as the input). One bucket-partitioned window — hash
        shuffle on the bucket key, scale-safe (many buckets)."""
        from pyspark.sql.window import Window

        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        ts_phys = (
            fr.data_cols[fr.positions_of([self._on])[0]] if self._on is not None else fr.index_cols[0]
        )
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
        w = Window.partitionBy(bucket)
        positions = [
            i for i in range(len(fr.columns))
            if fr.data_cols[i] != ts_phys and fr.dtype_of(i).startswith(("int", "float"))
        ]
        labels = [fr.columns[i] for i in positions]
        exprs = [qc.agg_expr(func, F.col(fr.data_cols[i]), over=w) for i in positions]
        return self._maybe_series(DataFrame(_frame=fr.project(labels, exprs)))

    def interpolate(self, method: str = "linear"):
        """asfreq + linear interpolation over the gap rows (the blocked
        ``carry_join`` scheme in core.windows — positions are proportional to time
        on the equally-spaced generated timeline, so positional-linear ==
        time-linear)."""
        from modin_spark.core import windows as win
        from modin_spark.pandas.dataframe import DataFrame

        if method != "linear":
            raise NotImplementedError(f"interpolate method {method!r}")
        af = self.asfreq()
        base = af._frame if not hasattr(af, "_to_frame") else af._to_frame()
        filled = win.interpolate_linear(base, list(range(len(base.columns))))
        out = SparkFrame(filled.sdf, base.columns, filled.data_cols,
                         list(base.index_cols), list(base.index_names))
        return self._maybe_series(DataFrame(_frame=out))


    def asfreq(self, fill_value=None):
        """Value at each period boundary (pandas reindex semantics: the
        sample EXACTLY at the boundary, else NULL — or ``fill_value``) —
        merge_asof of the generated boundary timeline against the samples
        with tolerance 0."""
        out = self._boundary_reindex("backward", exact_only=True)
        if fill_value is not None:
            out = out.fillna(fill_value)
        return out

    def ffill(self):
        """Last sample at-or-before each boundary — merge_asof backward of
        the boundary timeline (block+halo, no global window)."""
        return self._boundary_reindex("backward")

    def bfill(self):
        return self._boundary_reindex("forward")

    def nearest(self):
        """Sample nearest to each boundary — merge_asof nearest."""
        return self._boundary_reindex("nearest")

    def _boundary_reindex(self, direction: str, exact_only: bool = False):
        """pandas Resampler.{asfreq,ffill,bfill,nearest}: reindex the samples
        at the bucket-boundary timestamps. The boundary timeline is generated
        (F.sequence over two driver scalars); the lookup is merge_asof — the
        same block+halo carry machinery as operators.joins, so no global
        window at any scale."""
        from modin_spark.operators.joins import merge_asof
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame
        if self._on is not None:
            ts_phys = fr.data_cols[fr.positions_of([self._on])[0]]
        elif fr.index_cols:
            ts_phys = fr.index_cols[0]
        else:
            raise ValueError("resample needs on= or a datetime index")
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
        bounds = fr.sdf.agg(F.min(bucket).alias("mn"), F.max(bucket).alias("mx")).collect()[0]
        timeline = fr.spark.range(1).select(
            F.explode(
                F.sequence(F.lit(bounds["mn"]), F.lit(bounds["mx"]), F.expr(f"interval {dur}"))
            ).alias("__t__")
        )
        left = DataFrame(_frame=SparkFrame.from_spark(timeline))
        val_pos = [i for i in range(len(fr.columns)) if fr.data_cols[i] != ts_phys]
        labels = [str(fr.columns[i]) for i in val_pos]
        right_sdf = fr.sdf.select(
            F.col(ts_phys).alias("__t__"), *[F.col(fr.data_cols[i]).alias(l) for i, l in zip(val_pos, labels)]
        )
        right = DataFrame(_frame=SparkFrame.from_spark(right_sdf))
        tol = pd.Timedelta(0) if exact_only else None
        out = merge_asof(left, right, on="__t__", direction=direction, tolerance=tol)
        ofr = out._frame
        on_name = self._on if self._on is not None else fr.index_names[0]
        t_phys = ofr.data_cols[ofr.positions_of(["__t__"])[0]]
        keep = [i for i, lbl in enumerate(ofr.columns) if lbl != "__t__"]
        out_fr = ofr._same_rows(
            ofr.sdf,
            columns=pd.Index([ofr.columns[i] for i in keep]),
            data_cols=[ofr.data_cols[i] for i in keep],
            index_cols=[t_phys],
            index_names=[on_name],
        )
        return self._maybe_series(DataFrame(_frame=out_fr))

    def _maybe_series(self, out):
        """Series resample: 1-column frame results squeeze back to a
        Series with the original name (pandas parity)."""
        if not getattr(self, "_scalar", False) or len(out._frame.columns) != 1:
            return out
        from modin_spark.pandas.series import Series

        res = Series._from_frame(out._frame)
        res._name = None if str(out._frame.columns[0]) == "__s__" else res._name
        return res

    def ohlc(self):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._df._frame.ensure_order()
        ts_phys = fr.data_cols[fr.positions_of([self._on])[0]] if self._on else fr.index_cols[0]
        dur = rule_to_duration(self._rule)
        bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
        positions = [i for i in range(len(fr.columns)) if fr.data_cols[i] != ts_phys and fr.dtype_of(i).startswith(("int", "float"))]
        out_phys = fresh_names(4 * len(positions) + 1)
        key_p = out_phys[0]
        aggs, labels = [], []
        k = 1
        for i in positions:
            c = F.col(fr.data_cols[i])
            for sub, fn in (("open", "first"), ("high", "max"), ("low", "min"), ("close", "last")):
                aggs.append(qc.agg_expr(fn, c).alias(out_phys[k]))
                labels.append((fr.columns[i], sub) if len(positions) > 1 else sub)
                k += 1
        agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs).withColumn(ORDER_COL, F.col(key_p))
        on_name = self._on if self._on is not None else fr.index_names[0]
        out = SparkFrame(agged, pd.Index(labels), out_phys[1:], [key_p], [on_name])
        return DataFrame(_frame=out)


def _rs_prod(self):
    return self._agg("prod")


def _rs_sem(self, ddof=1):
    return self._agg("sem", ddof=ddof)


def _rs_quantile(self, q=0.5):
    return self._agg_quantile(q)


def _rs_agg_quantile(self, q):
    from modin_spark.pandas.dataframe import DataFrame

    fr = self._df._frame
    ts_phys = fr.index_cols[0] if self._on is None else fr.data_cols[fr.positions_of([self._on])[0]]
    dur = rule_to_duration(self._rule)
    bucket = bucket_start(ts_phys, dur, self._closed, self._offset)
    positions = [i for i in range(len(fr.columns))
                 if fr.data_cols[i] != ts_phys and fr.dtype_of(i).startswith(("int", "float"))]
    out_phys = fresh_names(len(positions) + 1)
    key_p, val_ps = out_phys[0], out_phys[1:]
    aggs = [qc.agg_expr("quantile", F.col(fr.data_cols[i]), q).alias(p) for i, p in zip(positions, val_ps)]
    agged = fr.sdf.groupBy(bucket.alias(key_p)).agg(*aggs).withColumn(ORDER_COL, F.col(key_p))
    labels = [fr.columns[i] for i in positions]
    on_name = self._on if self._on is not None else fr.index_names[0]
    import pandas as pd

    return DataFrame(_frame=SparkFrame(agged, pd.Index(labels), val_ps, [key_p], [on_name]))


def _rs_fillna(self, method):
    if method in ("ffill", "pad"):
        return self.ffill()
    if method in ("bfill", "backfill"):
        return self.bfill()
    if method == "nearest":
        return self.nearest()
    raise ValueError(method)


def _rs_groups(self):
    return self._df.to_pandas().resample(self._rule).groups


def _rs_indices(self):
    return self._df.to_pandas().resample(self._rule).indices


Resampler.prod = _rs_prod
Resampler.sem = _rs_sem
Resampler.quantile = _rs_quantile
Resampler._agg_quantile = _rs_agg_quantile
Resampler.fillna = _rs_fillna
Resampler.groups = property(_rs_groups)
Resampler.indices = property(_rs_indices)
