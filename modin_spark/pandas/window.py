"""Rolling / Expanding — the reference's window surface
(/root/reference/modin/pandas/window.py:99,352) over the scale-safe block
window machinery in core.windows."""

from __future__ import annotations

from modin_spark.core import compiler as qc
from modin_spark.core import windows as win
from modin_spark.pandas.series import Series


def _pd_index_prepend(label, idx):
    import pandas as _pd

    return _pd.Index([label] + list(idx))

_ROLL = ["sum", "mean", "min", "max", "count", "std", "var", "median", "sem", "skew", "kurt"]
_EXP = ["sum", "mean", "min", "max", "count", "std", "var", "sem", "skew", "kurt"]


def _run_on(obj, kernel, *args, **kw):
    """``kernel(frame, positions, *args, **kw)`` over a Series (its one
    column; the result keeps the Series' name, None included) or a
    DataFrame (its numeric columns)."""
    if isinstance(obj, Series):
        return obj._rewrap(kernel(obj._to_frame(), [0], *args, **kw))
    from modin_spark.pandas.dataframe import DataFrame

    return DataFrame(_frame=kernel(obj._frame, obj._numeric_positions(), *args, **kw))


def _pair_name(left, other):
    """pandas' binary-result name rule for window pairs: keep the name only
    when both operands agree (corr/cov of 'a' with 'b' -> unnamed)."""
    oname = other._name if isinstance(other, Series) else left._name
    return left._name if left._name == oname else None


def _align_operand_column(df, other):
    """(df's frame with the Series operand materialized as ONE extra
    physical column, its phys name) — label alignment via the tested
    setitem path; original column positions are unchanged."""
    tmp = "__pair_other__"
    df2 = df.copy()
    df2[tmp] = other
    fr2 = df2._frame
    py = fr2.data_cols[fr2.positions_of([tmp])[0]]
    return fr2, py


def _pair_frame(left, other):
    """(SparkFrame with both series materialized, phys_x, phys_y) for
    corr/cov window pairs — same-lineage fast path, else alignment join."""
    from modin_spark.core.frame import fresh_names

    target, le, re_, _refs = left._combine(other)
    px, py = fresh_names(2)
    sdf = target.sdf.withColumn(px, le.cast("double")).withColumn(py, re_.cast("double"))
    return target._same_rows(sdf), px, py


class Rolling:
    def __init__(self, obj, window: int, min_periods=None, win_type=None, center=False, closed=None,
                 on=None, **win_kwargs):
        self._obj = obj
        self._window = window
        self._min_periods = min_periods
        self._win_type = win_type
        self._center = center
        self._closed = closed
        self._on = on
        # pandas 1.5+ step=: keep every step-th output row (applied after
        # the windows are computed — the window CONTENTS still see all rows)
        self._step = win_kwargs.pop("step", None)
        self._win_kwargs = win_kwargs
        if on is not None and not isinstance(obj, Series):
            # rolling(on=col): the window rides the named column instead of
            # the index (time-offset windows need it ordered); the result is
            # indexed by that column.
            self._obj = obj.set_index(on)

    # pandas introspection attributes (window/min_periods/... are public)
    window = property(lambda self: self._window)
    min_periods = property(lambda self: self._min_periods)
    win_type = property(lambda self: self._win_type)
    center = property(lambda self: self._center)
    closed = property(lambda self: self._closed)
    on = property(lambda self: self._on)
    step = property(lambda self: self._step)
    obj = property(lambda self: self._obj)

    def __getitem__(self, key):
        # column narrowing: df.rolling(...)[col], the common frame idiom
        sub = self._obj[key]
        return Rolling(sub, self._window, self._min_periods, win_type=self._win_type,
                       center=self._center, closed=self._closed, step=self._step,
                       **self._win_kwargs)

    def __getattr__(self, name):
        # attribute-style narrowing: r.x == r["x"]
        if name.startswith("_"):
            raise AttributeError(name)
        cols = getattr(self._obj, "columns", None)
        if cols is not None and name in list(cols):
            return self[name]
        raise AttributeError(name)

    def _run(self, agg: str, **agg_kwargs):
        out = self._run_impl(agg, **agg_kwargs)
        if self._step and self._step > 1:
            # positional stride over the computed result (original labels kept)
            if isinstance(out, Series):
                out = out._rewrap(out._to_frame().slice_positions(0, 2**62, int(self._step)))
            else:
                out = out.iloc[:: int(self._step)]
        return out

    def _run_impl(self, agg: str, **agg_kwargs):
        if self._win_type is not None:
            # pandas accepts the window parameter at either site:
            # rolling(win_type='gaussian', std=3).mean() or .mean(std=3)
            wkw = {**self._win_kwargs, **agg_kwargs}
            if agg not in ("sum", "mean", "var", "std"):
                raise NotImplementedError(f"win_type rolling supports sum/mean/var/std, not {agg}")
            return _run_on(self._obj, win.rolling_weighted, self._window, self._win_type, agg,
                           center=self._center, **wkw)
        ddof = agg_kwargs.pop("ddof", 1) if agg in ("var", "std", "sem") else 1
        if agg_kwargs:
            raise TypeError(f"{agg}() got unexpected keyword arguments {sorted(agg_kwargs)} (only win_type windows take window parameters here)")
        if isinstance(self._window, str):
            import pandas as _pd

            if self._center:
                raise NotImplementedError("center=True with an offset window")
            dur_us = int(_pd.Timedelta(self._window).value // 1000)
            mp = self._min_periods if self._min_periods is not None else 1
            return _run_on(self._obj, win.rolling_time_agg, dur_us, agg, mp,
                           closed=self._closed or "right")
        return _run_on(self._obj, win.rolling_agg, self._window, agg, self._min_periods,
                       center=self._center, closed=self._closed, ddof=ddof)

    def quantile(self, q=0.5):
        return _run_on(self._obj, win.rolling_quantile, self._window, q, self._min_periods,
                       center=self._center)

    def apply(self, func, raw=False):
        return _run_on(self._obj, win.rolling_apply, self._window, func, self._min_periods,
                       center=self._center, raw=raw)

    def rank(self, method="average", ascending=True, pct=False):
        w, mp, center = self._window, self._min_periods, self._center
        back, fwd = win._center_extents(w, center)

        def pd_fn(d):
            return d.rolling(w, min_periods=mp, center=center).rank(
                method=method, ascending=ascending, pct=pct
            )

        return _run_on(self._obj, win.blocked_pandas, pd_fn, back, fwd)

    def corr(self, other=None, pairwise=None):
        return self._pair(other, "corr")

    def cov(self, other=None, pairwise=None):
        return self._pair(other, "cov")

    def _pair(self, other, stat):
        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(self._obj, Series):
            if other is None:
                other = self._obj  # pandas: self-corr (1.0 where defined)
            fr, px, py = _pair_frame(self._obj, other)
            out = win.rolling_pair(fr, px, py, self._window, stat, self._min_periods,
                                   out_label=_pair_name(self._obj, other), center=self._center)
            return Series._from_frame(out)
        df = self._obj
        if other is None:
            # pairwise self matrix: (row, column) MultiIndex block layout
            out = win.rolling_pairwise(df._frame, df._numeric_positions(), self._window,
                                       stat, self._min_periods, center=self._center)
            return DataFrame(_frame=out)
        if isinstance(other, Series):
            # each column vs the series: align the operand into the frame's
            # row space (label-align setitem), then ONE block pass for all k
            fr2, py = _align_operand_column(df, other)
            out = win.rolling_pair_frame(fr2, df._numeric_positions(), py,
                                         self._window, stat,
                                         self._min_periods, center=self._center)
            return DataFrame(_frame=out)
        raise NotImplementedError(f"rolling.{stat} pairwise with a DataFrame operand")


class Expanding:
    def __init__(self, obj, min_periods: int = 1):
        self._obj = obj
        self._min_periods = min_periods

    def _run(self, agg: str, **kw):
        ddof = int(kw.pop("ddof", 1)) if agg in ("var", "std", "sem") else 1
        kw.pop("numeric_only", None)
        return _run_on(self._obj, win.expanding_agg, agg, self._min_periods, ddof=ddof)

    def agg(self, funcs):
        """Single pass for a list of aggs (one block sort + one carry
        broadcast instead of one pipeline per agg). Series input → columns
        named by agg (pandas semantics); frame input → ``{col}_{agg}``."""
        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(funcs, str):
            return self._run(funcs)
        if isinstance(funcs, dict):
            # pandas: {col: agg} over a frame -> one output column per key
            df = self._obj
            out = None
            for col, f in funcs.items():
                if not isinstance(f, str):
                    raise NotImplementedError(
                        "expanding.agg dict values must be agg names")
                s = Expanding(df[col], self._min_periods)._run(f).rename(col)
                out = s.to_frame() if out is None else out.assign(**{col: s})
            return out
        funcs = list(funcs)
        if isinstance(self._obj, Series):
            fr = self._obj._to_frame()
            out = win.expanding_agg(fr, [0], funcs, self._min_periods)
            import pandas as _pd

            out = out._same_rows(out.sdf, columns=_pd.Index(funcs))
            return DataFrame(_frame=out)
        df = self._obj
        pos = df._numeric_positions()
        out = win.expanding_agg(df._frame, pos, funcs, self._min_periods)
        return DataFrame(_frame=out)

    aggregate = agg

    def quantile(self, q=0.5, interpolation="linear"):
        # exact DISTRIBUTED selection (core.windows.expanding_quantile:
        # value-bucket × pos-block + per-bucket Fenwick select) once the
        # frame spans enough blocks that the whole-prefix blocked path's
        # O(n·#blocks) shipping explodes; small frames keep the single-
        # task pandas pass (fewer shuffles, no bucketing action)
        n = self._whole_prefix_rows()
        if n is not None:
            return self._order_exact(
                lambda d, mp=self._min_periods: d.expanding(mp).quantile(
                    q, interpolation=interpolation), rows=n)
        return _run_on(self._obj, win.expanding_quantile, q, min_periods=self._min_periods,
                       interpolation=interpolation)

    def _whole_prefix_rows(self) -> int | None:
        """The row count while the frame spans few enough pos blocks that
        whole-prefix shipping (O(n·#blocks)) beats the bucketed exact
        machinery, else None."""
        # shape-deciding: the count picks the path and, on the whole-prefix
        # path, is the halo's last block
        n = self._obj._frame.count_rows()
        return n if n <= 4 * win.BLOCK else None

    def median(self):
        return self.quantile(0.5)

    def rank(self, method="average", ascending=True, pct=False):
        # exact DISTRIBUTED path (value-bucket × pos-block decomposition,
        # core.windows.expanding_rank) once the frame spans enough blocks —
        # ranking is pure dominance counting, so no task needs the full
        # prefix; small frames keep the single-task pandas pass
        n = None
        if method in ("average", "min", "max"):
            n = self._whole_prefix_rows()
            if n is None:
                return _run_on(self._obj, win.expanding_rank, method=method,
                               ascending=ascending, pct=pct, min_periods=self._min_periods)
        return self._order_exact(
            lambda d, mp=self._min_periods: d.expanding(mp).rank(method=method, ascending=ascending, pct=pct),
            rows=n,
        )

    def apply(self, func, raw=False):
        return self._order_exact(
            lambda d, mp=self._min_periods, f=func: d.expanding(mp).apply(f, raw=raw)
        )

    def _order_exact(self, pd_fn, rows=None):
        """Non-decomposable expanding stats (median/quantile/rank/apply) via
        per-block pandas with a whole-prefix halo (``back=None``).  Bound:
        block k re-reads all k-1 earlier blocks, so the LAST block's task
        holds O(n) rows — inherent to exact holistic expanding stats (the
        reference is no better: it ships the full prefix to each partition
        too).  Use the algebraic family (sum..kurt) at scale.  ``rows``: the
        row count when the caller has it already."""
        return _run_on(self._obj, win.blocked_pandas, pd_fn, None, rows=rows)

    def corr(self, other=None, pairwise=None):
        return self._pair(other, "corr")

    def cov(self, other=None, pairwise=None):
        return self._pair(other, "cov")

    def _pair(self, other, stat):
        from modin_spark.pandas.dataframe import DataFrame

        if not isinstance(self._obj, Series):
            df = self._obj
            if other is None:
                out = win.expanding_pairwise(df._frame, df._numeric_positions(),
                                             stat, self._min_periods)
                return DataFrame(_frame=out)
            raise NotImplementedError(f"expanding.{stat} with an operand on a DataFrame")
        if other is None:
            other = self._obj
        fr, px, py = _pair_frame(self._obj, other)
        out = win.expanding_pair(fr, px, py, stat, self._min_periods,
                                 out_label=_pair_name(self._obj, other))
        return Series._from_frame(out)


class EWM:
    """Exponentially weighted windows (pandas ``ewm``).

    The recurrence looks sequential, but the weight (1-α)^k underflows
    double precision past k ≈ ln(1e-18)/ln(1-α) rows — so a block window
    with that FIXED halo is exact to double precision, and the whole family
    runs on the same scale-safe blocked machinery as rolling (pandas
    computes inside each block; no global scan)."""

    def __init__(self, obj, com=None, span=None, halflife=None, alpha=None,
                 adjust: bool = True, min_periods: int = 0, times=None):
        import math

        self._times = times
        self._halflife_td = None
        if times is not None:
            # time-decayed form: halflife must be a duration; alpha varies
            # per step, so the row-bounded decay halo doesn't apply
            import pandas as _pd

            self._halflife_td = _pd.Timedelta(halflife)
            self._obj = obj
            self._adjust = adjust
            self._min_periods = min_periods
            self._alpha = None
            self._halo = None
            return
        if alpha is None:
            if span is not None:
                alpha = 2.0 / (span + 1.0)
            elif com is not None:
                alpha = 1.0 / (1.0 + com)
            elif halflife is not None:
                alpha = 1.0 - math.exp(-math.log(2.0) / halflife)
            else:
                raise ValueError("ewm needs com/span/halflife/alpha")
        self._alpha = alpha
        self._adjust = adjust
        self._min_periods = min_periods
        self._obj = obj
        # halo: enough history that truncated weights are < 1e-18 relative
        self._halo = max(8, int(math.ceil(math.log(1e-18) / math.log(1.0 - alpha))))

    def _run(self, method: str):
        if method == "sum" and not self._adjust:
            # fail driver-side with pandas' own message instead of from an
            # executor task
            raise NotImplementedError("sum is not implemented with adjust=False")
        if self._times is not None:
            return self._run_times(method)
        a, adj, mp = self._alpha, self._adjust, self._min_periods

        def pd_fn(d):
            return getattr(d.ewm(alpha=a, adjust=adj, min_periods=mp), method)()

        return _run_on(self._obj, win.blocked_pandas, pd_fn, self._halo)

    def _run_times(self, method: str):
        """``ewm(halflife=<duration>, times=...)`` — per-step decay
        exp(-ln2·Δt/halflife).  The decay is time- not row-bounded, so each
        block sees its whole prefix (documented exact slow path; the times
        column rides as exact integer microseconds inside a double)."""
        if method not in ("mean", "sum"):
            raise NotImplementedError(f"ewm(times=...).{method} (pandas supports mean/sum)")
        if not isinstance(self._obj, Series):
            raise NotImplementedError("ewm(times=...) on a DataFrame")
        import numpy as np
        import pandas as _pd

        from modin_spark.core.frame import fresh_names

        times = self._times
        if isinstance(times, Series):
            times = times.to_pandas()
        times = _pd.DatetimeIndex(np.asarray(times))
        if len(times) != len(self._obj):
            raise ValueError("times must be the same length as the object")
        # attach as exact integer microseconds (µs since epoch fits double)
        fr = self._obj._to_frame()
        ty = fresh_names(1)[0]
        tvals = (times.asi8 // 1000).tolist()
        from modin_spark.pandas.dataframe import DataFrame as _DF

        df2 = _DF(_frame=fr)
        df2[ty] = tvals
        fr2 = df2._frame
        hl, adj, mp = self._halflife_td, self._adjust, self._min_periods

        def pd_fn(d):
            t = _pd.to_datetime(d[1].astype("int64"), unit="us")
            return getattr(d[0].ewm(halflife=hl, times=t.values, adjust=adj,
                                    min_periods=mp), method)()

        out = win.blocked_pandas(fr2, [0, fr2.positions_of([ty])[0]], pd_fn, None,
                                 labels=[self._obj._name])
        return self._obj._rewrap(out)

    def mean(self):
        return self._run("mean")

    def std(self):
        return self._run("std")

    def var(self):
        return self._run("var")

    def sum(self):
        return self._run("sum")

    def agg(self, funcs):
        """str -> the agg itself; list over a Series -> one column per agg;
        dict over a frame -> one column per key. Each agg is one blocked
        pass (the ewm recurrence can't share a single sort the way
        expanding_agg does)."""
        import copy

        if isinstance(funcs, str):
            return self._run(funcs)
        if isinstance(funcs, dict):
            out = None
            for col, f in funcs.items():
                e2 = copy.copy(self)
                e2._obj = self._obj[col]
                s = e2._run(f).rename(col)
                out = s.to_frame() if out is None else out.assign(**{col: s})
            return out
        if isinstance(self._obj, Series):
            out = None
            for f in list(funcs):
                s = self._run(f).rename(f)
                out = s.to_frame() if out is None else out.assign(**{f: s})
            return out
        raise NotImplementedError("ewm.agg with a list over a DataFrame")

    aggregate = agg

    def corr(self, other=None, pairwise=None):
        return self._pair(other, "corr")

    def cov(self, other=None, pairwise=None, bias=False):
        return self._pair(other, "cov")

    def _pair(self, other, stat):
        """ewm corr/cov — exact pandas inside each block with the decay halo
        (weights past the halo underflow double precision, same bound as the
        other EWM methods)."""
        if not isinstance(self._obj, Series):
            raise NotImplementedError(f"ewm.{stat} pairwise on a DataFrame")
        if other is None:
            other = self._obj
        import pandas as _pd

        fr, px, py = _pair_frame(self._obj, other)
        fr = fr._same_rows(fr.sdf, columns=_pd.Index([0, 1]), data_cols=[px, py])
        a, adj, mp = self._alpha, self._adjust, self._min_periods

        def pd_fn(d):
            return getattr(d[0].ewm(alpha=a, adjust=adj, min_periods=mp), stat)(d[1])

        out = win.blocked_pandas(fr, [0, 1], pd_fn, self._halo,
                                 labels=[_pair_name(self._obj, other)])
        return Series._from_frame(out)


def _group_window_finish(g, base_fr, out_fr):
    """pandas shape for grouped window results: indexed by (group keys...,
    original labels) in GROUP-MAJOR order (pandas sorts by key, then original
    position). ORDER becomes a (keys..., old ORDER) struct — a lazy sort key
    consumed only when order is materialized, no extra pass. The label level
    is the original index, or the positional label (free via
    order_is_position, blocked global position otherwise). Null-key rows are
    dropped like pandas groupby(dropna=True)."""
    from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names

    keys = [base_fr.data_cols[i] for i in g._by_pos]
    key_names = [base_fr.columns[i] for i in g._by_pos]
    sdf = out_fr.sdf
    if base_fr.index_cols:
        lbl_cols = list(base_fr.index_cols)
        lbl_names = list(base_fr.index_names)
    else:
        lc = fresh_names(1)[0]
        if out_fr.has_order and out_fr.order_is_position:
            sdf = sdf.withColumn(lc, F.col(ORDER_COL).cast("long"))
        else:
            sdf = out_fr._same_rows(sdf).with_global_position(lc).sdf
        lbl_cols, lbl_names = [lc], [None]
    if g._dropna:
        for k in keys:
            sdf = sdf.where(F.col(k).isNotNull())
    sdf = sdf.withColumn(ORDER_COL, F.struct(*[F.col(k) for k in keys], F.col(ORDER_COL)))
    nf = SparkFrame(sdf, out_fr.columns, out_fr.data_cols, keys + lbl_cols,
                    list(key_names) + lbl_names, has_order=True)
    return nf


class GroupRolling:
    """groupby(...).rolling(w) — plain key-partitioned ordered window
    (``center=True`` widens the frame to [-back, +fwd] like ungrouped
    rolling; the group keys already partition the window, so no halo is
    needed)."""

    def __init__(self, g, window, min_periods=None, center: bool = False,
                 closed=None, on=None):
        self._g = g
        self._window = window
        self._min_periods = min_periods
        self._center = center
        self._closed = closed
        self._on = on

    def __getitem__(self, key):
        # column narrowing: df.groupby(k).rolling(...)[col]
        from modin_spark.pandas.groupby import DataFrameGroupBy

        g = self._g
        g2 = DataFrameGroupBy(g._df, g._by_labels, g._as_index, g._dropna, g._sort)
        g2._value_labels = list(key) if isinstance(key, list) else [key]
        r = GroupRolling(g2, self._window, self._min_periods,
                         center=self._center, closed=self._closed, on=self._on)
        if not isinstance(key, list):
            r._as_series = True
        return r

    def _run(self, agg: str):
        from modin_spark.pandas.dataframe import DataFrame

        fr = self._g._df._frame
        keys = [fr.data_cols[i] for i in self._g._by_pos]
        vals = self._g._value_positions(numeric_only=True)
        on_pos = fr.positions_of([self._on])[0] if self._on is not None else None
        val_pos = [i for _, i in vals if i != on_pos]
        as_series = getattr(self, "_as_series", False)
        if isinstance(self._window, str):
            # offset window within each group: ONE key-partitioned range
            # window (the keys already partition — no self-join needed)
            import pandas as _pd

            if self._center:
                raise NotImplementedError("center=True with an offset window")
            dur_us = int(_pd.Timedelta(self._window).value // 1000)
            mp = self._min_periods if self._min_periods is not None else 1
            ts_phys = fr.data_cols[on_pos] if on_pos is not None else None
            out = win.grouped_rolling_time_agg(
                fr, val_pos, dur_us, agg, mp,
                group_phys=keys, closed=self._closed or "right",
                ts_phys=ts_phys)
            if on_pos is not None:
                if as_series:
                    # narrowed Series keeps (keys..., on) as the index
                    base2 = fr._same_rows(fr.sdf, index_cols=[ts_phys],
                                          index_names=[self._on])
                    return Series._from_frame(_group_window_finish(self._g, base2, out))
                # frame shape keeps `on` as the FIRST column (pandas)
                out = out._same_rows(
                    out.sdf,
                    columns=_pd_index_prepend(self._on, out.columns),
                    data_cols=[ts_phys] + list(out.data_cols),
                )
            nf = _group_window_finish(self._g, fr, out)
        else:
            out = win.rolling_agg(fr, val_pos, self._window, agg,
                                  self._min_periods, group_phys=keys,
                                  center=self._center, closed=self._closed)
            nf = _group_window_finish(self._g, fr, out)
        if as_series and len(nf.data_cols) == 1:
            return Series._from_frame(nf)
        return DataFrame(_frame=nf)

    def apply(self, func, raw=False, args=(), kwargs=None):
        """groupby.rolling.apply — key-partitioned window + collect_list +
        the batched rolling-apply udf (shuffle-parallel across key ranges,
        not one-task-per-group; raw=True numpy funcs get the stacked
        matrix fast path)."""
        from modin_spark.pandas.dataframe import DataFrame

        if isinstance(self._window, str) or self._on is not None:
            raise NotImplementedError("groupby.rolling(...).apply with an offset window / on=")
        if self._closed not in (None, "right"):
            raise NotImplementedError("groupby.rolling(...).apply with closed=")
        g = self._g
        fr = g._df._frame
        keys = [fr.data_cols[i] for i in g._by_pos]
        val_pos = [i for _, i in g._value_positions(numeric_only=True)]
        if args or kwargs:
            inner = func
            func = lambda x, _f=inner, _a=tuple(args), _k=dict(kwargs or {}): _f(x, *_a, **_k)
        out = win.grouped_rolling_apply(fr, val_pos, keys, self._window, func,
                                        self._min_periods, center=self._center,
                                        raw=raw)
        nf = _group_window_finish(g, fr, out)
        if getattr(self, "_as_series", False) and len(nf.data_cols) == 1:
            return Series._from_frame(nf)
        return DataFrame(_frame=nf)


def _mk(cls, names):
    for n in names:
        def make(n=n):
            def run(self, **kw):
                return self._run(n, **kw)

            run.__name__ = n
            return run

        setattr(cls, n, make())


_mk(Rolling, _ROLL)
_mk(Expanding, _EXP)
_mk(GroupRolling, _ROLL)


class GroupExpanding:
    """groupby(...).expanding() — key-partitioned cumulative window. The
    grouped case needs none of the block+halo machinery: the group keys
    partition the window, so Spark plans an ordinary shuffle-parallel
    key-window (one task per key range, never single-partition)."""

    def __init__(self, g, min_periods: int = 1):
        self._g = g
        self._min_periods = max(1, int(min_periods))

    def _run(self, agg: str, q: float = 0.5):
        from pyspark.sql.window import Window

        from modin_spark.pandas.dataframe import DataFrame

        fr = self._g._df._frame.ensure_order()
        keys = [F.col(fr.data_cols[i]) for i in self._g._by_pos]
        w = Window.partitionBy(*keys).orderBy(F.col(ORDER_COL)).rowsBetween(Window.unboundedPreceding, 0)
        vals = self._g._value_positions(numeric_only=True)
        # exact percentile / moments as window aggregates (keyed partitions,
        # no global sort — same plan class as the other keyed aggs)
        exprs = [qc.agg_expr(agg, fr.scol(i), q, input_type=fr.spark_type_of(i), over=w,
                             min_count=self._min_periods, moving=True)
                 for _, i in vals]
        out = fr.project([lbl for lbl, _ in vals], exprs)
        nf = _group_window_finish(self._g, fr, out)
        if getattr(self, "_as_series", False) and len(nf.data_cols) == 1:
            return Series._from_frame(nf)
        return DataFrame(_frame=nf)

    def median(self):
        return self._run("median")

    def quantile(self, q=0.5):
        return self._run("quantile", q)


for _n in ["sum", "mean", "min", "max", "count", "var", "std", "sem", "skew", "kurt"]:
    def _mk_ge(n=_n):
        def run(self):
            return self._run(n)
        run.__name__ = n
        return run
    setattr(GroupExpanding, _n, _mk_ge())

def _rolling_agg_method(self, funcs):
    """rolling.agg — a single name, or a list computed one pipeline per agg
    (frame output columns named by agg for Series input, pandas-style)."""
    if isinstance(funcs, str):
        return self._run(funcs)
    import pandas as _pd

    from modin_spark.pandas.dataframe import DataFrame

    outs = [self._run(f) for f in funcs]
    if isinstance(self._obj, Series):
        base = outs[0]._to_frame(funcs[0]) if isinstance(outs[0], Series) else outs[0]._frame
        sdf = base.sdf
        phys, labels = [base.data_cols[0]], [funcs[0]]
        for f, o in zip(funcs[1:], outs[1:]):
            ofr = o._to_frame(f)
            # same-lineage column ops: every _run rides the same block pass
            sdf = sdf.join(
                ofr.sdf.select(F.col(ORDER_COL).alias("__ro__"), *[F.col(c) for c in ofr.data_cols]),
                sdf[ORDER_COL] == F.col("__ro__"), "inner",
            ).drop("__ro__")
            phys.append(ofr.data_cols[0])
            labels.append(f)
        fr = base._same_rows(sdf, columns=_pd.Index(labels), data_cols=phys)
        return DataFrame(_frame=fr)
    # DataFrame input: pandas yields (column, agg) 2-level columns.  Each
    # agg's output rides the same block pass; the joins are ORDER_COL
    # equi-joins on co-partitioned lineages.
    base = outs[0]._frame
    sdf = base.sdf
    phys = list(base.data_cols)
    tuples = [(c, funcs[0]) for c in base.columns]
    for f, o in zip(funcs[1:], outs[1:]):
        ofr = o._frame
        ren = {c: f"__{f}_{i}__" for i, c in enumerate(ofr.data_cols)}
        osel = ofr.sdf.select(
            F.col(ORDER_COL).alias("__ro__"),
            *[F.col(c).alias(ren[c]) for c in ofr.data_cols],
        )
        sdf = sdf.join(osel, sdf[ORDER_COL] == F.col("__ro__"), "inner").drop("__ro__")
        phys.extend(ren[c] for c in ofr.data_cols)
        tuples.extend((c, f) for c in ofr.columns)
    # pandas orders col-major: all aggs of col0, then col1 …
    order = sorted(range(len(tuples)), key=lambda i: (list(base.columns).index(tuples[i][0]), funcs.index(tuples[i][1])))
    fr = base._same_rows(
        sdf,
        columns=_pd.MultiIndex.from_tuples([tuples[i] for i in order]),
        data_cols=[phys[i] for i in order],
    )
    return DataFrame(_frame=fr)


from pyspark.sql import functions as F  # noqa: E402

from modin_spark.core.frame import ORDER_COL  # noqa: E402

Rolling.agg = _rolling_agg_method
Rolling.aggregate = _rolling_agg_method
