"""DataFrame — the pandas-faithful API over SparkFrame.

Role-equivalent of the reference's modin/pandas/dataframe.py: argument
normalization + dispatch to exactly one compiler operator. All heavy lifting
is in modin_spark.core.{compiler,windows}; this layer never touches rows.
"""

from __future__ import annotations

from typing import Any, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from modin_spark.core import compiler as qc
from modin_spark.core import windows as win
from modin_spark.pandas import kernels as _kernels
from modin_spark.pandas import native as _native
from modin_spark.core.frame import (
    ORDER_COL, SparkFrame, collect_small, fresh_names, native_max_rows, pandas_dtype_to_spark, pin,
    unpin,
)
from modin_spark.pandas.series import (
    Series, _lit, _nan_to_null, _true_div, describe_columns, describe_kind,
)

_MASKED_EXT_NAMES = {"Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16",
                     "UInt32", "UInt64", "Float32", "Float64", "boolean"}


# the distributed transpose's width budget, in transposed columns: above it
# the wide Spark projection leaves whole-stage codegen and the per-column
# cost rises ~45% (the measured knee, OPTIMIZATION_profile.md "Transpose
# width budget"); wider frames take the driver path with a warning
TRANSPOSE_MAX_COLS = 20_000


def _masked_ext_dtypes(pdf: pd.DataFrame) -> dict:
    """Labels of pandas nullable (masked) extension-dtype columns — Spark
    stores them as plain nullable columns; the wrapper remembers the dtype so
    to_pandas and comparison results (pd.NA, not False) stay faithful."""
    return {c: d for c, d in pdf.dtypes.items() if getattr(d, "name", "") in _MASKED_EXT_NAMES}


def _flex(name: str):
    """DataFrame flex method ``name``: Series ``name`` on every column."""
    def method(self, other, axis="columns", level=None, fill_value=None):
        kw = {} if fill_value is None else {"fill_value": fill_value}
        return self._binary(lambda a, b: getattr(a, name)(b, **kw), other, axis)

    method.__name__ = name
    return method


def _operator(name: str, compare: bool = False):
    """DataFrame operator ``name``: Series ``name`` on every column.
    Comparison operators raise on differently-labeled frames first."""
    def method(self, other):
        if compare:
            self._cmp_label_check(other)
        return self._binary(lambda a, b: getattr(a, name)(b), other)

    method.__name__ = name
    return method


class DataFrame:
    def __init__(self, data=None, index=None, columns=None, dtype=None, copy=None,
                 _frame: SparkFrame | None = None):
        if _frame is not None:
            self._frame = _frame
            return
        if isinstance(data, pd.DataFrame):
            pdf = data
            if dtype is not None:
                pdf = pdf.astype(dtype)
        else:
            from modin_spark.pandas.series import Series as _MSeries

            if isinstance(data, _MSeries):
                data = data.to_pandas()
            elif isinstance(data, dict):
                data = {k: (v.to_pandas() if isinstance(v, _MSeries) else v)
                        for k, v in data.items()}
            elif isinstance(data, (list, tuple)) and data and all(
                    isinstance(v, _MSeries) for v in data):
                data = [v.to_pandas() for v in data]
            pdf = pd.DataFrame(data, columns=columns, index=index, dtype=dtype)
        self._frame = SparkFrame.from_pandas(pdf)
        ext = _masked_ext_dtypes(pdf)
        if ext:
            self._to_pandas_ext_dtypes = ext
        cats = {c: d for c, d in pdf.dtypes.items() if isinstance(d, pd.CategoricalDtype)}
        if cats:
            # category SET rides the wrapper (Spark storage is plain string):
            # groupby(observed=False) restores unobserved keys; to_pandas
            # restores the dtype
            self._cat_meta = cats
            self._to_pandas_ext_dtypes = {**getattr(self, "_to_pandas_ext_dtypes", {}), **cats}

    # ------------------------------------------------------------- metadata
    @property
    def columns(self) -> pd.Index:
        return self._frame.columns

    @columns.setter
    def columns(self, new):
        self._frame = self._frame.set_labels(new)

    @property
    def dtypes(self) -> pd.Series:
        out = self._frame.dtypes
        ext = getattr(self, "_to_pandas_ext_dtypes", None)
        if ext:
            # wrapper-carried extension dtypes (nullable ingest, categorical,
            # dtype_backend reads) overlay the physical Spark storage types
            out = out.copy()
            for c, d in ext.items():
                if c in out.index:
                    out[c] = d
        if getattr(self, "_to_pandas_convert_dtypes", False):
            # convert_dtypes marks the whole frame for nullable-extension
            # materialization — reflect that in the reported dtypes
            conv = {"int8": "Int8", "int16": "Int16", "int32": "Int32",
                    "int64": "Int64", "float32": "Float32", "float64": "Float64",
                    "bool": "boolean", "object": "string"}
            out = out.copy()
            for c, d in out.items():
                out[c] = conv.get(str(d), d)
        return out

    @property
    def shape(self) -> tuple[int, int]:
        return (self._frame.count_rows(), len(self._frame.columns))

    @property
    def empty(self) -> bool:
        return len(self._frame.columns) == 0 or self._frame.sdf.limit(1).count() == 0

    @property
    def index(self):
        return self.to_pandas().index

    @index.setter
    def index(self, value):
        # pandas axis-metadata assignment: df.index = labels. Same machinery
        # as set_axis(axis=0) — the labels ride in as index columns zipped by
        # position, no shuffle beyond the position derivation.
        self._frame = self.set_axis(list(value), axis=0)._frame

    def __len__(self) -> int:
        return self._frame.count_rows()

    def __repr__(self) -> str:
        pdf = DataFrame(_frame=self._frame.head(10)).to_pandas()
        return repr(pdf)

    # ------------------------------------------------------------ execution
    def to_pandas(self) -> pd.DataFrame:
        return self._finish_pandas(self._frame.to_pandas())

    def _finish_pandas(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """The wrapper-carried dtype and index overlays on a collected frame."""
        if getattr(self, "_to_pandas_convert_dtypes", False):
            pdf = pdf.convert_dtypes()
        ext = getattr(self, "_to_pandas_ext_dtypes", None)
        if ext:
            pdf = pdf.astype({c: t for c, t in ext.items() if c in pdf.columns})
        pidx = getattr(self, "_post_to_pandas_index", None)
        if pidx is not None:
            pdf.index = pidx(pdf.index)
        return pdf

    def to_spark(self, include_index: bool = False, ordered: bool = True):
        return self._frame.to_spark(include_index=include_index, ordered=ordered)

    def spark_explain(self, mode: str = "formatted") -> None:
        self._frame.sdf.explain(mode)

    def _repartition(self, axis: int | None = None, by=None) -> "DataFrame":
        """Implicit repartitioning as a performance hint (reference parity:
        modin.pandas.base.BasePandasDataset._repartition — "improve
        performance where the query compiler can't yet").

        ``axis`` is validated for API compatibility; Catalyst owns the
        physical layout, so without ``by`` this is a no-op. ``by=`` is the
        Spark-backend extension: hash-partition the rows on the named
        column(s) (``spark.sql.shuffle.partitions``-sized, scale-adaptive),
        after which every downstream groupby/join whose keys are a SUPERSET
        of ``by`` runs exchange-free — consecutive aggregations keyed
        (k1, k2) then (k1) share this one exchange instead of shuffling
        twice. Row order is materialized first (ensure_order), so label and
        positional semantics are unchanged; Catalyst prunes the unused order
        column when no downstream op consumes order."""
        if axis not in (0, 1, None):
            raise ValueError(
                f"Passed `axis` parameter: {axis}, but should be one of (0, 1, None)"
            )
        if by is None:
            return DataFrame(_frame=self._frame)
        cols = [by] if isinstance(by, str) else list(by)
        fr = self._frame.ensure_order()
        phys = [fr.data_cols[i] for i in fr.positions_of(cols)]
        return DataFrame(_frame=fr._same_rows(fr.sdf.repartition(*[F.col(p) for p in phys])))

    # -------------------------------------------------------------- selection
    def _series_at(self, pos: int, frame: SparkFrame | None = None) -> Series:
        """Column ``pos`` as a Series with this frame's dtype overlay for its
        label. ``frame`` is a frame carrying this one's columns (an aligned
        binary operand, ``compiler.align_frames``); ``pos`` indexes it."""
        fr = self._frame if frame is None else frame
        s = Series(fr, fr.scol(pos), {fr.data_cols[pos]}, name=fr.columns[pos])
        # plain-column marker (the type comes from the frame's schema; the
        # native fast path replays it as pdf[label]): ONLY a direct column
        # extraction carries it (derived Series keep the name through _map1
        # but are new objects, so the attr vanishes)
        s._native_col = pos
        ext = getattr(self, "_to_pandas_ext_dtypes", None)
        if ext:
            d = ext.get(fr.columns[pos])
            if isinstance(d, pd.CategoricalDtype) and d.categories is not None:
                # categorical: ordered comparisons + groupby category
                # restoration key off _cat_dtype; comparisons stay plain bool
                s._cat_dtype = d
                s._post_to_pandas = lambda x, _d=d: x.astype(_d)
            elif d is not None:
                s._ext_dtype = d
                s._post_to_pandas = lambda x, _d=d: x.astype(_d)
        return s

    def __getitem__(self, key):
        fr = self._frame
        if isinstance(key, DataFrame):
            # df[bool_frame] is ELEMENTWISE masking (pandas: == df.where);
            # without this branch the key would fall into label matching,
            # where `label == frame` is truthy and silently selected
            # every column
            return self.where(key)
        if isinstance(key, pd.DataFrame):
            from modin_spark.pandas.io import from_pandas as _fp

            return self.where(_fp(key))
        if isinstance(key, list):  # label-list projection stays native
            nat = _native.maybe(self, "__getitem__", key)
            if nat is not None:
                return nat
        if isinstance(key, Series):  # boolean mask
            sj = getattr(key, "_semijoin", None)
            if sj is not None:  # isin(Series) mask -> left_semi / left_anti join
                other, base_expr, negate = sj
                vals = other._frame.sdf.select(other._expr.alias("__sjv__")).distinct()
                how = "left_anti" if negate else "left_semi"
                joined = fr.sdf.join(vals, base_expr == F.col("__sjv__"), how)
                return self._copy_col_meta(DataFrame(_frame=fr._subset_rows(joined)))
            if fr.can_rebase(key._frame, key._refs):
                cond = key._filter_expr if key._filter_expr is not None else key._expr
                return self._copy_col_meta(DataFrame(_frame=fr.filter(cond)))
            # alignment fallback: join mask by index (or global position for
            # default-index frames — raw ORDER_COL is not cross-frame comparable)
            mfr = key._to_frame("__m__").ensure_order()
            fr = fr.ensure_order()
            fr, lkey = fr.align_keyed_with(mfr, "__alp__")
            mask_fr, rkey = mfr.align_keyed_with(fr, "__arp__")
            msdf = mask_fr.sdf.select(
                *[F.col(k).alias(f"__mk{i}__") for i, k in enumerate(rkey)], mask_fr.data_cols[0]
            )
            cond = None
            for i, k in enumerate(lkey):
                c = fr.sdf[k] == msdf[f"__mk{i}__"]
                cond = c if cond is None else (cond & c)
            joined = fr.sdf.join(msdf, cond, "inner").where(F.col(mask_fr.data_cols[0]))
            joined = joined.drop(*[f"__mk{i}__" for i in range(len(rkey))], mask_fr.data_cols[0])
            if "__alp__" in joined.columns:
                joined = joined.drop("__alp__")
            return self._copy_col_meta(DataFrame(_frame=fr._subset_rows(joined)))
        if isinstance(key, (pd.Index, np.ndarray)):
            # pandas: df[df.columns] / df[array_of_labels]; a BOOLEAN array
            # is a positional row mask
            if getattr(key, "dtype", None) is not None and str(key.dtype) == "bool":
                return self.iloc[key]
            key = list(key)
        if isinstance(key, list):
            return self._copy_col_meta(
                DataFrame(_frame=fr.select_positions(fr.positions_of(key))),
                labels=set(key))
        if isinstance(key, slice):
            return self.iloc[key]
        if isinstance(fr.columns, pd.MultiIndex) and not isinstance(key, tuple):
            # partial (top-level) selection on 2-level columns: the result
            # keeps the remaining level as flat columns (pandas semantics)
            positions = [i for i, c in enumerate(fr.columns) if c[0] == key]
            if positions:
                sub = fr.select_positions(positions)
                two = all(len(fr.columns[i]) == 2 for i in positions)
                rest_names = list(fr.columns.names[1:])
                if two:
                    cols = pd.Index([fr.columns[i][1] for i in positions],
                                    name=rest_names[0] if rest_names else None)
                else:
                    cols = pd.MultiIndex.from_tuples(
                        [tuple(fr.columns[i][1:]) for i in positions],
                        names=rest_names)
                return DataFrame(_frame=sub._same_rows(sub.sdf, columns=cols, data_cols=sub.data_cols))
        positions = [i for i, c in enumerate(fr.columns) if c == key]
        if not positions:
            raise KeyError(key)
        if len(positions) > 1:
            return DataFrame(_frame=fr.select_positions(positions))
        return self._series_at(positions[0])

    def __delitem__(self, key):
        # pandas `del df[col]`: drop in place (KeyError on a missing label)
        if key not in set(self._frame.columns):
            raise KeyError(key)
        keep = [i for i, c in enumerate(self._frame.columns) if c != key]
        self._frame = self._frame.select_positions(keep)

    def _adopt_dtype(self, key, value) -> None:
        """Record the dtype overlay ``value`` carries for column ``key``.
        Categorical VALUES: the category SET rides on the wrapper (Spark
        storage is plain string), mirrored into BOTH stores: _cat_meta feeds
        groupby(observed=False), _to_pandas_ext_dtypes feeds column
        extraction and to_pandas dtype restoration. A nullable extension
        dtype (e.g. the BooleanDtype of a comparison) rides the latter."""
        cat = value.dtype if isinstance(value, pd.Categorical) else getattr(value, "_cat_dtype", None)
        if cat is not None:
            self._cat_meta = {**getattr(self, "_cat_meta", {}), key: cat}
        d = cat if cat is not None else getattr(value, "_ext_dtype", None)
        if d is not None:
            self._to_pandas_ext_dtypes = {**getattr(self, "_to_pandas_ext_dtypes", {}), key: d}

    def __setitem__(self, key, value):
        fr = self._frame
        self._adopt_dtype(key, value)
        if isinstance(value, Series):
            if fr.can_rebase(value._frame, value._refs):
                self._frame = fr.with_columns([key], [value._expr], refs=set(value._refs))
                return
            # adopt path: value's frame is a same-rows sibling (same _lid ⇒
            # identical rows/order) whose sdf carries everything this frame
            # needs — evaluate there instead of join-aligning, so a chain of
            # ``df[c] = derived[c2]`` setitems stays ONE plan (later setitems
            # rebase onto the adopted sdf directly)
            vf0 = value._frame
            if (
                vf0._lid == fr._lid
                and set(fr.data_cols) <= set(vf0.sdf.columns)
                and value._refs <= set(vf0.sdf.columns)
            ):
                nf = vf0._same_rows(vf0.sdf, columns=fr.columns, data_cols=fr.data_cols,
                                    index_cols=fr.index_cols, index_names=fr.index_names)
                self._frame = nf.with_columns([key], [value._expr], refs=set(value._refs))
                return
            # align by join then set (index cols; default-index frames key on
            # the PANDAS LABELS when the derivations differ — raw
            # ORDER/positions are not label-true after sorts/filters)
            vfr = value._to_frame("__v__").ensure_order()
            fr = fr.ensure_order()
            if (not fr.index_cols and not vfr.index_cols
                    and (fr.order_epoch is None or fr.order_epoch != vfr.order_epoch)):
                from modin_spark.core.frame import fresh_names as _fnames

                ll, rr = _fnames(2)
                fr, lkey = fr.with_pandas_labels(ll), [ll]
                vf, rkey = vfr.with_pandas_labels(rr), [rr]
            else:
                fr, lkey = fr.align_keyed_with(vfr, "__alp__")
                vf, rkey = vfr.align_keyed_with(fr, "__arp__")
            vsdf = vf.sdf.select(*[F.col(k).alias(f"__vk{i}__") for i, k in enumerate(rkey)], vf.data_cols[0])
            cond = None
            for i, k in enumerate(lkey):
                c = fr.sdf[k] == vsdf[f"__vk{i}__"]
                cond = c if cond is None else (cond & c)
            joined = fr.sdf.join(vsdf, cond, "left").drop(*[f"__vk{i}__" for i in range(len(rkey))])
            if "__alp__" in joined.columns:
                joined = joined.drop("__alp__")
            # left join keeps the target's rows/order AND its label stash
            nf = fr._same_rows(joined)
            self._frame = nf.with_columns([key], [F.col(vf.data_cols[0])])
            return
        if isinstance(value, DataFrame):
            # df[["a","b"]] = other — column-wise series setitems (same-lineage
            # frames stay one plan via the adopt path; unrelated frames align
            # once per column on index/position)
            if isinstance(key, list):
                for k, c in zip(key, value.columns):
                    self[k] = value[c]
                return
            if len(value.columns) == 1:
                self[key] = value._series_at(0)
                return
            raise ValueError("setitem: column count mismatch")
        if isinstance(value, pd.Series):
            # a labeled pandas Series aligns BY LABEL (pandas); its index
            # rides in as the engine frame's index
            from modin_spark.pandas.io import from_pandas as _fp

            idx_default = isinstance(value.index, pd.RangeIndex) and value.index.start == 0 and value.index.step == 1
            vdf = _fp(value.rename("__v__").to_frame())
            self[key] = vdf["__v__"] if idx_default else Series._from_frame(vdf._frame)
            return
        if isinstance(value, (list, tuple, pd.Index, np.ndarray, pd.Categorical)):
            # raw sequences have NO labels: pandas assigns POSITIONALLY —
            # join on the contiguous global position, not the label stash
            # (fresh helper names: a second raw-sequence setitem on the same
            # lineage must not collide with the first one's value column)
            from modin_spark.core.frame import fresh_names as _fnames

            sp, vp, vv = _fnames(3)
            vals = pd.Series(value).reset_index(drop=True)
            vfr = Series._from_pandas(vals)._to_frame("__v__").ensure_order()
            fr = fr.ensure_order()
            fr2 = fr.with_global_position(sp)
            vsdf = vfr.sdf.select(
                F.col(ORDER_COL).cast("long").alias(vp),
                F.col(vfr.data_cols[0]).alias(vv),
            )
            joined = fr2.sdf.join(vsdf, F.col(sp) == F.col(vp), "left").drop(vp, sp)
            # left join on unique positions keeps the target's rows/order, so
            # its row metadata (positional-label facts included) carries over
            self._frame = fr._same_rows(joined).with_columns([key], [F.col(vv)])
            return
        self._frame = fr.with_columns([key], [_lit(value)], refs=set())

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        try:
            cols = object.__getattribute__(self, "_frame").columns
        except AttributeError:
            raise AttributeError(name)
        if name in set(cols):
            return self[name]
        raise AttributeError(name)

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    @property
    def loc(self):
        from modin_spark.pandas.indexing import LocIndexer

        return LocIndexer(self)

    @property
    def iloc(self):
        from modin_spark.pandas.indexing import ILocIndexer

        return ILocIndexer(self)

    # ------------------------------------------------------------ column ops
    def _copy_col_meta(self, out: "DataFrame", labels=None) -> "DataFrame":
        """Propagate wrapper-carried per-column dtype metadata (categorical
        category sets, nullable-extension dtypes) to a derived frame —
        Spark storage is plain, so the dtypes ride the wrapper and must
        survive column selection / assign / row filters."""
        for attr in ("_cat_meta", "_to_pandas_ext_dtypes"):
            src = getattr(self, attr, None)
            if src:
                sub = src if labels is None else {
                    k: v for k, v in src.items() if k in labels}
                if sub:
                    setattr(out, attr, {**getattr(out, attr, {}), **sub})
        return out

    def assign(self, **kwargs) -> "DataFrame":
        out = self._copy_col_meta(DataFrame(_frame=self._frame))
        for k, v in kwargs.items():
            if callable(v):
                v = v(out)
            out[k] = v
        return out

    def drop(self, labels=None, columns=None, index=None, axis=0, errors="raise") -> "DataFrame":
        if columns is None and axis in (1, "columns"):
            columns = labels
        out = self
        if columns is not None:
            cols = columns if isinstance(columns, (list, tuple)) else [columns]
            dropset = set()
            for c in cols:
                hits = [i for i, lbl in enumerate(self._frame.columns) if lbl == c]
                if not hits and errors == "raise":
                    raise KeyError(c)
                dropset.update(hits)
            keep = [i for i in range(len(self._frame.columns)) if i not in dropset]
            out = self._copy_col_meta(
                DataFrame(_frame=self._frame.select_positions(keep)),
                labels={self._frame.columns[i] for i in keep})
            if index is None:
                return out
        # drop rows by index label (pandas axis=0 default) — an anti-filter
        # on the index column, pushes down to the scan
        if index is None and axis in (0, "index"):
            index = labels
        if index is not None:
            fr = out._frame
            idx_vals = list(index) if isinstance(index, (list, tuple)) else [index]
            if not fr.index_cols:
                # default positional index: drop by LABEL. When ORDER values
                # ARE the original pandas labels (order_is_position, survives
                # filters), anti-filter on ORDER_COL directly — after
                # df2 = df[mask], pandas drop(index=k) removes the row
                # labeled k, not the (k+1)-th surviving row, and ORDER_COL is
                # exactly the labels to_pandas/idxmax display. Only frames
                # with no positional lineage need a fresh global position.
                if fr.has_order and fr.order_is_position:
                    sdf = fr.sdf.where(~F.col(ORDER_COL).isin(idx_vals))
                    return DataFrame(_frame=fr._same_rows(sdf))
                fr2 = fr.with_pandas_labels("__dpi__")
                sdf = fr2.sdf.where(~F.col("__dpi__").isin(idx_vals)).drop("__dpi__")
                return DataFrame(_frame=fr._same_rows(sdf))
            cond = ~F.col(fr.index_cols[0]).isin(idx_vals)
            return DataFrame(_frame=fr.filter(cond))
        raise NotImplementedError("drop: nothing to drop")

    def rename(self, mapper=None, *, columns=None, level=None, index=None,
               axis=None, **kw) -> "DataFrame":
        # pandas signature: a positional mapper routes by axis= (default
        # axis=0 -> index); columns=/index= keywords are explicit. The old
        # engine behavior (positional == columns=) survives only through
        # the explicit keyword.
        if mapper is not None:
            if axis in (1, "columns"):
                columns = mapper if columns is None else columns
            else:
                index = mapper if index is None else index
        if index is not None:
            if callable(index):
                # callable mapper over STRING-typed labels stays a JVM
                # expression only for upper/lower-style funcs we can't
                # introspect — run it through the Arrow UDF machinery via a
                # temporary column instead of collecting labels
                fr0 = self._frame
                if not fr0.index_cols:
                    from modin_spark.core.frame import fresh_names as _fn0

                    lc0 = _fn0(1)[0]
                    b0 = fr0.with_pandas_labels(lc0)
                    fr0 = b0._same_rows(b0.sdf, index_cols=[lc0], index_names=[None])
                icol0 = fr0.index_cols[0]
                tmp = Series(fr0, F.col(icol0), set(fr0.data_cols), None).apply(index)
                out0 = DataFrame(_frame=fr0._same_rows(
                    fr0.sdf.withColumn(icol0, tmp._expr)))
                if columns is None:
                    return out0
                return out0.rename(columns=columns, level=level, **kw)
            if not isinstance(index, dict):
                raise NotImplementedError("rename(index=) supports a dict or callable mapper")
            fr = self._frame
            if not fr.index_cols:
                # default positional index: the labels are the positions —
                # materialize them as an index level (free via
                # order_is_position), then map
                from modin_spark.core.frame import fresh_names as _fn

                lc = _fn(1)[0]
                base = fr.with_pandas_labels(lc)
                fr = base._same_rows(base.sdf, index_cols=[lc], index_names=[None])
            icol = fr.index_cols[0]
            e = F.col(icol)
            for kk, vv in index.items():  # k-entry when-chain: driver-provided map
                e = F.when(F.col(icol).eqNullSafe(F.lit(kk)), F.lit(vv)).otherwise(e)
            out = DataFrame(_frame=fr._same_rows(fr.sdf.withColumn(icol, e)))
            if columns is None:
                return out
            return out.rename(columns=columns, level=level, **kw)
        if columns is None:
            raise NotImplementedError("rename supports columns= or index=")
        fr = self._frame
        if callable(columns) and not isinstance(fr.columns, pd.MultiIndex):
            columns = {c: columns(c) for c in fr.columns}
        if isinstance(fr.columns, pd.MultiIndex):
            # tuple keys rename the whole column label (flattening it);
            # string keys / callables map individual level values (pandas);
            # level= restricts the mapper to ONE level (int or level name)
            if level is not None and not isinstance(level, int):
                level = list(fr.columns.names).index(level)
            fn = columns if callable(columns) else (lambda v: columns.get(v, v))
            mapped = []
            for tup in fr.columns:
                if not callable(columns) and level is None and tup in columns:
                    mapped.append(columns[tup])
                else:
                    mapped.append(tuple(
                        fn(v) if level is None or j == level else v
                        for j, v in enumerate(tup)
                    ))
            if all(isinstance(x, tuple) for x in mapped):
                new_cols = pd.MultiIndex.from_tuples(mapped, names=fr.columns.names)
            elif not any(isinstance(x, tuple) for x in mapped):
                new_cols = pd.Index(mapped)
            else:
                new_cols = pd.Index(mapped, dtype=object, tupleize_cols=False)
            return DataFrame(_frame=fr._same_rows(fr.sdf, columns=new_cols, data_cols=list(fr.data_cols)))
        return DataFrame(_frame=fr.rename(columns))

    def insert(self, loc: int, column, value, allow_duplicates: bool = False) -> None:
        exists = column in set(self._frame.columns)
        if exists and not allow_duplicates:
            raise ValueError(f"cannot insert {column!r}, already exists")
        tmp = DataFrame(_frame=self._frame)
        # a duplicate label can't ride setitem (it would REPLACE the existing
        # column), so assign under a fresh name and relabel after reordering
        tmp["__insert_tmp__" if exists else column] = value
        fr = tmp._frame
        n = len(fr.columns)
        order = list(range(n - 1))
        order.insert(loc, n - 1)
        fr = fr.select_positions(order)
        if exists:
            cols = list(fr.columns)
            cols[loc] = column
            if isinstance(fr.columns, pd.MultiIndex):
                new_cols = pd.MultiIndex.from_tuples(cols, names=fr.columns.names)
            else:
                new_cols = pd.Index(cols, tupleize_cols=False)
            fr = fr._same_rows(fr.sdf, columns=new_cols, data_cols=list(fr.data_cols))
        self._frame = fr

    def __dataframe__(self, nan_as_null: bool = False, allow_copy: bool = True):
        """DataFrame interchange protocol (reference: modin
        dataframe.py:4803) — ecosystem libs (plotly, seaborn) sniff this.
        Delegates to the Arrow table's implementation after egress."""
        return self.to_arrow().__dataframe__(nan_as_null=nan_as_null, allow_copy=allow_copy)

    def to_sql(self, name: str, con, if_exists: str = "fail", **kw) -> None:
        """JDBC writer (reference: modin/core/io/sql/sql_dispatcher.py) —
        distributed parallel INSERTs, one connection per partition, for a
        JDBC URL string.  A DBAPI connection / SQLAlchemy engine has no
        distributed form (one driver-held handle) — pandas writes it, same
        delegate contract as read_sql with a connection object."""
        if not isinstance(con, str):
            return self.to_pandas().to_sql(name, con, if_exists=if_exists, **kw)
        mode = {"fail": "errorifexists", "replace": "overwrite", "append": "append"}[if_exists]
        self.to_spark(ordered=False).write.format("jdbc").option("url", con).option(
            "dbtable", name
        ).mode(mode).save()

    def to_table(self, name: str, bucket_by=None, num_buckets: int = 8, sort_by=None,
                 mode: str = "overwrite") -> None:
        """Save as a (optionally bucketed) managed table. Bucketing is the
        scale path for repeated co-located joins: two tables bucketed on the
        join key with the same bucket count join WITHOUT a shuffle on either
        side (brief: 'bucketing for co-located joins')."""
        w = self.to_spark(ordered=False).write.mode(mode)
        if bucket_by is not None:
            cols = bucket_by if isinstance(bucket_by, list) else [bucket_by]
            w = w.bucketBy(num_buckets, *cols)
            if sort_by is not None:
                w = w.sortBy(*(sort_by if isinstance(sort_by, list) else [sort_by]))
        w.format("parquet").saveAsTable(name)
        from modin_spark.core.compiler import invalidate_catalog_memo

        invalidate_catalog_memo()

    def to_arrow(self):
        """Arrow table egress (Spark 4 ``toArrow``; reference interchange
        protocol, dataframe.py:4803)."""
        sdf = self.to_spark(ordered=False)
        try:
            return sdf.toArrow()
        except Exception:
            import pyarrow as pa

            return pa.Table.from_pandas(self.to_pandas())

    def to_pickle(self, path: str) -> None:
        self.to_pandas().to_pickle(path)

    def infer_objects(self) -> "DataFrame":
        return self  # schema is always concrete in Spark (SURVEY §1.2)

    def convert_dtypes(self) -> "DataFrame":
        # Spark types are already nullable-native; the pandas-visible effect
        # is the EXTENSION dtypes on materialization (int64 -> Int64,
        # object -> string). The plan is untouched; the flag rides to
        # to_pandas. (Chained engine ops drop the flag — documented: the
        # engine's own nullability never depended on it.)
        out = DataFrame(_frame=self._frame)
        out._to_pandas_convert_dtypes = True
        return out

    def astype(self, dtype, copy: bool = True, errors: str = "raise") -> "DataFrame":
        nat = _native.maybe(self, "astype", dtype, errors=errors)
        if nat is not None:
            return nat
        fr = self._frame
        blockwise = not isinstance(dtype, dict)
        if blockwise:
            dtype = {c: dtype for c in fr.columns}
        cols = [self._series_at(i) for i in range(len(fr.columns))]
        cast = [i for i, s in enumerate(cols) if s._name in dtype]
        # ONE aggregate answers every data-dependent question of the casts:
        # with errors="ignore", whether a column has a value that casts to
        # NULL from non-NULL (pandas then keeps that column's original
        # values: all-or-nothing per column); and for a string cast, each
        # datetime/timedelta column's array-wide render
        fails = {}
        if errors == "ignore":
            for i in cast:
                e = cols[i]._expr
                t = pandas_dtype_to_spark(dtype[cols[i]._name])
                fails[i] = F.max((e.isNotNull() & e.cast(t).isNull()).cast("int"))
        probes = {i: cols[i]._str_probes(dtype[cols[i]._name]) for i in cast}
        aggs = list(fails.values()) + [p for ps in probes.values() for p in ps]
        if aggs:
            row = iter(fr.sdf.agg(*[a.alias(f"__p{k}__") for k, a in enumerate(aggs)]).collect()[0])
            failed = {i for i in fails if next(row)}
            cast = [i for i in cast if i not in failed]
            for i, ps in probes.items():
                cols[i]._str_probed = [next(row) for _ in ps]
            if blockwise:
                # pandas casts a frame's columns of one dtype as one block:
                # they share one render
                for kind in "Mm":
                    same = [cols[i] for i, ps in probes.items() if ps and cols[i].dtype.kind == kind]
                    joint = [max(v or 0 for v in vals) for vals in zip(*(s._str_probed for s in same))]
                    for s in same:
                        s._str_probed = joint
        for i in cast:
            cols[i] = cols[i].astype(dtype[cols[i]._name])
        return self._gather(fr, fr.columns, cols)

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        inc = [include] if isinstance(include, str) else (include or [])
        exc = [exclude] if isinstance(exclude, str) else (exclude or [])

        def matches(dt: str, pats) -> bool:
            for p in pats:
                if p in ("number", "numeric") and (dt.startswith(("int", "float")) or dt == "bool"):
                    return True
                if dt.startswith(p):
                    return True
            return False

        keep = []
        for i in range(len(self._frame.columns)):
            dt = self._frame.dtype_of(i)
            if inc and not matches(dt, inc):
                continue
            if exc and matches(dt, exc):
                continue
            keep.append(i)
        return DataFrame(_frame=self._frame.select_positions(keep))

    def _numeric_positions(self) -> list[int]:
        return [
            i
            for i in range(len(self._frame.columns))
            if self._frame.dtype_of(i).startswith(("int", "float")) or self._frame.dtype_of(i) == "bool"
        ]

    def _maybe_inplace(self, out: "DataFrame", inplace: bool):
        if inplace:
            self._frame = out._frame
            return None
        return out

    # ----------------------------------------------------------- missing data
    def fillna(self, value=None, method=None, axis=None, inplace=False, limit=None) -> "DataFrame":
        if not inplace and method is None and value is not None:
            nat = _native.maybe(self, "fillna", value=value, axis=axis, limit=limit)
            if nat is not None:
                return nat
        if method is not None:
            if method in ("ffill", "pad"):
                out = self.ffill(limit=limit)
            elif method in ("bfill", "backfill"):
                out = self.bfill(limit=limit)
            else:
                raise NotImplementedError(f"fillna method {method!r}")
        elif value is None:
            raise ValueError("must specify a fill value or method")
        elif isinstance(value, (DataFrame, pd.DataFrame)):
            out = self._binary(lambda a, b: a.fillna(b), value, how="left")
        else:
            if isinstance(value, (Series, pd.Series)):
                # a Series value is keyed by column label, like a dict
                value = (value.to_pandas() if isinstance(value, Series) else value).to_dict()
            fill = value.get if isinstance(value, dict) else (lambda _: value)
            out = self._map(lambda s: s if fill(s._name) is None else s.fillna(fill(s._name)))
        return self._maybe_inplace(out, inplace)

    def dropna(self, axis=0, how="any", thresh=None, subset=None, inplace=False,
               ignore_index=False) -> "DataFrame":
        if not inplace:
            kw = dict(axis=axis, subset=subset, ignore_index=ignore_index)
            # pandas 2 rejects how+thresh together
            kw.update({"thresh": thresh} if thresh is not None else {"how": how})
            nat = _native.maybe(self, "dropna", **kw)
            if nat is not None:
                return nat
        if axis in (1, "columns"):
            # drop columns containing nulls: ONE tiny aggregate row of
            # per-column null counts and sizes, then a metadata-only projection
            fr = self._frame
            nulls, sizes = self.isna()._reduce_names(["sum", "size"], numeric_only=False)
            keep = []
            for i in range(len(fr.columns)):
                cnt, total = nulls.iloc[i], sizes.iloc[i]
                bad = cnt > 0 if how == "any" else cnt == total
                if thresh is not None:
                    bad = (total - cnt) < thresh
                if not bad:
                    keep.append(fr.columns[i])
            out = self[keep]
        else:
            pos = self._frame.positions_of(subset) if subset is not None else None
            out = DataFrame(_frame=qc.dropna(self._frame, how, thresh, pos))
            if ignore_index and out._frame.index_cols:
                out = out.reset_index(drop=True)
        return self._maybe_inplace(out, inplace)

    def isna(self) -> "DataFrame":
        return self._map(Series.isna)

    isnull = isna

    def notna(self) -> "DataFrame":
        return self._map(Series.notna)

    notnull = notna

    def _fill_axis1(self, reverse: bool, limit=None) -> "DataFrame":
        """Row-wise ffill/bfill: each cell coalesces over the columns to its
        left (right for bfill) — pure projection, no shuffle. ``limit``
        bounds how many columns back a value may carry."""
        fr = self._frame
        n = len(fr.columns)
        order = list(range(n))
        if reverse:
            order = order[::-1]
        exprs: list = [None] * n
        for rank_, i in enumerate(order):
            back = order[max(0, rank_ - limit) if limit is not None else 0: rank_ + 1][::-1]
            exprs[i] = F.coalesce(*[fr.scol(j) for j in back]) if len(back) > 1 else fr.scol(i)
        return DataFrame(_frame=fr.project(fr.columns, exprs))

    def ffill(self, limit=None, axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            return self._fill_axis1(False, limit)
        return DataFrame(_frame=win.fill(self._frame, list(range(len(self._frame.columns))), limit=limit))

    def bfill(self, limit=None, axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            return self._fill_axis1(True, limit)
        return DataFrame(_frame=win.fill(self._frame, list(range(len(self._frame.columns))), limit=limit,
                                        backward=True))

    def replace(self, to_replace=None, value=None, regex: bool = False) -> "DataFrame":
        if to_replace is None and isinstance(regex, (dict, str)):
            # pandas regex= form: the patterns ARE the to_replace spec
            to_replace, regex = regex, True
        if isinstance(to_replace, dict) and any(isinstance(v, dict) for v in to_replace.values()):
            # pandas nested form {col: {old: new}} — per-column maps
            return self._map(lambda s: s.replace(to_replace[s._name], value, regex=regex)
                             if s._name in to_replace else s)
        return self._map(lambda s: s.replace(to_replace, value, regex=regex))

    def where(self, cond: "DataFrame | Series", other=None) -> "DataFrame":
        if callable(cond):
            cond = cond(self)
        if callable(other):
            other = other(self)
        src, other_cols = self, None
        if isinstance(other, (DataFrame, pd.DataFrame)):
            # a frame ``other`` is aligned onto this frame's rows and columns
            # first; its columns ride hidden beside this frame's
            from modin_spark.pandas.io import from_pandas

            of = (other if isinstance(other, DataFrame) else from_pandas(other))._frame
            both = qc.align_frames(self._frame, of, "left")
            n = len(self._frame.columns)
            other_cols = {}
            for lbl, phys in zip(of.columns, both.data_cols[n:]):
                other_cols.setdefault(lbl, phys)
            src = self._copy_col_meta(DataFrame(_frame=both.select_positions(range(n))))

        def op(a, c):
            if other_cols is None:
                return a.where(c, other)
            phys = other_cols.get(a._name)
            return a.where(c, None if phys is None else Series(a._frame, F.col(phys), {phys}))

        return src._binary(op, cond, axis="index", how="left")

    def mask(self, cond: "DataFrame | Series", other=None) -> "DataFrame":
        if callable(cond):
            cond = cond(self)
        return self.where(~cond, other)

    def clip(self, lower=None, upper=None, axis=None) -> "DataFrame":
        # scalar bounds in one projection; a Series or frame bound is aligned
        # like a binary operand (a missing bound cell leaves the value as is)
        scalar = {k: v for k, v in (("lower", lower), ("upper", upper)) if v is not None and np.ndim(v) == 0}
        out = self._map(lambda s: s.clip(**scalar)) if scalar else self
        for k, v in (("lower", lower), ("upper", upper)):
            if v is not None and k not in scalar:
                out = out._binary(lambda a, b, k=k: a.clip(**{k: b}), v,
                                  axis="columns" if axis in (1, "columns") else "index", how="left")
        return out

    def abs(self) -> "DataFrame":
        return self._map(Series.abs)

    def round(self, decimals=0) -> "DataFrame":
        nat = _native.maybe(self, "round", decimals=decimals)
        if nat is not None:
            return nat
        if isinstance(decimals, (pd.Series, Series)):
            decimals = (decimals.to_pandas() if isinstance(decimals, Series) else decimals).to_dict()

        def rnd(s):
            d = decimals.get(s._name) if isinstance(decimals, dict) else decimals
            return s.round(int(d)) if d is not None and s.dtype.kind in "iuf" else s

        return self._map(rnd)

    # ----------------------------------------------------------------- rows
    def head(self, n: int = 5) -> "DataFrame":
        nat = _native.maybe(self, "head", n=n)
        if nat is not None:
            return nat
        return self._copy_col_meta(DataFrame(_frame=self._frame.head(n)))

    def tail(self, n: int = 5) -> "DataFrame":
        nat = _native.maybe(self, "tail", n=n)
        if nat is not None:
            return nat
        return self._copy_col_meta(DataFrame(_frame=self._frame.tail(n)))

    def limit(self, n: int) -> "DataFrame":
        return self.head(n)

    @staticmethod
    def _expand_chained_comparisons(expr: str) -> str:
        """Python chained comparisons (``1 < a <= 3``) are pandas-query
        legal but not SQL — expand to ``1 < a and a <= 3`` via the ast
        (only when the expression is pure-python parseable AND actually
        chains; backtick/@ syntax passes through untouched)."""
        import ast

        try:
            tree = ast.parse(expr, mode="eval")
        except SyntaxError:
            return expr
        if not any(isinstance(n, ast.Compare) and len(n.ops) > 1
                   for n in ast.walk(tree)):
            return expr

        class _Expand(ast.NodeTransformer):
            def visit_Compare(self, node):
                self.generic_visit(node)
                if len(node.ops) <= 1:
                    return node
                terms = [node.left] + node.comparators
                parts = [ast.Compare(left=terms[i], ops=[node.ops[i]],
                                     comparators=[terms[i + 1]])
                         for i in range(len(node.ops))]
                return ast.BoolOp(op=ast.And(), values=parts)

        new = ast.fix_missing_locations(_Expand().visit(tree))
        return ast.unparse(new)

    def _translate_query(self, expr: str, caller_depth: int,
                         local_dict=None, global_dict=None) -> str:
        """pandas query/eval expression -> Spark SQL: ``@var`` locals become
        literals (caller's frame, or the pandas ``local_dict``/``global_dict``
        overrides when given), backticked and bare labels map to physical
        columns (index level names and the bare ``index`` token too),
        ``in [a, b]`` list syntax becomes SQL IN, a small ``.str`` method set
        compiles to SQL functions, and ``~`` negates."""
        import re as _re
        import sys

        fr = self._frame
        translated = self._expand_chained_comparisons(expr)

        # 1. @local/global references -> SQL literals
        if "@" in translated:
            f = sys._getframe(caller_depth)
            scope = {
                **(f.f_globals if global_dict is None else global_dict),
                **(f.f_locals if local_dict is None else local_dict),
            }

            def lit_sql(v):
                if isinstance(v, str):
                    return "'" + v.replace("'", "''") + "'"
                if isinstance(v, bool):
                    return "true" if v else "false"
                if v is None:
                    return "NULL"
                if isinstance(v, pd.Timestamp):
                    return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
                if isinstance(v, (list, tuple, set, frozenset)):
                    return "(" + ", ".join(lit_sql(x) for x in v) + ")"
                return repr(v)

            def sub_at(m):
                name = m.group(1)
                if name not in scope:
                    raise NameError(f"name {name!r} is not defined (query @var)")
                return lit_sql(scope[name])

            translated = _re.sub(r"@([A-Za-z_]\w*)", sub_at, translated)

        # 2. backticked labels (pandas syntax for non-identifier names)
        label_map = {str(lbl): phys for lbl, phys in zip(fr.columns, fr.data_cols)}
        for iname, icol in zip(fr.index_names, fr.index_cols):
            if iname is not None:
                label_map.setdefault(str(iname), icol)
        translated = _re.sub(
            r"`([^`]+)`", lambda m: label_map.get(m.group(1), m.group(0)), translated
        )

        # 3. bare labels -> physical columns (longest first)
        for lbl, phys in sorted(label_map.items(), key=lambda t: -len(t[0])):
            translated = _re.sub(rf"(?<![\w`']){_re.escape(lbl)}(?![\w`'])", phys, translated)
        if fr.index_cols:
            translated = _re.sub(rf"(?<![\w`'])index(?![\w`'])", fr.index_cols[0], translated)

        # 4. python list syntax after `in`
        translated = _re.sub(r"\bin\s*\[([^\]]*)\]", r"in (\1)", translated)

        # 5. the .str method subset pandas query supports in practice
        translated = _re.sub(r"(\w+)\.str\.len\(\)", r"length(\1)", translated)
        translated = _re.sub(r"(\w+)\.str\.lower\(\)", r"lower(\1)", translated)
        translated = _re.sub(r"(\w+)\.str\.upper\(\)", r"upper(\1)", translated)
        translated = _re.sub(r"(\w+)\.str\.contains\(([^)]*)\)", r"(\1 RLIKE \2)", translated)
        translated = _re.sub(r"(\w+)\.str\.startswith\(([^)]*)\)", r"startswith(\1, \2)", translated)
        translated = _re.sub(r"(\w+)\.str\.endswith\(([^)]*)\)", r"endswith(\1, \2)", translated)

        # 6. pandas boolean negation
        translated = _re.sub(r"~\s*", " not ", translated)
        return translated

    def query(self, expr: str, inplace: bool = False, engine: str | None = None,
              **kwargs) -> "DataFrame | None":
        """pandas.query via Spark SQL — labels resolved to physical columns,
        pandas operators translated (Spark SQL already accepts and/or/==).
        ``engine=`` ('python'/'numexpr') is a pandas EXECUTION hint with no
        semantic effect — accepted for parity, the plan is Catalyst's.
        ``local_dict=``/``global_dict=`` replace the caller's scope for
        ``@var`` resolution, exactly like pandas. A DEFAULT-index frame's
        index (named via rename_axis, or the bare ``index`` token) resolves
        to the global row position — pandas' default labels — via one
        position column."""
        import re as _re

        fr = self._frame
        expr_t = expr
        if not fr.index_cols:
            data_lbls = {str(c) for c in fr.columns}
            toks = [t for t in ([str(n) for n in fr.index_names if n is not None]
                                + ["index"]) if t not in data_lbls]
            if toks:
                pat = (r"(?<![\w`'])(" + "|".join(_re.escape(t) for t in toks)
                       + r")(?![\w`'])")
                if _re.search(pat, expr_t) or any(f"`{t}`" in expr_t for t in toks):
                    fr = fr.ensure_order().with_global_position("__qpos__")
                    # the position IS the pandas default label: designate it
                    # as the result's index so the filtered rows keep their
                    # original labels (and the rename_axis name)
                    fr = fr._same_rows(fr.sdf, index_cols=["__qpos__"],
                                       index_names=[self._frame.index_names[0]
                                                    if self._frame.index_names else None])
                    expr_t = _re.sub(pat, "__qpos__", expr_t)
                    for t in toks:
                        expr_t = expr_t.replace(f"`{t}`", "__qpos__")
        translated = self._translate_query(
            expr_t, caller_depth=2,
            local_dict=kwargs.get("local_dict"), global_dict=kwargs.get("global_dict"))
        out = DataFrame(_frame=fr.filter(F.expr(translated)))
        return self._maybe_inplace(out, inplace)

    def eval(self, expr: str, inplace: bool = False) -> "DataFrame | Series | None":
        """pandas.eval — 'new = expression' adds a column; a bare expression
        returns a Series. Same label->physical translation as query; the
        expression itself runs as a Catalyst expression (F.expr).
        Multi-line expressions assign sequentially (pandas semantics: every
        line must be an assignment; later lines may reference earlier
        results) — each stays one projection, no materialization."""
        import re as _re

        assign = r"^\s*([A-Za-z_]\w*)\s*=(?!=)\s*(.+)$"
        lines = [ln for ln in expr.splitlines() if ln.strip()]
        if len(lines) > 1:
            out = self
            for ln in lines:
                m = _re.match(assign, ln)
                if not m:
                    raise ValueError(
                        "Multi-line expressions are only valid if all expressions contain an assignment"
                    )
                rhs = out._translate_query(m.group(2), caller_depth=2)
                out = DataFrame(_frame=out._frame.with_columns([m.group(1)], [F.expr(rhs)]))
            return self._maybe_inplace(out, inplace)
        fr = self._frame
        m = _re.match(assign, expr, _re.S)
        rhs = m.group(2) if m else expr
        rhs = self._translate_query(rhs, caller_depth=2)
        col = F.expr(rhs)
        if m:
            out = DataFrame(_frame=fr.with_columns([m.group(1)], [col]))
            return self._maybe_inplace(out, inplace)
        if inplace:
            raise ValueError("Cannot operate inplace if there is no assignment")
        return Series(fr, col, set(fr.data_cols), None)

    def sort_values(self, by, ascending=True, na_position="last", kind=None, ignore_index=False,
                    key=None, inplace=False) -> "DataFrame":
        if not inplace:
            nat = _native.maybe(self, "sort_values", by=by, ascending=ascending,
                                na_position=na_position, ignore_index=ignore_index, key=key)
            if nat is not None:
                return nat
        # kind is a pandas stable-sort selector — meaningless for a shuffle
        # sort (Spark's range sort is what it is); accepted for parity
        by = by if isinstance(by, list) else [by]
        asc = ascending if isinstance(ascending, list) else [ascending] * len(by)
        fr = self._frame
        if key is not None:
            # pandas key=: the callable maps each sort column (as a Series)
            # to the actual sort key — stays an expression, no extra pass
            exprs = [key(self._series_at(i))._expr for i in fr.positions_of(by)]
        else:
            exprs = [fr.scol(i) for i in fr.positions_of(by)]
        out = DataFrame(_frame=fr.sort_by(exprs, asc, na_position))
        return self._maybe_inplace(out, inplace)

    def sort_index(self, ascending=True, axis=0, level=None, sort_remaining: bool = True) -> "DataFrame":
        fr = self._frame
        if axis in (1, "columns"):
            # column reorder by label — pure projection, no data movement;
            # level= sorts by the given level(s) first (remaining levels
            # follow unless sort_remaining=False)
            if level is not None and isinstance(fr.columns, pd.MultiIndex):
                levels = level if isinstance(level, (list, tuple)) else [level]
                lpos = [fr.columns.names.index(l) if isinstance(l, str) else int(l)
                        for l in levels]
                rest = ([j for j in range(fr.columns.nlevels) if j not in set(lpos)]
                        if sort_remaining else [])

                def _key(i, _o=lpos + rest):
                    return tuple(fr.columns[i][j] for j in _o)
            else:
                def _key(i):
                    return fr.columns[i]
            order = sorted(range(len(fr.columns)), key=_key,
                           reverse=not ascending)
            cols = fr.columns[order] if hasattr(fr.columns, "__getitem__") else [fr.columns[i] for i in order]
            nf = fr._same_rows(fr.sdf, columns=pd.Index(cols) if not isinstance(fr.columns, pd.MultiIndex) else fr.columns[order],
                               data_cols=[fr.data_cols[i] for i in order])
            return DataFrame(_frame=nf)
        if not fr.index_cols and fr.labels_col is not None:
            # post-sort default-index frame: pandas sort_index restores LABEL
            # order — the stashed labels become ORDER again (exact labels,
            # order_is_position restored; one range shuffle like any sort)
            lc = fr.labels_col
            if lc in fr.sdf.columns:
                sdf = fr.sdf.withColumn(
                    ORDER_COL,
                    (F.col(lc) if ascending else -F.col(lc)).cast("long"))
                nf = fr._subset_rows(sdf, has_order=True)
                nf.order_epoch = ("sortidx", nf._lid)
                nf.order_is_position = bool(ascending)
                nf.labels_col = None if ascending else lc
                return DataFrame(_frame=nf)
        idx_cols = list(fr.index_cols or [ORDER_COL])
        if level is not None and fr.index_cols:
            levels = level if isinstance(level, (list, tuple)) else [level]
            pos = [self._level_pos(l) for l in levels]
            ordered = pos + ([i for i in range(len(idx_cols)) if i not in set(pos)]
                             if sort_remaining else [])
            keys = [F.col(fr.index_cols[i]) for i in ordered]
            if isinstance(ascending, (list, tuple)):
                asc = list(ascending)
                if len(asc) != len(pos):
                    raise ValueError(f"ascending has {len(asc)} entries for {len(pos)} levels")
                # pandas: a LIST applies to the given levels only; the
                # sort_remaining levels default ascending
                asc = asc + [True] * (len(keys) - len(asc))
            else:
                # a SCALAR broadcasts to the remaining levels too
                asc = [ascending] * len(keys)
            return DataFrame(_frame=fr.sort_by(keys, asc))
        keys = [F.col(c) for c in idx_cols]
        asc = list(ascending) if isinstance(ascending, (list, tuple)) else [ascending] * len(keys)
        if len(asc) != len(keys):
            raise ValueError(f"ascending has {len(asc)} entries for {len(keys)} index levels")
        return DataFrame(_frame=fr.sort_by(keys, asc))

    def _top_k(self, n: int, columns, largest: bool, keep: str) -> "DataFrame":
        cols = columns if isinstance(columns, list) else [columns]
        fr = self._frame
        exprs = [fr.scol(i) for i in fr.positions_of(cols)]
        asc = [not largest] * len(exprs)
        if keep == "all":
            # include ties with the n-th row: fetch the boundary key from the
            # TakeOrdered top-n (n scalars to the driver), then filter — the
            # data itself is never globally sorted or materialized
            top = DataFrame(_frame=fr.sort_by(exprs, asc).head(n))
            kpdf = top.to_pandas()[cols]
            if len(kpdf) < n:
                return top
            bound = kpdf.iloc[-1]
            cond = None
            prev_eq = None
            for c, e in zip(cols, exprs):
                better = (e > F.lit(bound[c])) if largest else (e < F.lit(bound[c]))
                this = better if prev_eq is None else (prev_eq & better)
                cond = this if cond is None else (cond | this)
                eq = e == F.lit(bound[c])
                prev_eq = eq if prev_eq is None else (prev_eq & eq)
            cond = cond | prev_eq  # strictly-better on some prefix, or ties the boundary
            # pandas orders the result by the key columns (ties keep frame order)
            kept = fr.filter(cond)
            kexprs = [kept.scol(i) for i in kept.positions_of(cols)]
            return DataFrame(_frame=kept.sort_by(kexprs, asc))
        if keep == "last":
            fr = fr.ensure_order()
            exprs = exprs + [F.col(ORDER_COL)]
            asc = asc + [False]
            return DataFrame(_frame=fr.sort_by(exprs, asc).head(n))
        # keep='first': orderBy+limit compiles to TakeOrderedAndProject
        return DataFrame(_frame=fr.sort_by(exprs, asc).head(n))

    def nlargest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        nat = _native.maybe(self, "nlargest", n=n, columns=columns, keep=keep)
        if nat is not None:
            return nat
        return self._top_k(n, columns, largest=True, keep=keep)

    def nsmallest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        nat = _native.maybe(self, "nsmallest", n=n, columns=columns, keep=keep)
        if nat is not None:
            return nat
        return self._top_k(n, columns, largest=False, keep=keep)

    def drop_duplicates(self, subset=None, keep="first", inplace=False, ignore_index=False) -> "DataFrame":
        if not inplace:
            nat = _native.maybe(self, "drop_duplicates", subset=subset, keep=keep,
                                ignore_index=ignore_index)
            if nat is not None:
                return nat
        pos = self._frame.positions_of(subset if isinstance(subset, list) else [subset]) if subset is not None else None
        out = DataFrame(_frame=qc.drop_duplicates(self._frame, pos, keep))
        if ignore_index and out._frame.index_cols:
            out = out.reset_index(drop=True)
        return self._maybe_inplace(out, inplace)

    def duplicated(self, subset=None, keep="first") -> Series:
        pos = self._frame.positions_of(subset if isinstance(subset, list) else [subset]) if subset is not None else None
        s = Series._from_frame(qc.duplicated(self._frame, pos, keep))
        s._name = None  # pandas: frame.duplicated() is unnamed
        return s

    # ---------------------------------------------------------------- index
    def set_index(self, keys, drop=True, append=False) -> "DataFrame":
        keys = keys if isinstance(keys, list) else [keys]
        arrayish = tuple(
            i for i, k in enumerate(keys)
            if isinstance(k, (pd.Index, pd.Series, np.ndarray, Series))
        )
        if arrayish:
            # pandas: array-like keys become index LEVELS by position — attach
            # each as a temp column (positional list assignment), set, rename
            if not drop and any(not isinstance(keys[i], (pd.Index, pd.Series, np.ndarray, Series))
                                for i in range(len(keys))):
                raise NotImplementedError("set_index(drop=False) with mixed array keys")
            _keep = object()  # label keys keep the name set_index gave them
            expanded = []  # (label to pass to set_index, level name or _keep)
            df2 = self.copy()
            for i, k in enumerate(keys):
                if isinstance(k, pd.MultiIndex):
                    for lv in range(k.nlevels):
                        t = f"__si_{i}_{lv}__"
                        df2[t] = list(k.get_level_values(lv))
                        expanded.append((t, k.names[lv]))
                elif i in arrayish:
                    t = f"__si_{i}__"
                    vals = k.to_pandas() if isinstance(k, Series) else k
                    df2[t] = list(np.asarray(vals))
                    expanded.append((t, getattr(k, "name", None)))
                else:
                    expanded.append((k, _keep))
            out = df2.set_index([lbl for lbl, _ in expanded], drop=True, append=append)
            ofr = out._frame
            names = list(ofr.index_names)
            off = len(names) - len(expanded)
            for j, (_, nm) in enumerate(expanded):
                if nm is not _keep:
                    names[off + j] = nm
            return DataFrame(_frame=ofr._same_rows(ofr.sdf, index_names=names))
        fr = self._frame
        if append and not fr.index_cols:
            # pandas: appending to a DEFAULT index keeps the positional
            # labels as level 0 (free via order_is_position, blocked global
            # position otherwise)
            from modin_spark.core.frame import fresh_names as _fn

            lc = _fn(1)[0]
            base = fr.with_pandas_labels(lc)
            fr = base._same_rows(base.sdf, index_cols=[lc], index_names=[None])
        if append and fr.index_cols:
            # keep the existing index levels, add the new keys after them
            positions = fr.positions_of(keys)
            idx_phys = [fr.data_cols[i] for i in positions]
            names = [fr.columns[i] for i in positions]
            keep_pos = ([i for i in range(len(fr.columns)) if i not in set(positions)]
                        if drop else list(range(len(fr.columns))))
            nf = fr._same_rows(
                fr.sdf,
                columns=pd.Index([fr.columns[i] for i in keep_pos]),
                data_cols=[fr.data_cols[i] for i in keep_pos],
                index_cols=list(fr.index_cols) + idx_phys,
                index_names=list(fr.index_names) + names,
            )
            return DataFrame(_frame=nf)
        return DataFrame(_frame=fr.set_index_from_columns(keys, drop))

    def reset_index(self, level=None, drop=False, names=None) -> "DataFrame":
        # pandas positional order: reset_index(level, drop); a positional
        # bool first arg is the old (drop-first) call shape — honor it
        if isinstance(level, bool):
            level, drop = None, level
        nat = _native.maybe(self, "reset_index", drop=drop, level=level, names=names)
        if nat is not None:
            return nat
        fr = self._frame
        if level is not None and fr.index_cols:
            levels = level if isinstance(level, (list, tuple)) else [level]
            pos = [self._level_pos(l) for l in levels]
            keep = [i for i in range(len(fr.index_cols)) if i not in set(pos)]
            moved_labels = [
                fr.index_names[i] if fr.index_names[i] is not None else f"level_{i}"
                for i in pos
            ]
            if names is not None and not drop:
                given = [names] if isinstance(names, str) else list(names)
                if len(given) != len(moved_labels):
                    raise ValueError(
                        f"names has {len(given)} entries for {len(moved_labels)} moved levels"
                    )
                moved_labels = given
            nf = fr._same_rows(
                fr.sdf,
                columns=pd.Index(
                    (moved_labels if not drop else []) + list(fr.columns),
                    name=fr.columns.name if not isinstance(fr.columns, pd.MultiIndex) else None,
                ),
                data_cols=([fr.index_cols[i] for i in pos] if not drop else []) + list(fr.data_cols),
                index_cols=[fr.index_cols[i] for i in keep],
                index_names=[fr.index_names[i] for i in keep] or [None],
            )
            return DataFrame(_frame=nf)
        out = DataFrame(_frame=fr.reset_index(drop))
        if names is not None and not drop and fr.index_cols:
            given = [names] if isinstance(names, str) else list(names)
            nlev = len(fr.index_cols)
            if len(given) != nlev:
                raise ValueError(f"names has {len(given)} entries for {nlev} index levels")
            ofr = out._frame
            cols = list(ofr.columns)
            cols[:nlev] = given
            out = DataFrame(_frame=ofr._same_rows(
                ofr.sdf,
                columns=pd.Index(cols, tupleize_cols=False, name=ofr.columns.name
                                 if not isinstance(ofr.columns, pd.MultiIndex) else None),
                data_cols=list(ofr.data_cols),
            ))
        return out

    # ------------------------------------------------------------- groupby
    def groupby(self, by=None, level=None, as_index: bool = True, dropna: bool = True, sort: bool = True,
                group_keys: bool = True, observed: bool = False):
        from modin_spark.pandas.groupby import DataFrameGroupBy

        # pd.Grouper keys: a freq-Grouper becomes a derived time-bucket
        # column (same F.window binning as resample — one hash-agg shuffle,
        # streaming-compatible); a plain Grouper is just its key/level.
        groupers = [g for g in (by if isinstance(by, (list, tuple)) else [by]) if isinstance(g, pd.Grouper)]
        if groupers:
            from modin_spark.pandas.resample import rule_to_duration

            target = self
            keys = []
            for g in (by if isinstance(by, (list, tuple)) else [by]):
                if not isinstance(g, pd.Grouper):
                    keys.append(g)
                    continue
                if g.key is None:
                    if g.freq is None and g.level is not None:
                        if len(by) == 1 if isinstance(by, (list, tuple)) else True:
                            return self.groupby(level=g.level, as_index=as_index,
                                                dropna=dropna, sort=sort)
                        # mixed Grouper(level=) + column keys: surface the
                        # level as a key column (metadata-only projection)
                        fr0 = target._frame
                        lv = (g.level if isinstance(g.level, int)
                              else list(fr0.index_names).index(g.level))
                        lbl = (fr0.index_names[lv] if fr0.index_names[lv] is not None
                               else f"level_{lv}")
                        nf = fr0._same_rows(
                            fr0.sdf,
                            columns=pd.Index(list(fr0.columns) + [lbl]),
                            data_cols=list(fr0.data_cols) + [fr0.index_cols[lv]])
                        target = DataFrame(_frame=nf)
                        keys.append(lbl)
                        continue
                    raise NotImplementedError("Grouper(freq=...) requires key= here")
                if g.freq is None:
                    keys.append(g.key)
                    continue
                fr = target._frame
                phys = fr.data_cols[fr.positions_of([g.key])[0]]
                bucket = F.window(F.col(phys), rule_to_duration(str(g.freq.freqstr if hasattr(g.freq, "freqstr") else g.freq)))["start"]
                target = DataFrame(_frame=fr.with_columns([g.key], [bucket]))
                keys.append(g.key)
            return DataFrameGroupBy(target, keys if isinstance(by, (list, tuple)) else keys[0],
                                    as_index=as_index, dropna=dropna, sort=sort,
                                    group_keys=group_keys)
        if by is None:
            if level is None:
                raise TypeError("groupby requires by or level")
            # group on index level(s): surface the level columns, group by
            # their labels (reference qc groupby takes the index as a frame)
            fr = self._frame
            levels = level if isinstance(level, (list, tuple)) else [level]
            labels = []
            for lv in levels:
                i = lv if isinstance(lv, int) else list(fr.index_names).index(lv)
                n = fr.index_names[i]
                labels.append(n if n is not None else ("index" if len(fr.index_cols) == 1 else f"level_{i}"))
            rfr = fr.reset_index(drop=False)
            # pandas drops NON-grouped index levels from the aggregation
            # surface (groupby(level=0).sum() of a (k,k2) index never sums
            # k2) — keep only the grouped level columns + the original data
            # columns (positional: label equality would mangle MultiIndex
            # or duplicate data labels)
            n_surfaced = len(rfr.data_cols) - len(fr.data_cols)
            keep = [i for i in range(n_surfaced) if rfr.columns[i] in set(labels)]
            keep += list(range(n_surfaced, len(rfr.data_cols)))
            reset = DataFrame(_frame=rfr.select_positions(keep))
            g = DataFrameGroupBy(reset, labels, as_index=as_index, dropna=dropna, sort=sort,
                                 group_keys=group_keys)
            # UNNAMED levels surfaced as 'index'/'level_i' placeholders:
            # results map those index names back to None (pandas keeps None)
            name_map = {lbl: None for lbl, lv in zip(labels, levels)
                        if fr.index_names[lv if isinstance(lv, int) else
                                          list(fr.index_names).index(lv)] is None}
            if name_map:
                from modin_spark.pandas.groupby import _GroupByResultProxy

                return _GroupByResultProxy(g, name_map)
            return g
        return DataFrameGroupBy(self, by, as_index=as_index, dropna=dropna, sort=sort, group_keys=group_keys,
                                observed=observed)

    def _validate_merge(self, right, validate, on, left_on, right_on, left_index, right_index):
        """pandas merge(validate=): check key uniqueness per side. Two tiny
        count/count-distinct aggregates (one per checked side) — the keys
        shuffle as partial aggregates, the data never moves. Eager like
        pandas (the check IS the point of the call)."""
        lk = on if on is not None else left_on
        rk = on if on is not None else right_on
        lk = [lk] if isinstance(lk, str) else (list(lk) if lk is not None else None)
        rk = [rk] if isinstance(rk, str) else (list(rk) if rk is not None else None)

        def dup_side(df, keys, use_index):
            fr = df._frame
            if use_index:
                cols = list(fr.index_cols)
                sdf = fr.ensure_order().sdf
            else:
                cols = [fr.data_cols[i] for i in fr.positions_of(keys)]
                sdf = fr.sdf
            r = sdf.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(*[F.col(c) for c in cols]).alias("d"),
            ).collect()[0]
            return r["n"] != r["d"]

        mode = {"1:1": "one_to_one", "1:m": "one_to_many", "m:1": "many_to_one", "m:m": "many_to_many"}.get(validate, validate)
        if mode == "many_to_many":
            return
        if mode not in ("one_to_one", "one_to_many", "many_to_one"):
            raise ValueError(f'Not a valid argument for validate: "{validate}"')
        check_left = mode in ("one_to_one", "one_to_many")
        check_right = mode in ("one_to_one", "many_to_one")
        err = pd.errors.MergeError
        if check_left and dup_side(self, lk, left_index):
            raise err("Merge keys are not unique in left dataset; not a one-to-" + ("one" if mode == "one_to_one" else "many") + " merge")
        if check_right and dup_side(right, rk, right_index):
            raise err("Merge keys are not unique in right dataset; not a " + ("one-to-one" if mode == "one_to_one" else "many-to-one") + " merge")

    def cube(self, by: list, aggs: dict) -> "DataFrame":
        """Spark-native CUBE (absent in the reference — SURVEY §2.4 extension).

        aggs: {out_label: (col_label, agg_name)}. Subtotal rows carry NULL keys.
        """
        return self._multidim_agg(by, aggs, "cube")

    def rollup(self, by: list, aggs: dict) -> "DataFrame":
        return self._multidim_agg(by, aggs, "rollup")

    def _multidim_agg(self, by: list, aggs: dict, kind: str) -> "DataFrame":
        fr = self._frame
        key_phys = [fr.data_cols[i] for i in fr.positions_of(by)]
        from modin_spark.core.frame import fresh_names

        out_phys = fresh_names(len(aggs))
        exprs = []
        for (out_lbl, (col, fn)), p in zip(aggs.items(), out_phys):
            c = F.col(fr.data_cols[fr.positions_of([col])[0]])
            exprs.append(qc.agg_expr(fn, c).alias(p))
        grouped = fr.sdf.cube(*key_phys) if kind == "cube" else fr.sdf.rollup(*key_phys)
        agged = grouped.agg(*exprs)
        labels = list(by) + list(aggs.keys())
        out = SparkFrame(agged, pd.Index(labels), key_phys + out_phys, has_order=False)
        return DataFrame(_frame=out)

    # ---------------------------------------------------------------- joins
    def merge(
        self,
        right: "DataFrame",
        how="inner",
        on=None,
        left_on=None,
        right_on=None,
        left_index=False,
        right_index=False,
        suffixes=("_x", "_y"),
        sort=False,
        broadcast: bool | None = None,
        indicator: bool | str = False,
        validate: str | None = None,
        copy: bool = True,
    ) -> "DataFrame":
        if isinstance(right, Series):
            # pandas: a NAMED Series merges as a 1-column frame
            if right._name is None:
                raise ValueError("Cannot merge a Series without a name")
            right = right.to_frame()
        if broadcast is None:  # engine-only kwarg blocks the native path
            nat = _native.maybe(self, "merge", right, how=how, on=on,
                                left_on=left_on, right_on=right_on,
                                left_index=left_index, right_index=right_index,
                                suffixes=suffixes, sort=sort,
                                indicator=indicator, validate=validate)
            if nat is not None:
                return nat
        if validate is not None:
            self._validate_merge(right, validate, on, left_on, right_on, left_index, right_index)
        lf, rf = self._frame, right._frame
        if how == "cross":
            # cartesian product (reference passes merge(how="cross") through
            # to the pandas kernel; here a native crossJoin)
            r_orig = list(rf.data_cols)
            from modin_spark.core.frame import fresh_names as _fn

            r_map = dict(zip(r_orig, _fn(len(r_orig))))
            lsdf = lf.ensure_order().sdf.withColumnRenamed(ORDER_COL, "__lo__")
            rsdf = rf.ensure_order().sdf.select(
                F.col(ORDER_COL).alias("__ro__"), *[F.col(p).alias(r_map[p]) for p in r_orig]
            )
            joined = lsdf.crossJoin(rsdf).withColumn(
                ORDER_COL, F.struct(F.col("__lo__").alias("l"), F.col("__ro__").alias("r"))
            ).drop("__lo__", "__ro__")
            out_labels, out_phys = [], []
            rset = set(rf.columns)
            for lbl, p in zip(lf.columns, lf.data_cols):
                out_labels.append(f"{lbl}{suffixes[0]}" if lbl in rset else lbl)
                out_phys.append(p)
            lset = set(lf.columns)
            for lbl, p in zip(rf.columns, rf.data_cols):
                out_labels.append(f"{lbl}{suffixes[1]}" if lbl in lset else lbl)
                out_phys.append(r_map[p])
            return DataFrame(_frame=SparkFrame(joined, pd.Index(out_labels), out_phys, [], [None]))
        if on is not None:
            on = on if isinstance(on, list) else [on]
            left_on, right_on = on, on
        lpos = rpos = None
        if left_on is not None and not left_index:
            left_on = left_on if isinstance(left_on, list) else [left_on]
            lpos = lf.positions_of(left_on)
        if right_on is not None and not right_index:
            right_on = right_on if isinstance(right_on, list) else [right_on]
            rpos = rf.positions_of(right_on)
        out = qc.merge(
            lf,
            rf,
            how=how,
            left_on=lpos,
            right_on=rpos,
            left_index=left_index,
            right_index=right_index,
            suffixes=suffixes,
            broadcast_right=broadcast,
            sort=sort,
            indicator=indicator,
        )
        res = DataFrame(_frame=out)
        if indicator:
            # pandas types the indicator column as a Categorical
            ind_name = "_merge" if indicator is True else str(indicator)
            res._to_pandas_ext_dtypes = {
                ind_name: pd.CategoricalDtype(["left_only", "right_only", "both"])}
        return res

    def join(self, other: "DataFrame", on=None, how="left", lsuffix="", rsuffix="") -> "DataFrame":
        if isinstance(other, (list, tuple)):
            # pandas: join a LIST of frames — sequential index joins
            out = self
            for o in other:
                out = out.join(o, on=on, how=how, lsuffix=lsuffix, rsuffix=rsuffix)
            return out
        if isinstance(other, Series):
            other = other.to_frame()
        # pandas join suffix rules: overlap with NO suffix raises; a given
        # suffix applies ONLY to its own side (the other keeps its name)
        overlap = [c for c in self.columns if c in set(other.columns)]
        if overlap and not lsuffix and not rsuffix:
            raise ValueError(
                f"columns overlap but no suffix specified: {overlap}")
        sfx = (lsuffix, rsuffix)
        if on is not None:
            # pandas: join self's COLUMN(S) against other's index
            return self.merge(other, how=how, left_on=on, right_index=True,
                              suffixes=sfx)
        return self.merge(other, how=how, left_index=True, right_index=True, suffixes=sfx)

    # ------------------------------------------------------------ reductions
    def _reduce_frame(self, name: str, numeric_only: bool = True, **kw) -> pd.Series:
        return self._reduce_names([name], numeric_only, **kw)[0]

    def _reduce_names(self, names, numeric_only: bool = True, **kw) -> list[pd.Series]:
        """One Series per reduction name over the (numeric) columns, every
        (name, column) pair in one aggregate pass."""
        fr = self._frame
        positions = self._numeric_positions() if numeric_only else list(range(len(fr.columns)))
        if not positions:
            return [pd.Series(dtype="float64") for _ in names]
        vals = iter(self._reduce_cells([(i, name, kw) for name in names for i in positions]))
        idx = self._label_index(positions)
        return [pd.Series([next(vals) for _ in positions], index=idx) for _ in names]

    def _reduce_cells(self, cells) -> list:
        """``(position, name, kw)`` whole-column reductions in one pass."""
        fr = self._frame
        return qc.reduce_columns(fr.sdf, [(fr.scol(i), name, fr.spark_type_of(i), kw)
                                          for i, name, kw in cells])

    def _label_index(self, positions) -> pd.Index:
        fr = self._frame
        labels = [fr.columns[i] for i in positions]
        if isinstance(fr.columns, pd.MultiIndex):
            return pd.MultiIndex.from_tuples(labels, names=fr.columns.names)
        return pd.Index(labels, name=fr.columns.name)

    def sum(self, numeric_only=True, axis=0, min_count=0, skipna=True, **kw):
        if axis in (1, "columns"):
            return self._row_wise("sum", skipna=skipna)
        return self._reduce_frame("sum", numeric_only, min_count=min_count)

    def mean(self, numeric_only=True, axis=0, skipna=True, **kw):
        if axis in (1, "columns"):
            return self._row_wise("mean", skipna=skipna)
        return self._reduce_frame("mean", numeric_only)

    def min(self, numeric_only=False, axis=0, **kw):
        if axis in (1, "columns"):
            return self._row_wise("min")
        return self._reduce_frame("min", numeric_only)

    def max(self, numeric_only=False, axis=0, **kw):
        if axis in (1, "columns"):
            return self._row_wise("max")
        return self._reduce_frame("max", numeric_only)

    def count(self, numeric_only=False, axis=0) -> pd.Series:
        if axis in (1, "columns"):
            fr = self._frame
            e = sum((F.when(fr.scol(i).isNotNull(), 1).otherwise(0)
                     for i in range(len(fr.columns))), F.lit(0))
            return Series(fr, e.cast("long"), set(fr.data_cols), None)
        return self._reduce_frame("count", numeric_only)

    def std(self, numeric_only=True, ddof=1, axis=0):
        if axis in (1, "columns"):
            return self._row_wise("std", ddof=ddof)
        return self._reduce_frame("std", numeric_only, ddof=ddof)

    def var(self, numeric_only=True, ddof=1, axis=0):
        if axis in (1, "columns"):
            return self._row_wise("var", ddof=ddof)
        return self._reduce_frame("var", numeric_only, ddof=ddof)

    def median(self, numeric_only=True, axis=0):
        if axis in (1, "columns"):
            return self._row_wise("median")
        return self._reduce_frame("median", numeric_only)

    def nunique(self, axis=0, dropna=True) -> "pd.Series | Series":
        if axis in (1, "columns"):
            # row-wise distinct count: one array expression, no shuffle
            fr = self._frame
            # numeric columns compare as numbers (pandas: 1 == 1.0 across an
            # int and a float column) — normalize through double before the
            # string array; non-numerics stay strings
            cols = []
            for i in range(len(fr.columns)):
                c = fr.scol(i)
                if fr.dtype_of(i).startswith(("int", "float", "bool")):
                    c = c.cast("double")
                cols.append(c.cast("string"))
            arr = F.array(*cols)
            if dropna:
                arr = F.filter(arr, lambda x: x.isNotNull())
                e = F.size(F.array_distinct(arr)).cast("long")
            else:
                # pandas object rows hold float-NaN for numeric/datetime
                # columns and None for object columns — DISTINCT missing
                # values. Count distinct non-nulls + one per missing KIND
                # present in the row.
                nonnull = F.size(F.array_distinct(F.filter(arr, lambda x: x.isNotNull())))
                nan_pos = [i for i in range(len(fr.columns))
                           if fr.dtype_of(i).startswith(("int", "float", "bool", "datetime"))]
                none_pos = [i for i in range(len(fr.columns)) if i not in set(nan_pos)]

                def any_null(positions):
                    if not positions:
                        return F.lit(0)
                    terms = [F.when(fr.scol(i).isNull(), 1).otherwise(0) for i in positions]
                    return terms[0] if len(terms) == 1 else F.greatest(*terms)

                e = (nonnull + any_null(nan_pos) + any_null(none_pos)).cast("long")
            return Series(fr, e, set(fr.data_cols), None)
        return self._reduce_frame("nunique", numeric_only=False, skipna=dropna)

    def prod(self, numeric_only=True, min_count=0, axis=0):
        if axis in (1, "columns"):
            return self._row_wise("prod")
        return self._reduce_frame("prod", numeric_only, min_count=min_count)

    product = prod

    def sem(self, numeric_only=True, ddof=1):
        return self._reduce_frame("sem", numeric_only, ddof=ddof)

    def skew(self, numeric_only=True, axis=0):
        if axis in (1, "columns"):
            return self._row_wise("skew")
        return self._reduce_frame("skew", numeric_only)

    def kurt(self, numeric_only=True):
        return self._reduce_frame("kurt", numeric_only)

    kurtosis = kurt

    def _bool_only(self) -> "DataFrame":
        fr = self._frame
        keep = [fr.columns[i] for i in range(len(fr.columns))
                if fr.dtype_of(i).startswith("bool")]
        return self[keep]

    def any(self, axis=0, bool_only=False, **kw) -> pd.Series:
        if bool_only:
            return self._bool_only().any(axis=axis)
        if axis in (1, "columns"):
            fr = self._frame
            e = F.lit(False)
            for i in range(len(fr.columns)):
                e = e | F.coalesce(fr.scol(i).cast("boolean"), F.lit(False))
            return Series(fr, e, set(fr.data_cols), None)
        return self._reduce_frame("any", numeric_only=False)

    def all(self, axis=0, bool_only=False, **kw) -> pd.Series:
        if bool_only:
            return self._bool_only().all(axis=axis)
        if axis in (1, "columns"):
            fr = self._frame
            e = F.lit(True)
            for i in range(len(fr.columns)):
                e = e & F.coalesce(fr.scol(i).cast("boolean"), F.lit(True))
            return Series(fr, e, set(fr.data_cols), None)
        return self._reduce_frame("all", numeric_only=False)

    def _mode_axis1(self) -> "DataFrame":
        """mode(axis=1): per-row tied modal values, sorted, NaN-padded to the
        global max mode count — one array expression per row plus a 1-row agg
        for the output width (driver metadata); no shuffle."""
        fr = self._frame
        positions = self._numeric_positions()
        vals = F.array_compact(F.array(*[fr.scol(i).cast("double") for i in positions]))
        cnt = lambda d: F.size(F.filter(vals, lambda x: x == d))  # noqa: E731
        maxc = F.array_max(F.transform(F.array_distinct(vals), cnt))
        modes = F.array_sort(F.filter(F.array_distinct(vals), lambda d: cnt(d) == maxc))
        tmp = DataFrame(_frame=fr.project(["__m__"], [modes]))
        width = int(tmp._frame.sdf.agg(F.max(F.size(F.col(tmp._frame.data_cols[0])))).collect()[0][0] or 1)
        mfr = tmp._frame
        mcol = mfr.scol(0)
        out = mfr.project(list(range(width)), [F.element_at(mcol, i + 1) for i in range(width)])
        return DataFrame(_frame=out)

    def mode(self, numeric_only=False, axis=0, dropna: bool = True) -> pd.DataFrame:
        """Per-column modal values — one unpivot + count + rank pass (single
        job for all columns, not one job per column). ``dropna=False`` lets
        NULL compete as a value (pandas)."""
        if axis in (1, "columns"):
            return self._mode_axis1()
        fr = self._frame
        positions = self._numeric_positions() if numeric_only else list(range(len(fr.columns)))
        from pyspark.sql.window import Window as W

        melted = fr.sdf.unpivot(
            [], [fr.data_cols[i] for i in positions], "__var__", "__val__"
        ) if len({str(fr.spark_type_of(i)) for i in positions}) == 1 and dropna else None
        cols = {}
        if not dropna:
            for i in positions:
                cnt = fr.sdf.groupBy(fr.scol(i).alias("v")).count()
                mx = cnt.agg(F.max("count").alias("m")).collect()[0]["m"]
                r = cnt.where(F.col("count") == mx).orderBy(F.col("v").asc_nulls_last()).collect()
                cols[fr.columns[i]] = [x["v"] for x in r]
            melted = None
        if melted is not None:
            counts = melted.where(F.col("__val__").isNotNull()).groupBy("__var__", "__val__").count()
            # rank (not row_number): pandas returns ALL tied modal values
            w = W.partitionBy("__var__").orderBy(F.col("count").desc())
            top = (counts.withColumn("__rk__", F.rank().over(w))
                   .where(F.col("__rk__") == 1).orderBy("__val__").collect())
            by_var: dict = {}
            for r in top:
                by_var.setdefault(r["__var__"], []).append(r["__val__"])
            for i in positions:
                cols[fr.columns[i]] = sorted(by_var.get(fr.data_cols[i], [None]))
        elif not cols:
            for i in positions:
                cnt = fr.sdf.where(fr.scol(i).isNotNull()).groupBy(fr.scol(i).alias("v")).count()
                mx = cnt.agg(F.max("count").alias("m")).collect()[0]["m"]
                if mx is None:
                    cols[fr.columns[i]] = [None]
                    continue
                r = cnt.where(F.col("count") == mx).orderBy("v").collect()
                cols[fr.columns[i]] = [x["v"] for x in r]
        height = max(len(v) for v in cols.values())
        # engine frame out (reference parity: mode returns a Modin frame,
        # not raw pandas) — the modal table is k rows, driver-built by
        # construction, and re-enters the lazy-ingest path
        from modin_spark.pandas.io import from_pandas

        return from_pandas(
            pd.DataFrame({k: v + [float("nan")] * (height - len(v)) for k, v in cols.items()})
        )

    def quantile(self, q=0.5, numeric_only=True, axis=0, interpolation="linear"):
        nat = _native.maybe(self, "quantile", q=q, numeric_only=numeric_only,
                            axis=axis, interpolation=interpolation, _raw=True)
        if nat is not None:
            return nat
        if axis in (1, "columns"):
            return self._row_wise("quantile", q=q)
        fr = self._frame
        positions = self._numeric_positions() if numeric_only else list(range(len(fr.columns)))
        if not positions:
            return pd.Series(dtype="float64")
        qs = list(q) if isinstance(q, (list, tuple)) else [q]
        if interpolation in (None, "linear"):
            # one percentile buffer per column answers every q
            cols = self._reduce_cells([(i, "quantile", {"q": qs}) for i in positions])
        else:
            cols = qc.order_quantiles(fr.sdf, [(fr.scol(i), fr.spark_type_of(i)) for i in positions],
                                      qs, interpolation)
        idx = self._label_index(positions)
        if isinstance(q, (list, tuple)):
            return pd.DataFrame(dict(enumerate(cols)), index=qs).set_axis(idx, axis=1)
        return pd.Series([c[0] for c in cols], index=idx, name=q)

    def _row_wise(self, op: str, q: float | None = None, ddof: int = 1,
                  skipna: bool = True) -> Series:
        """Row-axis reductions as pure array expressions — projections in
        whole-stage codegen, no shuffle (k = #columns is plan-time small).
        ``skipna=False``: any missing cell poisons the row's result."""
        fr = self._frame
        positions = self._numeric_positions()
        cols = [fr.scol(i) for i in positions]
        if op == "prod":
            vals = F.array_compact(F.array(*[c.cast("double") for c in cols]))
            e = F.aggregate(vals, F.lit(1.0), lambda a, x: a * x)
        elif op == "sum":
            e = sum((F.coalesce(c, F.lit(0)) for c in cols), F.lit(0))
        elif op == "min":
            e = F.least(*cols) if len(cols) > 1 else cols[0]
        elif op == "max":
            e = F.greatest(*cols) if len(cols) > 1 else cols[0]
        elif op == "mean":
            total = sum((F.coalesce(c, F.lit(0)) for c in cols), F.lit(0))
            nonnull = sum((F.when(c.isNotNull(), 1).otherwise(0) for c in cols), F.lit(0))
            e = total / nonnull
        elif op in ("std", "var"):
            vals = F.array_compact(F.array(*[c.cast("double") for c in cols]))
            n = F.size(vals).cast("double")
            sx = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
            sx2 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x * x)
            var = (sx2 - sx * sx / n) / (n - ddof)
            var = F.when(n > ddof, var)
            e = F.sqrt(var) if op == "std" else var
        elif op == "skew":
            # pandas G1 = [sqrt(n(n-1))/(n-2)] * m3/m2^1.5 (population moments)
            vals = F.array_compact(F.array(*[c.cast("double") for c in cols]))
            n = F.size(vals).cast("double")
            sx = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
            mu = sx / n
            m2 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + (x - mu) * (x - mu)) / n
            m3 = F.aggregate(vals, F.lit(0.0), lambda a, x: a + (x - mu) * (x - mu) * (x - mu)) / n
            g1 = m3 / F.pow(m2, 1.5)
            e = F.when(n > 2, qc.skew_from_g1(g1, n))
        elif op in ("median", "quantile"):
            qq = 0.5 if q is None else float(q)
            vals = F.array_sort(F.array_compact(F.array(*[c.cast("double") for c in cols])))
            n = F.size(vals)
            pos = (n.cast("double") - 1) * qq
            lo = F.floor(pos).cast("int")
            frac = pos - lo.cast("double")
            vlo = F.element_at(vals, lo + 1)
            vhi = F.element_at(vals, F.least(lo + 2, n))
            e = F.when(n > 0, vlo + (vhi - vlo) * frac)
        else:
            raise NotImplementedError(op)
        if not skipna:
            has_null = None
            for c in cols:
                t = c.isNull()
                has_null = t if has_null is None else (has_null | t)
            e = F.when(~F.coalesce(has_null, F.lit(False)), e)
        return Series(fr, e, {fr.data_cols[i] for i in positions}, None)

    def _row_rank(self, method: str = "average", ascending: bool = True,
                  pct: bool = False) -> "DataFrame":
        """rank(axis=1): O(k^2) comparison expressions per row — still one
        projection, no shuffle.  pct= divides by the per-row non-null count."""
        fr = self._frame
        positions = self._numeric_positions()
        cols = [fr.scol(i).cast("double") for i in positions]
        nn = sum((F.when(c.isNotNull(), 1).otherwise(0) for c in cols), F.lit(0))
        out_exprs, out_labels = [], []
        for i, ci in enumerate(cols):
            less = sum(
                (F.when((cj < ci) if ascending else (cj > ci), 1).otherwise(0)
                 for j, cj in enumerate(cols)), F.lit(0))
            eq = sum((F.when(cj == ci, 1).otherwise(0) for cj in cols), F.lit(0))
            if method == "average":
                r = (less.cast("double") * 2 + eq.cast("double") + 1) / 2
            elif method == "min":
                r = (less + 1).cast("double")
            elif method == "max":
                r = (less + eq).cast("double")
            else:
                raise NotImplementedError(f"rank(axis=1) method {method!r}")
            if pct:
                r = r / nn.cast("double")
            out_exprs.append(F.when(ci.isNotNull(), r))
            out_labels.append(fr.columns[positions[i]])
        return DataFrame(_frame=fr.project(out_labels, out_exprs))

    def _row_cum(self, op: str) -> "DataFrame":
        """cum*(axis=1): a running expression across columns (pandas skipna:
        a NaN cell stays NaN but does not reset the accumulator)."""
        fr = self._frame
        positions = self._numeric_positions()
        cols = [fr.scol(i).cast("double") for i in positions]
        acc = None
        exprs = []
        for c in cols:
            if op == "cumsum":
                acc = F.coalesce(c, F.lit(0.0)) if acc is None else acc + F.coalesce(c, F.lit(0.0))
            elif op == "cumprod":
                acc = F.coalesce(c, F.lit(1.0)) if acc is None else acc * F.coalesce(c, F.lit(1.0))
            elif op == "cummax":
                acc = c if acc is None else F.greatest(acc, c)
            elif op == "cummin":
                acc = c if acc is None else F.least(acc, c)
            else:
                raise NotImplementedError(op)
            exprs.append(F.when(c.isNotNull(), acc))
        return DataFrame(_frame=fr.project([fr.columns[i] for i in positions], exprs))

    def agg(self, func=None, axis=0, **kwargs) -> Any:
        """df.agg("sum") / df.agg(["sum","mean"]) / df.agg({col: [fns]}) /
        df.agg(out=("col", "fn")) named tuples;
        axis=1 routes string specs to the row-wise expression reductions."""
        fr = self._frame
        if func is None and kwargs:
            # named-agg tuples: out_label=(column, fn) -> frame indexed by
            # the out labels, one cell per referenced column (pandas shape)
            cells = list(kwargs.values())
            vals = self._reduce_cells([(fr.positions_of([col])[0], fn, {}) for col, fn in cells])
            data = {c: [v if cc == c else np.nan for (cc, _), v in zip(cells, vals)]
                    for c in dict.fromkeys(col for col, _ in cells)}
            return pd.DataFrame(data, index=list(kwargs))
        if axis in (1, "columns"):
            if isinstance(func, str):
                return self._row_wise(func)
            raise NotImplementedError("agg(axis=1) takes a single function name")
        if isinstance(func, str):
            return self._reduce_frame(func)
        if isinstance(func, dict):
            pairs = [(lbl, fn) for lbl, fns in func.items()
                     for fn in (fns if isinstance(fns, list) else [fns])]
            vals = self._reduce_cells([(fr.positions_of([lbl])[0], fn, {}) for lbl, fn in pairs])
            if not any(isinstance(v, list) for v in func.values()):
                # all-scalar dict: pandas returns a Series
                return pd.Series({lbl: v for (lbl, _), v in zip(pairs, vals)})
            out = {}
            for (lbl, fn), v in zip(pairs, vals):
                out.setdefault(fn, {})[lbl] = v
            return pd.DataFrame(out).T
        if isinstance(func, list):
            return pd.DataFrame(dict(zip(func, self._reduce_names(func)))).T
        raise NotImplementedError("agg func")

    aggregate = agg

    def describe(self, include=None, exclude=None, percentiles=None) -> pd.DataFrame:
        """pandas describe: numeric and datetime stats by default; all-object
        frames (or include='all'/'object') get count/unique/top/freq. One
        aggregate pass for every column, plus one top-1 group count per
        object column."""
        nat = _native.maybe(self, "describe", include=include, exclude=exclude,
                            percentiles=percentiles, _raw=True)
        if nat is not None:
            return nat
        fr = self._frame
        # pandas describes a bool column as an object: count/unique/top/freq
        num_pos = {i for i in self._numeric_positions() if fr.dtype_of(i) != "bool"}
        kinds = [describe_kind(fr.spark_type_of(i), i in num_pos) for i in range(len(fr.columns))]
        if include in ("object", object):
            want = {"object"}
        elif include == "all" or not {"number", "datetime"} & set(kinds):
            want = {"number", "datetime", "object"}
        else:
            want = {"number", "datetime"}
        cols = [(fr.scol(i), fr.spark_type_of(i), fr.columns[i], k)
                for i, k in enumerate(kinds) if k in want]
        described = describe_columns(fr.sdf, cols, percentiles)
        out = pd.DataFrame({d.name: d for d in described})
        # pandas row order: the union of the stat rows, shortest family
        # first (object, then datetime, then number)
        order = []
        for d in sorted(described, key=len):
            order += [r for r in d.index if r not in order]
        return out.loc[order]

    def idxmax(self, axis=0, skipna=True, numeric_only=False) -> pd.Series:
        if axis in (1, "columns"):
            return self._row_arg_extreme(max_=True)
        return self._idx_extreme("idxmax", skipna)

    def idxmin(self, axis=0, skipna=True, numeric_only=False) -> pd.Series:
        if axis in (1, "columns"):
            return self._row_arg_extreme(max_=False)
        return self._idx_extreme("idxmin", skipna)

    def _idx_extreme(self, name: str, skipna: bool) -> pd.Series:
        """idxmax/idxmin of every numeric column: the labels and tie-break
        positions are attached once, then one aggregate pass."""
        positions = self._numeric_positions()
        if not positions:
            return pd.Series(dtype="float64")
        s = self._series_at(positions[0])
        at = (s._index_expr(), s._pos_for_ties())
        vals = DataFrame(_frame=s._frame)._reduce_cells(
            [(i, name, {"skipna": skipna, "at": at}) for i in positions])
        return pd.Series(dict(zip([self._frame.columns[i] for i in positions], vals)))

    def _row_arg_extreme(self, max_: bool):
        """idxmax/idxmin(axis=1): rowwise arg-extreme as ONE greatest()/
        least() over (value, -position) structs — whole-stage codegen, no
        UDF; ties resolve to the first column (pandas). All-NaN rows yield
        null."""
        fr = self._frame
        pos = self._numeric_positions()
        sent = float("-inf") if max_ else float("inf")
        structs = [
            F.struct(
                F.coalesce(fr.scol(i).cast("double"), F.lit(sent)).alias("v"),
                F.lit(-k).alias("p"),
            )
            for k, i in enumerate(pos)
        ]
        pick = (F.greatest if max_ else F.least)(*structs) if len(structs) > 1 else structs[0]
        any_valid = None
        for i in pos:
            e = fr.scol(i).isNotNull()
            any_valid = e if any_valid is None else (any_valid | e)
        label = None
        for k, i in enumerate(pos):
            cond = pick["p"] == -k
            label = F.when(cond, F.lit(str(fr.columns[i]))) if label is None else label.when(cond, F.lit(str(fr.columns[i])))
        expr = F.when(any_valid, label)
        s = Series(fr, expr, set(fr.data_cols), name=None)
        return s

    def corr(self, method="pearson", min_periods=None, numeric_only=True) -> pd.DataFrame:
        """Correlation matrix — ONE aggregate over all pairs. ``spearman``
        rides the distributed rank machinery (pearson over whole-column
        ranks; exact pandas parity when columns are NaN-free — pandas
        re-ranks per pairwise-complete pair under NaNs). ``min_periods``
        NaNs out any pair with fewer complete observations (reference:
        CorrCovBuilder, modin/core/storage_formats/pandas/aggregations.py:31)."""
        nat = _native.maybe(self, "corr", method=method, min_periods=min_periods,
                            numeric_only=numeric_only, _raw=True)
        if nat is not None:
            return nat
        if method == "spearman":
            ranked = self.rank(method="average")
            return ranked.corr(method="pearson", min_periods=min_periods,
                               numeric_only=numeric_only)
        if method == "kendall":
            # the reference computes only pearson distributed and defaults
            # every other method to pandas (ref storage_formats/pandas/
            # aggregations.py:60) — same escape hatch here, size-guarded
            import numpy as np

            from modin_spark.functions.stats import kendall_tau_b

            pos = self._numeric_positions()
            sub = self[[self._frame.columns[i] for i in pos]]
            n = sub._frame.count_rows()
            if n * max(1, len(pos)) > 20_000_000:
                raise ValueError(
                    f"corr(method='kendall') on {n} rows would materialize driver-side; refusing"
                )
            pdf = sub.to_pandas()
            labels = list(pdf.columns)
            k = len(labels)
            mat = np.full((k, k), np.nan)
            for i in range(k):
                mat[i, i] = 1.0
                for j in range(i + 1, k):
                    mat[i, j] = mat[j, i] = kendall_tau_b(
                        pdf.iloc[:, i].to_numpy(), pdf.iloc[:, j].to_numpy()
                    )
            return pd.DataFrame(mat, index=labels, columns=labels)
        if method != "pearson":
            raise NotImplementedError(f"corr method {method!r}")
        fr = self._frame
        pos = self._numeric_positions()
        labels = [fr.columns[i] for i in pos]
        exprs = []
        for i in pos:
            for j in pos:
                a, b = fr.scol(i).cast("double"), fr.scol(j).cast("double")
                e = F.corr(a, b)
                if min_periods is not None:
                    # pandas: a pair with fewer complete observations is NaN
                    npair = F.count(F.when(a.isNotNull() & b.isNotNull(), 1))
                    e = F.when(npair >= int(min_periods), e)
                exprs.append(e.alias(f"c_{i}_{j}"))
        row = fr.sdf.agg(*exprs).collect()[0]
        data = [[row[f"c_{i}_{j}"] for j in pos] for i in pos]
        # SQL NULL cells (min_periods masking) come back as Python None —
        # pandas corr/cov matrices are float64 with NaN there
        return pd.DataFrame(data, index=labels, columns=labels, dtype="float64")

    def cov(self, numeric_only=True, ddof=1, min_periods=None) -> pd.DataFrame:
        nat = _native.maybe(self, "cov", numeric_only=numeric_only, ddof=ddof,
                            min_periods=min_periods, _raw=True)
        if nat is not None:
            return nat
        fr = self._frame
        pos = self._numeric_positions()
        labels = [fr.columns[i] for i in pos]
        exprs = []
        for i in pos:
            for j in pos:
                a, b = fr.scol(i).cast("double"), fr.scol(j).cast("double")
                e = F.covar_samp(a, b)
                if min_periods is not None:
                    # pandas: a pair with fewer complete observations is NaN
                    npair = F.count(F.when(a.isNotNull() & b.isNotNull(), 1))
                    e = F.when(npair >= int(min_periods), e)
                if ddof != 1:
                    # covar_samp is ddof=1; rescale by the pairwise-complete n
                    n = F.count(F.when(a.isNotNull() & b.isNotNull(), 1))
                    e = e * (n - 1) / (n - F.lit(ddof))
                exprs.append(e.alias(f"c_{i}_{j}"))
        row = fr.sdf.agg(*exprs).collect()[0]
        data = [[row[f"c_{i}_{j}"] for j in pos] for i in pos]
        # SQL NULL cells (min_periods masking) come back as Python None —
        # pandas corr/cov matrices are float64 with NaN there
        return pd.DataFrame(data, index=labels, columns=labels, dtype="float64")

    # -------------------------------------------------------- order-dependent
    def _cum_axis0(self, kind: str, skipna: bool) -> "DataFrame":
        out = DataFrame(_frame=win.cum_op(self._frame, self._numeric_positions(), kind))
        if not skipna:
            # pandas skipna=False: the first NaN poisons everything after it.
            # The poison mask is itself a cumulative (count of nulls so far
            # > 0) on the SAME order key — stays an expression pipeline.
            for i in self._numeric_positions():
                lbl = self._frame.columns[i]
                poison = self._series_at(i).isna().astype("int64").cumsum() > 0
                out[lbl] = out._series_at(i).where(~poison)
        return out

    def cumsum(self, axis=0, skipna: bool = True) -> "DataFrame":
        if axis in (1, "columns"):
            return self._row_cum("cumsum")
        return self._cum_axis0("cumsum", skipna)

    def cummax(self, axis=0, skipna: bool = True) -> "DataFrame":
        if axis in (1, "columns"):
            return self._row_cum("cummax")
        return self._cum_axis0("cummax", skipna)

    def cummin(self, axis=0, skipna: bool = True) -> "DataFrame":
        if axis in (1, "columns"):
            return self._row_cum("cummin")
        return self._cum_axis0("cummin", skipna)

    def cumprod(self, axis=0, skipna: bool = True) -> "DataFrame":
        if axis in (1, "columns"):
            return self._row_cum("cumprod")
        return self._cum_axis0("cumprod", skipna)

    def shift(self, periods=1, fill_value=None, axis=0, freq=None, suffix=None) -> "DataFrame":
        if isinstance(periods, (list, tuple)):
            # pandas 2.1 list form: one output column per period, labeled
            # {col}{suffix or _}{p} — all shifts ride one aligned concat
            from modin_spark.pandas.general import concat as _concat

            parts = []
            for p in periods:
                part = self.shift(p, fill_value=fill_value, axis=axis, freq=freq)
                sfx = f"{suffix}_" if suffix is not None else "_"
                part.columns = pd.Index([f"{c}{sfx}{p}" for c in self.columns])
                parts.append(part)
            return _concat(parts, axis=1)
        if freq is not None:
            # pandas shift(freq=): the INDEX moves by periods*freq, data
            # stays put — a single projection over the index column
            fr = self._frame
            if not fr.index_cols:
                raise TypeError("shift(freq=) requires a datetime index")
            off = pd.tseries.frequencies.to_offset(freq) * periods
            delta_us = int(pd.Timedelta(off) / pd.Timedelta(microseconds=1))
            icol = fr.index_cols[0]
            sdf = fr.sdf.withColumn(
                icol, F.col(icol) + F.expr(f"INTERVAL {delta_us} MICROSECOND"))
            return DataFrame(_frame=fr._same_rows(sdf))
        if axis in (1, "columns"):
            # column-axis shift: a pure relabeling projection
            fr = self._frame
            k = len(fr.columns)
            fill = F.lit(fill_value) if fill_value is not None else F.lit(None)
            exprs = [
                fr.scol(i - periods) if 0 <= i - periods < k else fill.cast(fr.sdf.schema[fr.data_cols[i]].dataType)
                for i in range(k)
            ]
            return DataFrame(_frame=fr.project(fr.columns, exprs))
        return DataFrame(_frame=win.shift(self._frame, list(range(len(self._frame.columns))), periods, fill_value))

    def diff(self, periods=1, axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            # column-axis diff: c_i - c_{i-periods} — one projection, no shuffle
            fr = self._frame
            k = len(fr.columns)
            exprs = []
            for i in range(k):
                j = i - periods
                if 0 <= j < k:
                    exprs.append(fr.scol(i).cast("double") - fr.scol(j).cast("double"))
                else:
                    exprs.append(F.lit(None).cast("double"))
            return DataFrame(_frame=fr.project(list(fr.columns), exprs))
        return DataFrame(_frame=win.diff(self._frame, self._numeric_positions(), periods))

    def rank(self, method="average", ascending=True, pct=False, axis=0,
             na_option="keep", numeric_only=True) -> "DataFrame":
        nat = _native.maybe(self, "rank", method=method, ascending=ascending,
                            pct=pct, axis=axis, na_option=na_option,
                            numeric_only=numeric_only)
        if nat is not None:
            return nat
        if axis in (1, "columns"):
            return self._row_rank(method, ascending, pct)
        return DataFrame(_frame=win.rank(self._frame, self._numeric_positions(), method,
                                         ascending, pct, na_option))

    def pct_change(self, periods=1, fill_method="ffill", axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            # across columns: a pure projection — each cell divides by the
            # value `periods` columns earlier (row-wise ffill over columns
            # when fill_method='ffill', pandas default)
            fr = self._frame
            k = len(fr.columns)

            def filled(j):
                if fill_method in ("ffill", "pad"):
                    return F.coalesce(*[fr.scol(i) for i in range(j, -1, -1)])
                return fr.scol(j)

            exprs = []
            for j in range(k):
                src = j - periods
                if 0 <= src < k:
                    exprs.append(_true_div(filled(j), filled(src)) - 1)
                else:
                    exprs.append(F.lit(None).cast("double"))
            return DataFrame(_frame=fr.project(list(fr.columns), exprs))
        return DataFrame(_frame=win.pct_change(self._frame, self._numeric_positions(), periods,
                                               fill_method=fill_method))

    def _float_null_positions(self) -> list:
        """Positions eligible for interpolation: float columns (the only
        numeric storage that can hold missing values; pandas leaves NaN-free
        int columns as ints)."""
        return [i for i in range(len(self._frame.columns))
                if self._frame.dtype_of(i).startswith("float")]

    def interpolate(self, method="linear", limit=None, limit_direction="forward",
                    limit_area=None, **kw) -> "DataFrame":
        if method in ("index", "time", "values"):
            # abscissa = the index values (epoch seconds for timestamps)
            fr = self._frame
            if not fr.index_cols:
                # default index: the abscissa is the positional LABELS
                # (gap-preserving through filters)
                from modin_spark.core.frame import fresh_names as _fn

                lc = _fn(1)[0]
                base = fr.with_pandas_labels(lc)
                return DataFrame(_frame=win.interpolate_linear(
                    base, self._float_null_positions(), x_col=lc, limit=limit,
                    limit_direction=limit_direction, keep_all=True,
                    limit_area=limit_area))
            return DataFrame(_frame=win.interpolate_linear(
                fr, self._float_null_positions(), x_col=fr.index_cols[-1], limit=limit,
                limit_direction=limit_direction, keep_all=True,
                limit_area=limit_area))
        if method != "linear":
            if method in ("nearest", "polynomial", "spline", "krogh", "pchip",
                          "akima", "cubicspline", "barycentric", "quadratic",
                          "cubic"):
                # pandas itself requires SciPy for these (ImportError in this
                # environment) — declared, matching the reference's behavior
                raise ImportError(
                    f"interpolate(method={method!r}) requires SciPy (matching "
                    "pandas, which delegates these methods to scipy.interpolate)"
                )
            raise NotImplementedError(f"interpolate(method={method!r})")
        return DataFrame(_frame=win.interpolate_linear(self._frame, self._float_null_positions(),
                                                       limit=limit, limit_direction=limit_direction,
                                                       keep_all=True, limit_area=limit_area))

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

    def resample(self, rule: str, on=None, closed=None, label=None, offset=None, origin=None):
        from modin_spark.pandas.resample import Resampler

        return Resampler(self, rule, on, closed=closed, label=label, offset=offset, origin=origin)

    # -------------------------------------------------------------- reshape
    def melt(self, id_vars=None, value_vars=None, var_name="variable", value_name="value",
             col_level=None, ignore_index=True) -> "DataFrame":
        nat = _native.maybe(self, "melt", id_vars=id_vars, value_vars=value_vars,
                            var_name=var_name, value_name=value_name,
                            col_level=col_level, ignore_index=ignore_index)
        if nat is not None:
            return nat
        fr = self._frame.ensure_order()
        id_vars = id_vars if isinstance(id_vars, list) else ([id_vars] if id_vars else [])
        if value_vars is None:
            # positional, not label-keyed: duplicate column labels each melt
            val_pos = [i for i, c in enumerate(fr.columns) if c not in set(id_vars)]
            value_vars = [fr.columns[i] for i in val_pos]
        else:
            val_pos = fr.positions_of(value_vars)
        id_phys = [fr.data_cols[i] for i in fr.positions_of(id_vars)] if id_vars else []
        val_phys = [fr.data_cols[i] for i in val_pos]
        sdf0 = fr.sdf
        # mixed value-column types: all-numeric mixes widen to double
        # (pandas: int+float melt to float64); anything else coerces to
        # string so unpivot finds a common type
        vtypes = {fr.dtype_of(i) for i in val_pos}
        if len(vtypes) > 1:
            all_num = all(fr.dtype_of(i).startswith(("int", "float", "bool")) for i in val_pos)
            tgt = "double" if all_num else "string"
            for p in val_phys:
                sdf0 = sdf0.withColumn(p, F.col(p).cast(tgt))
        unpivoted = sdf0.unpivot(
            [ORDER_COL] + id_phys, val_phys, "__var__", "__val__"
        )
        # map physical names back to labels in the variable column
        mapping = None
        for lbl, p in zip(value_vars, val_phys):
            w = (mapping.when if mapping is not None else F.when)(F.col("__var__") == p, F.lit(str(lbl)))
            mapping = w
        var_order = F.array_position(F.array(*[F.lit(p) for p in val_phys]), F.col("__var__"))
        sdf = unpivoted.withColumn("__var2__", mapping).withColumn(
            ORDER_COL, F.struct(var_order.alias("v"), F.col(ORDER_COL).alias("o"))
        )
        from modin_spark.core.frame import fresh_names as _fn

        out_phys = _fn(len(id_phys) + 2)
        sel = [F.col(ORDER_COL)]
        for p, np_ in zip(id_phys + ["__var2__", "__val__"], out_phys):
            sel.append(F.col(p).alias(np_))
        out = SparkFrame(sdf.select(*sel), pd.Index(id_vars + [var_name, value_name]), out_phys)
        return DataFrame(_frame=out)

    def explode(self, column, ignore_index: bool = False) -> "DataFrame":
        if ignore_index:
            # pandas: result gets a fresh RangeIndex
            return self.explode(column).reset_index(drop=True)
        fr = self._frame.ensure_order()
        from modin_spark.core.frame import fresh_names as _fn

        if not fr.index_cols and (fr.order_is_position or fr.labels_col is not None):
            # pandas repeats the ORIGINAL positional labels ([0,0,1,...]) —
            # materialize them as an index level before the row-multiplying
            # op.  Only when the labels are FREE (from_pandas / post-sort
            # lineages): a scan frame would need an extra global-position
            # pass over the whole table, so it keeps the engine's
            # fresh-positional-labels contract instead (documented).
            lc = _fn(1)[0]
            base0 = fr.with_pandas_labels(lc)
            fr = base0._same_rows(base0.sdf, index_cols=[lc], index_names=[None])
        if isinstance(column, (list, tuple)):
            # pandas multi-column explode: columns zip positionally
            # (arrays_zip + one explode — rows with mismatched lengths get
            # nulls from the zip padding, which pandas raises on; padding is
            # the documented relaxation here)
            positions = fr.positions_of(list(column))
            phys = [fr.data_cols[p] for p in positions]
            zipped = F.arrays_zip(*[F.col(p) for p in phys])
            sdf = fr.sdf.withColumn("__exp__", F.explode_outer(zipped))
            sdf = sdf.withColumn(ORDER_COL, F.struct(F.col(ORDER_COL).alias("o"), F.monotonically_increasing_id().alias("e")))
            new_cols = list(fr.data_cols)
            for p, pos in zip(phys, positions):
                np_ = _fn(1)[0]
                sdf = sdf.withColumn(np_, F.col("__exp__").getField(p))
                new_cols[pos] = np_
            sdf = sdf.drop("__exp__")
            return DataFrame(_frame=SparkFrame(sdf, fr.columns, new_cols, fr.index_cols, fr.index_names))
        pos = fr.positions_of([column])[0]
        phys = fr.data_cols[pos]
        from pyspark.sql import types as _T

        if not isinstance(fr.schema_map.get(phys), _T.ArrayType):
            # pandas: exploding a non-list column is the identity (scalars
            # and None pass through one row each)
            return DataFrame(_frame=self._frame)
        sdf = fr.sdf.withColumn("__exp__", F.explode_outer(F.col(phys)))
        sdf = sdf.withColumn(ORDER_COL, F.struct(F.col(ORDER_COL).alias("o"), F.monotonically_increasing_id().alias("e")))
        new_cols = list(fr.data_cols)
        np_ = _fn(1)[0]
        sdf = sdf.withColumn(np_, F.col("__exp__")).drop("__exp__")
        new_cols[pos] = np_
        out = SparkFrame(sdf, fr.columns, new_cols, fr.index_cols, fr.index_names)
        return DataFrame(_frame=out)

    def pivot_table(self, values=None, index=None, columns=None, aggfunc="mean",
                    fill_value=None, margins=False, margins_name="All",
                    dropna=True, sort=True, observed=False) -> "DataFrame":
        """Single shuffle: groupBy(index).pivot(columns). A LIST of values
        pivots every value column in the same pass and labels the output with
        2-level (value, column-value) MultiIndex columns, pandas-style (ref
        carries column MultiIndexes natively, ref dataframe.py:161-189).

        ``margins=True`` (single-value path) adds the All column/row computed
        from the RAW data (pandas semantics — a margin mean is the mean of
        all cells, not of the cell means): one extra same-key groupby for the
        row margins and one tiny pivot for the column margin row."""
        nat = _native.maybe(self, "pivot_table", values=values, index=index,
                            columns=columns, aggfunc=aggfunc, fill_value=fill_value,
                            margins=margins, margins_name=margins_name,
                            dropna=dropna, sort=sort, observed=observed)
        if nat is not None:
            return nat
        from modin_spark.core.frame import fresh_names as _fn

        fr = self._frame
        index = index if isinstance(index, list) else [index]

        def drop_empty(sdf, cols):
            # pandas dropna=True: a row whose every cell is missing goes
            # (before fill_value fills it)
            if not dropna or not cols:
                return sdf
            return sdf.where(F.greatest(F.lit(False), *[F.col(c).isNotNull() for c in cols]))
        if columns is None:
            # no column pivot: pivot_table degenerates to ONE hash aggregate
            # (pandas shape: single aggfunc -> flat value columns; a list ->
            # (aggfunc, value) MultiIndex columns)
            vals = (values if isinstance(values, list)
                    else ([values] if values is not None
                          else [c for c in fr.columns if c not in set(index)
                                and fr.dtype_of(fr.positions_of([c])[0]).startswith(("int", "float"))]))
            fns = aggfunc if isinstance(aggfunc, list) else [aggfunc]
            spec = []
            for fn in fns:
                for v in vals:
                    lbl = (fn, v) if isinstance(aggfunc, list) else v
                    spec.append((lbl, fr.positions_of([v])[0], fn, {}))
            out = qc.groupby_agg(fr, fr.positions_of(index), spec,
                                 as_index=True, dropna=dropna, sort=sort)
            out = out._subset_rows(drop_empty(out.sdf, out.data_cols))
            result = DataFrame(_frame=out)
            if margins:
                # the All row aggregates the RAW data (pandas: a margin mean
                # is the mean of all cells, not of the cell means): ONE tiny
                # global aggregate job, unioned under a stringified index so
                # the margins_name label coexists with any key dtype
                for _, _, fn, _ in spec:
                    if not isinstance(fn, str):
                        raise NotImplementedError(f"pivot_table margins with aggfunc {fn!r}")
                if len(index) > 1:
                    raise NotImplementedError("pivot_table margins with a multi-level index")
                margin_pd = pd.DataFrame(
                    [self._reduce_cells([(pos, fn, {}) for _, pos, fn, _ in spec])],
                    columns=result._frame.columns,
                    index=pd.Index([margins_name], name=index[0]))
                # the body STAYS distributed: stringify the key level when
                # needed (pandas' margins index is object dtype anyway) and
                # union-all the one-row All frame — no shuffle, no collect
                key_dtype = str(fr.dtype_of(fr.positions_of(index)[0]))
                if not key_dtype.startswith(("object", "str")):
                    bfr = result._frame
                    idxp = bfr.index_cols[0]
                    result = DataFrame(_frame=bfr._same_rows(
                        bfr.sdf.withColumn(idxp, F.col(idxp).cast("string"))))
                from modin_spark.pandas.general import concat as _concat
                from modin_spark.pandas.io import from_pandas as _fp

                return _concat([result, _fp(margin_pd)])
            return result
        idx_phys = [fr.data_cols[i] for i in fr.positions_of(index)]
        columns_list = columns if isinstance(columns, list) else [columns]
        if len(columns_list) > 1:
            # MULTI-KEY column pivot -> n-level MultiIndex columns
            # ((aggfunc?, value?, key1, key2, ...) tuples — arbitrary depth;
            # the frame's label/physical-name split carries any nlevels).
            # One synthesized composite key (concat_ws on an unprintable
            # separator) keeps the single groupBy().pivot() shuffle; the
            # observed combos are column METADATA (bounded) and are
            # collected once to fix pval order + label tuples.
            if margins:
                raise NotImplementedError("pivot_table margins with multi-key columns")
            col_physes = [fr.data_cols[fr.positions_of([c])[0]] for c in columns_list]
            combo_phys = _fn(1)[0]
            # hex-encode each component before joining: hex output is
            # [0-9A-F] only, so the \x1f separator can never occur inside a
            # component and the composite key is collision-free for ANY key
            # values (label_of reads the real columns, never parses the key)
            key_expr = F.concat_ws(
                "\x1f",
                *[F.hex(F.encode(F.col(p).cast("string"), "UTF-8")) for p in col_physes],
            )
            sdf2 = fr.sdf.withColumn(combo_phys, key_expr)
            nn = " AND ".join(f"{p} IS NOT NULL" for p in col_physes)
            combos = sorted(
                (tuple(r) for r in sdf2.where(nn).select(combo_phys, *col_physes).distinct().collect()),
                key=lambda r: r[1:],
            )
            pvals = [r[0] for r in combos]
            label_of = {r[0]: r[1:] for r in combos}
            fnlist = aggfunc if isinstance(aggfunc, list) else [aggfunc]
            vlist = values if isinstance(values, list) else [values]
            val_phys2 = [fr.data_cols[fr.positions_of([v])[0]] for v in vlist]
            pairs = [(fn, v, p) for fn in fnlist for v, p in zip(vlist, val_phys2)]
            aggs = [qc.agg_expr(fn, F.col(p), pivot=True).alias(f"__a{i}__")
                    for i, (fn, _v, p) in enumerate(pairs)]
            pivoted = sdf2.groupBy(*idx_phys).pivot(combo_phys, pvals).agg(*aggs)
            tmp = _fn(len(pvals) * len(pairs))
            pivoted = drop_empty(pivoted.toDF(*idx_phys, *tmp), tmp)  # positional: names never parsed
            name_of = {}
            for j, t in enumerate(tmp):  # Spark: pivot value outer, agg inner
                fn, v, _p = pairs[j % len(pairs)]
                name_of[(fn, v, pvals[j // len(pairs)])] = t
            keys3 = [(fn, v, pv) for fn in fnlist for v in vlist for pv in pvals]

            def _lbl(fn, v, pv):
                head = ([fn] if isinstance(aggfunc, list) else []) + (
                    [v] if isinstance(values, list) else []
                )
                return tuple(head) + label_of[pv]

            labels = [_lbl(*k3) for k3 in keys3]
            # pandas: key-derived column levels carry the key column names;
            # aggfunc/values prefix levels are unnamed
            nhead = (1 if isinstance(aggfunc, list) else 0) + (
                1 if isinstance(values, list) else 0
            )
            lbl_names = [None] * nhead + list(columns_list)
            out_phys = _fn(len(labels))
            sel = [F.struct(*[F.col(p) for p in idx_phys]).alias(ORDER_COL)]
            sel += [F.col(p) for p in idx_phys]
            sel += [F.col(name_of[k3]).alias(np_) for k3, np_ in zip(keys3, out_phys)]
            out = SparkFrame(
                pivoted.select(*sel),
                pd.MultiIndex.from_tuples(labels, names=lbl_names),
                out_phys,
                idx_phys, list(index),
            )
            return DataFrame(_frame=out)
        col_phys = fr.data_cols[fr.positions_of([columns_list[0]])[0]]
        if isinstance(aggfunc, list):
            # aggfunc list: every (fn, value) aggregate rides the SAME single
            # pivot pass; labels are (fn, pv) for a scalar value, pandas'
            # (fn, value, pv) 3-level for a value list
            vlist = values if isinstance(values, list) else [values]
            val_phys2 = [fr.data_cols[fr.positions_of([v])[0]] for v in vlist]
            pvals = [
                r[0]
                for r in fr.sdf.select(col_phys).where(F.col(col_phys).isNotNull())
                .distinct().orderBy(col_phys).collect()
            ]
            pairs = [(fn, v, p) for fn in aggfunc for v, p in zip(vlist, val_phys2)]
            aggs = [qc.agg_expr(fn, F.col(p), pivot=True).alias(f"__a{i}__")
                    for i, (fn, _v, p) in enumerate(pairs)]
            pivoted = fr.sdf.groupBy(*idx_phys).pivot(col_phys, pvals).agg(*aggs)
            tmp = _fn(len(pvals) * len(pairs))
            pivoted = drop_empty(pivoted.toDF(*idx_phys, *tmp), tmp)  # positional: names never parsed
            name_of = {}
            for j, t in enumerate(tmp):  # Spark: pivot value outer, agg inner
                fn, v, _p = pairs[j % len(pairs)]
                name_of[(fn, v, pvals[j // len(pairs)])] = t
            keys3 = [(fn, v, pv) for fn in aggfunc for v in vlist for pv in pvals]
            labels = keys3 if isinstance(values, list) else [(fn, pv) for fn, _v, pv in keys3]
            out_phys = _fn(len(labels))
            sel = [F.struct(*[F.col(p) for p in idx_phys]).alias(ORDER_COL)]
            sel += [F.col(p) for p in idx_phys]
            sel += [F.col(name_of[k3]).alias(np_) for k3, np_ in zip(keys3, out_phys)]
            out = SparkFrame(
                pivoted.select(*sel), pd.MultiIndex.from_tuples(labels), out_phys, idx_phys, list(index)
            )
            return DataFrame(_frame=out)
        # pivot=True: a combination with no rows stays NaN, as in pandas
        agg_fn = lambda c: qc.agg_expr(aggfunc, c, pivot=True)  # noqa: E731
        if not isinstance(values, list):
            val_phys = fr.data_cols[fr.positions_of([values])[0]]
            if not margins:
                # collect the distinct pivot keys TYPED (driver metadata by
                # definition): pandas keeps the key dtype in the column
                # labels (an int key labels an int column, not '1') and
                # names the columns Index after the key
                pvals = [
                    r[0]
                    for r in fr.sdf.select(col_phys).where(F.col(col_phys).isNotNull())
                    .distinct().orderBy(col_phys).collect()
                ]
                pivoted = fr.sdf.groupBy(*idx_phys).pivot(col_phys, pvals).agg(
                    agg_fn(F.col(val_phys))
                )
                tmp = _fn(len(pvals))
                pivoted = drop_empty(pivoted.toDF(*idx_phys, *tmp), tmp)  # positional: names never parsed
                out_phys = _fn(len(pvals))
                fill = (lambda c: F.coalesce(c, F.lit(fill_value))) if fill_value is not None else (lambda c: c)
                sel = [F.struct(*[F.col(p) for p in idx_phys]).alias(ORDER_COL)]
                sel += [F.col(p) for p in idx_phys]
                sel += [fill(F.col(t)).alias(np_) for t, np_ in zip(tmp, out_phys)]
                out = SparkFrame(
                    pivoted.select(*sel),
                    pd.Index(pvals, name=columns_list[0], tupleize_cols=False),
                    out_phys, idx_phys, list(index),
                )
                return DataFrame(_frame=out)
            pivoted = fr.sdf.groupBy(*idx_phys).pivot(col_phys).agg(agg_fn(F.col(val_phys)))
            value_cols = [c for c in pivoted.columns if c not in set(idx_phys)]
            pivoted = drop_empty(pivoted, ["`" + c.replace("`", "``") + "`" for c in value_cols])
            if margins:
                row_m = fr.sdf.groupBy(*idx_phys).agg(agg_fn(F.col(val_phys)).alias("__all__"))
                pivoted = pivoted.join(row_m, idx_phys, "left")
                # the margins row's index label is the string margins_name —
                # index columns become string, like pandas' object index
                pivoted = pivoted.select(
                    *[F.col(p).cast("string").alias(p) for p in idx_phys],
                    *[F.col("`" + c.replace("`", "``") + "`")
                      for c in pivoted.columns if c not in set(idx_phys)],
                )
                col_m = fr.sdf.groupBy().pivot(col_phys).agg(agg_fn(F.col(val_phys)))
                grand = fr.sdf.agg(agg_fn(F.col(val_phys)).alias("__all__"))
                mrow = col_m.crossJoin(grand)
                for p in idx_phys:
                    mrow = mrow.withColumn(p, F.lit(str(margins_name)))
                # pandas puts the All row LAST regardless of key sort order
                pivoted = pivoted.withColumn("__mrg__", F.lit(0))
                mrow = mrow.withColumn("__mrg__", F.lit(1))
                msel = [F.col("`" + c.replace("`", "``") + "`") for c in pivoted.columns]
                pivoted = pivoted.unionByName(mrow.select(*msel), allowMissingColumns=True)
                value_cols = value_cols + ["__all__"]
            out_phys = _fn(len(value_cols))
            order_fields = ([F.col("__mrg__")] if margins else []) + [F.col(p) for p in idx_phys]
            sel = [F.struct(*order_fields).alias(ORDER_COL)]
            sel += [F.col(p) for p in idx_phys]
            fill = (lambda c: F.coalesce(c, F.lit(fill_value))) if fill_value is not None else (lambda c: c)
            # backtick-quote: pivot values like 1.0 otherwise parse as a
            # struct field reference `1`.`0`
            def _q(name):
                return F.col("`" + name.replace("`", "``") + "`")
            sel += [fill(_q(v)).alias(np_) for v, np_ in zip(value_cols, out_phys)]
            labels = [margins_name if v == "__all__" else v for v in value_cols]
            cols_idx = pd.Index(labels, name=columns if isinstance(columns, (str, int)) else None)
            out = SparkFrame(pivoted.select(*sel), cols_idx, out_phys, idx_phys, list(index))
            return DataFrame(_frame=out)
        if margins:
            raise NotImplementedError("pivot_table margins with a list of values")
        # multi-value: one pivot over all value aggregates; the distinct
        # pivot values (column METADATA, driver-side by definition) fix both
        # Spark's output column order and the pandas label order
        val_phys = [fr.data_cols[fr.positions_of([v])[0]] for v in values]
        pvals = [
            r[0]
            for r in fr.sdf.select(col_phys).where(F.col(col_phys).isNotNull())
            .distinct().orderBy(col_phys).collect()
        ]  # pandas pivot_table dropna=True: NaN column keys are dropped
        aggs = [agg_fn(F.col(p)).alias(f"__v{i}__") for i, p in enumerate(val_phys)]
        pivoted = fr.sdf.groupBy(*idx_phys).pivot(col_phys, pvals).agg(*aggs)
        tmp = _fn(len(pvals) * len(values))
        pivoted = drop_empty(pivoted.toDF(*idx_phys, *tmp), tmp)  # positional: pivot names never parsed
        # Spark emits (pivot value outer, agg inner); pandas wants (value
        # outer, pivot value inner)
        name_of = {
            (values[j % len(values)], pvals[j // len(values)]): tmp[j] for j in range(len(tmp))
        }
        labels = [(v, pv) for v in values for pv in pvals]
        out_phys = _fn(len(labels))
        sel = [F.struct(*[F.col(p) for p in idx_phys]).alias(ORDER_COL)]
        sel += [F.col(p) for p in idx_phys]
        sel += [F.col(name_of[t]).alias(np_) for t, np_ in zip(labels, out_phys)]
        out = SparkFrame(
            pivoted.select(*sel),
            pd.MultiIndex.from_tuples(labels, names=[None, columns_list[0]]),
            out_phys, idx_phys, list(index),
        )
        return DataFrame(_frame=out)

    # ------------------------------------------------------- frame binaries
    def _binary(self, op, other, axis="columns", how: str = "full_outer") -> "DataFrame":
        """Element-wise frame op (the reference's Binary template): the
        operand is aligned once — columns by the sorted label union, rows by
        lineage rebase or one ``compiler.align_frames`` join — then
        ``op(column, cell)`` runs a Series operator on each column against its
        aligned cell, so a frame op IS the Series op per column. A Series
        operand broadcasts along ``axis``: 'index' row-aligns it against every
        column; 'columns' matches its labels to the column labels (k values,
        collected). A label on one side only pairs with an all-NULL cell.
        ``how='left'`` keeps this frame's rows and columns (reindex_like)."""
        from modin_spark.pandas.io import from_pandas

        fr = self._frame
        rows = axis in (0, "index")
        if isinstance(other, pd.DataFrame):
            other = from_pandas(other)
        elif isinstance(other, pd.Series) and rows:
            other = Series._from_pandas(other)
        elif isinstance(other, Series) and not rows:
            other = other.to_pandas()
        cols = fr.columns
        base, cells = fr, None
        if isinstance(other, DataFrame):
            base = qc.align_frames(fr, other._frame, how)
            cells = {}
            for j, lbl in enumerate(other.columns):
                cells.setdefault(lbl, other._series_at(len(fr.columns) + j, base))
            if how != "left" and not cols.equals(other.columns):
                cols = cols.union(other.columns, sort=None)
        elif isinstance(other, Series):
            cell = other
            if not (fr._lid == other._frame._lid and fr.can_rebase(other._frame, other._refs)):
                base = qc.align_frames(fr, other._to_frame("__o__"), how)
                cell = Series(base, base.scol(-1), {base.data_cols[-1]})
        elif isinstance(other, pd.Series):
            cells = dict(other.items())
            if how != "left" and not cols.equals(other.index):
                cols = cols.union(other.index, sort=None)
        elif isinstance(other, (list, tuple, np.ndarray)) and np.ndim(other) == 1:
            vals = list(other)
            if rows:
                # positional: zip by global position, one array literal
                # lookup (the operand is driver-provided)
                pos = fresh_names(1)[0]
                base = fr.with_global_position(pos)
                arr = F.array(*[_lit(v) for v in vals])
                cell = Series(base, F.element_at(arr, (F.col(pos) + 1).cast("int")), {pos})
            elif len(vals) != len(fr.columns):
                raise ValueError(
                    f"Unable to coerce to Series, length must be "
                    f"{len(fr.columns)}: given {len(vals)}")
            else:
                cells = vals
        else:
            cell = other
        missing = Series(base, F.lit(None), set())
        first = {}
        for i, lbl in enumerate(fr.columns):
            first.setdefault(lbl, i)
        same = cols is fr.columns
        results = []
        for k, lbl in enumerate(cols):
            i = k if same else first.get(lbl)
            a = self._series_at(i, base) if i is not None else missing
            if isinstance(cells, dict):
                b = cells.get(lbl, missing)
            else:
                b = cells[k] if cells is not None else cell
            results.append(op(a, b))
        return self._gather(base, cols, results)

    @staticmethod
    def _gather(base: SparkFrame, cols: pd.Index, results) -> "DataFrame":
        """One projection on ``base`` of the per-column Series ``results``
        (labelled ``cols``), each keeping its dtype overlay."""
        nf = base.project(cols, [r._expr for r in results])
        nf.columns = cols  # project rebuilds a label list; keep the Index
        out = DataFrame(_frame=nf)
        for lbl, r in zip(cols, results):
            out._adopt_dtype(lbl, r)
        return out

    def _map(self, fn) -> "DataFrame":
        """Elementwise method (the reference's Map template): ``fn`` runs a
        Series method on each column, gathered into one projection."""
        fr = self._frame
        return self._gather(fr, fr.columns, [fn(self._series_at(i)) for i in range(len(fr.columns))])

    # --------------------------------------------------------- conveniences
    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def take(self, indices, axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            n = len(self._frame.columns)
            pos = [i if i >= 0 else n + i for i in indices]
            return DataFrame(_frame=self._frame.select_positions(pos))
        return self.iloc[list(indices)]

    def add_prefix(self, prefix: str, axis=None) -> "DataFrame":
        if axis in (0, "index"):
            return self.rename(index=lambda i: f"{prefix}{i}")
        return self.rename(columns={c: f"{prefix}{c}" for c in self.columns})

    def add_suffix(self, suffix: str, axis=None) -> "DataFrame":
        if axis in (0, "index"):
            return self.rename(index=lambda i: f"{i}{suffix}")
        return self.rename(columns={c: f"{c}{suffix}" for c in self.columns})

    def squeeze(self, axis=None):
        if axis in (0, "index", "rows"):
            # squeeze rows only: 1-row frame → Series of its single row
            return self if len(self) != 1 else self.to_pandas().squeeze(axis=0)
        if len(self._frame.columns) == 1:
            return self._series_at(0)
        return self

    def items(self):
        for i, lbl in enumerate(self._frame.columns):
            yield lbl, self._series_at(i)

    def iterrows(self):
        """Driver-side iteration (documented escape hatch — same contract as
        the reference's default-to-pandas iteration)."""
        for idx, row in self.to_pandas().iterrows():
            yield idx, row

    def itertuples(self, index=True, name="Pandas"):
        yield from self.to_pandas().itertuples(index=index, name=name)

    def update(self, other: "DataFrame", join: str = "left", overwrite: bool = True,
               filter_func=None, errors: str = "ignore") -> None:
        """In-place patch of non-null cells from ``other`` (index-aligned).
        ``overwrite=False``: only fill cells that are null in self.
        ``filter_func``: update only where filter_func(self values) is True
        (pandas contract: a 1-D-array predicate per column — compiled here
        to a per-column conditional projection via combine, no UDF when the
        predicate composes from column expressions is not knowable, so the
        predicate runs driver-side per combine batch). ``errors='raise'``:
        raise if an update would overwrite a non-null cell."""
        if join != "left":
            raise NotImplementedError("DataFrame.update only supports join='left'")
        if errors == "raise":
            # pandas: any position non-null in BOTH frames is a conflict
            both = self[[c for c in self.columns if c in set(other.columns)]]
            sub = other[[c for c in both.columns]]
            conflict = 0
            for c in both.columns:
                m = both[c].notna() & sub[c].notna()
                conflict += int(m.sum())
            if conflict:
                raise ValueError("Data overlaps.")
        if filter_func is not None:
            # keep other's value only where filter_func(self) holds AND
            # other is non-null; else keep self (pandas semantics). Adopt
            # other's column onto this frame first (index-aligned setitem) so
            # the conditional is a single-frame projection, no 3-way join.
            cols = [c for c in self.columns if c in set(other.columns)]
            out = DataFrame(_frame=self._frame)
            for c in cols:
                out["__upd__"] = other[c]
                cur, new = out[c], out["__upd__"]
                mask = filter_func(cur)
                out[c] = cur.mask(mask & new.notna(), new)
                out = out.drop(columns="__upd__")
            self._frame = out._frame
            return
        patched = self.combine_first(other) if not overwrite else other.combine_first(self)
        # combine_first prefers the left's non-null cells; restrict to self's columns
        self._frame = patched[[c for c in self.columns]]._frame

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "DataFrame":
        """Pin the frame's current plan in executor storage (Spark persist) —
        the escape hatch for iterative workloads that re-consume one
        intermediate many times (the reference materializes every
        intermediate by construction; here plans are lazy, so re-use without
        persist re-executes the lineage). Returns self for chaining."""
        from pyspark import StorageLevel

        level = getattr(StorageLevel, storage_level)
        self._frame.sdf.persist(level)
        return self

    def cache(self) -> "DataFrame":
        return self.persist()

    def unpersist(self) -> "DataFrame":
        self._frame.sdf.unpersist()
        return self

    def memory_usage(self, index=False, deep=False) -> pd.Series:
        """Estimated bytes per column: fixed-width from the Spark type; strings
        sampled. Driver sees one aggregate row."""
        fr = self._frame
        from pyspark.sql import types as T

        fixed = {
            T.LongType: 8, T.DoubleType: 8, T.IntegerType: 4, T.FloatType: 4,
            T.ShortType: 2, T.ByteType: 1, T.BooleanType: 1, T.TimestampType: 8, T.DateType: 4,
        }
        aggs, kinds = [], []
        for i in range(len(fr.columns)):
            t = type(fr.spark_type_of(i))
            if t in fixed:
                aggs.append(F.count(F.lit(1)) * fixed[t])
            else:
                aggs.append(F.sum(F.coalesce(F.length(fr.scol(i).cast("string")), F.lit(0))))
            kinds.append(fr.columns[i])
        row = fr.sdf.agg(*[a.alias(f"m{i}") for i, a in enumerate(aggs)]).collect()[0]
        return pd.Series({k: int(row[f"m{i}"] or 0) for i, k in enumerate(kinds)})

    def dot(self, other):
        """Matrix product with a Series (weights vector) or a small matrix
        (pandas DataFrame keyed by this frame's columns): each output column
        is one linear-combination expression — narrow, no shuffle; the
        matrix rides into the plan as literals (broadcast by construction,
        ref qc:2546)."""
        w = other.to_pandas() if hasattr(other, "to_pandas") else other
        fr = self._frame
        if isinstance(w, pd.DataFrame):
            out_labels = list(w.columns)
            exprs = []
            for out_c in out_labels:
                e = None
                for i, lbl in enumerate(fr.columns):
                    term = fr.scol(i) * F.lit(float(w.loc[lbl, out_c]))
                    e = term if e is None else (e + term)
                exprs.append(e)
            return DataFrame(_frame=fr.project(out_labels, exprs))
        expr = None
        for i, lbl in enumerate(fr.columns):
            term = fr.scol(i) * F.lit(float(w[lbl]))
            expr = term if expr is None else (expr + term)
        return Series(fr, expr, set(fr.data_cols), None)

    def value_counts(self, subset=None, normalize=False, sort=True, ascending=False,
                     dropna=True) -> "Series":
        """Frame-level value_counts: ONE distributed hash aggregate over the
        (subset) columns via qc.groupby_agg — the same machinery as
        Series.value_counts — returning an ENGINE Series. Nothing
        materializes on the driver (distinct row combinations can be ~|rows|
        at 100 TB) and the result chains into further engine ops.
        pandas wraps even a single-column result in a 1-LEVEL MultiIndex
        (a shape downstream ``.loc`` tuples rely on) — reproduced in the
        Series materialization layer (r11), not the plan."""
        fr = self._frame
        cols = subset if subset is not None else list(fr.columns)
        pos = fr.positions_of(cols)
        lbl = "proportion" if normalize else "count"
        # groupby_agg(sort=True) gives pandas' key order for sort=False and
        # drops any-null-key rows for dropna (pandas semantics for both)
        out = qc.groupby_agg(fr, pos, [(lbl, None, "size", {})],
                             as_index=True, dropna=dropna, sort=True)
        if normalize:
            csdf = fr.sdf
            if dropna:
                for p in [fr.data_cols[i] for i in pos]:
                    csdf = csdf.where(F.col(p).isNotNull())
            total = csdf.count()
            out = out.project([lbl], [F.col(out.data_cols[0]) / F.lit(total)])
        if sort:
            out = out.sort_by([F.col(out.data_cols[0])], [ascending])
        s = Series._from_frame(out)
        s._name = lbl
        if len(pos) == 1:
            def _one_level_mi(ps: pd.Series) -> pd.Series:
                ps = ps.copy()
                ps.index = pd.MultiIndex.from_arrays([ps.index], names=[ps.index.name])
                return ps

            s._post_to_pandas = _one_level_mi
        return s

    def isin(self, values) -> "DataFrame":
        """Boolean frame: membership per cell (list), per column (dict), or
        CELL-WISE equality against an aligned frame/Series operand (pandas:
        same label = same cell; unmatched labels are False)."""
        if isinstance(values, (DataFrame, pd.DataFrame)):
            # pandas: self.eq(values.reindex_like(self))
            return self._binary(lambda a, b: a.eq(b), values, how="left")
        if not isinstance(values, dict):
            values = list(values)
        return self._map(lambda s: s.isin(values.get(s._name, []) if isinstance(values, dict) else values))

    def pivot(self, index=None, columns=None, values=None) -> "DataFrame":
        """Reshape without aggregation (errors on duplicates in pandas; here
        first-wins) — groupBy(index).pivot(columns).first(values).
        ``index=None`` pivots on the existing index (pandas semantics); a
        default positional index rides as a materialized global position."""
        if index is None:
            fr = self._frame
            if fr.index_cols:
                names = [n if n is not None else f"level_{i}" for i, n in enumerate(fr.index_names)]
                flat = DataFrame(_frame=fr.reset_index())
                return flat.pivot_table(values=values, index=names, columns=columns, aggfunc="first",
                                        dropna=False)
            fr2 = fr.ensure_order().with_global_position("__pvi__")
            base = SparkFrame(
                fr2.sdf, pd.Index(["__pvi__"] + list(fr.columns)),
                ["__pvi__"] + list(fr2.data_cols), [], [None],
            )
            out = DataFrame(_frame=base).pivot_table(
                values=values, index=["__pvi__"], columns=columns, aggfunc="first", dropna=False
            )
            ofr = out._frame
            return DataFrame(_frame=ofr._same_rows(
                ofr.sdf, columns=ofr.columns, data_cols=list(ofr.data_cols),
                index_cols=list(ofr.index_cols), index_names=[None],
            ))
        # a reshape keeps a row whose every cell is missing
        return self.pivot_table(values=values, index=[index] if isinstance(index, str) else index,
                                columns=columns, aggfunc="first", dropna=False)

    def stack(self, level=-1, future_stack: bool = False, dropna: bool = True):
        """Columns → rows. Flat columns: a (index, column-label) MultiIndex
        Series in pandas' row-major order with NaN cells dropped (classic
        ``stack`` semantics; ``future_stack=True`` keeps them, pandas 2.x
        new semantics) — melt + an ORDER-struct swap, no extra shuffle.
        2-level columns: the LAST column level moves into the index and the
        output columns are the level-0 labels (pandas ``future_stack``
        order-of-appearance semantics) — ONE posexplode, no shuffle.
        ``level=`` picks which column level moves (2-level columns only);
        level 0 is a metadata-only label swap before the same posexplode."""
        from modin_spark.core.frame import ORDER_COL as _OC

        fr = self._frame
        if isinstance(fr.columns, pd.MultiIndex) and fr.columns.nlevels == 2:
            lv = level
            if isinstance(lv, str):
                lv = list(fr.columns.names).index(lv)
            if lv == 0:
                sw = fr._same_rows(
                    fr.sdf, columns=fr.columns.swaplevel(0, 1), data_cols=list(fr.data_cols)
                )
                return DataFrame(_frame=sw)._stack_two_level()
            return self._stack_two_level()
        if level not in (-1, 0):
            raise ValueError(f"stack level {level!r} out of range for flat columns")
        fr2 = fr.ensure_order()
        if fr.index_cols:
            base = DataFrame(_frame=fr2.reset_index())
            id_vars = [n if n is not None else "index" for n in fr2.index_names]
            idx_names = list(fr2.index_names)
        else:
            posfr = fr2.with_global_position("__sp0__")
            base = DataFrame(_frame=SparkFrame(
                posfr.sdf, pd.Index(["__sl0__"] + list(fr2.columns)),
                ["__sp0__"] + list(fr2.data_cols), [], [None],
            ))
            id_vars = ["__sl0__"]
            idx_names = [None]
        melted = base.melt(id_vars=id_vars, var_name="__slv__", value_name="__sval__")
        mfr = melted._frame
        # melt emits column-major ORDER (v, o); stack is row-major — swap
        sdf = mfr.sdf.withColumn(
            _OC, F.struct(F.col(f"{_OC}.o").alias("a"), F.col(f"{_OC}.v").alias("b"))
        )
        if not future_stack and dropna:  # classic stack drops NaN unless
            # dropna=False; future_stack always keeps
            sdf = sdf.where(F.col(mfr.data_cols[-1]).isNotNull())
        swapped = SparkFrame(sdf, mfr.columns, mfr.data_cols, mfr.index_cols, mfr.index_names)
        st = DataFrame(_frame=swapped).set_index(id_vars + ["__slv__"])
        stf = st._frame._same_rows(st._frame.sdf, index_names=idx_names + [None])
        out = Series._from_frame(stf)
        out._name = None
        return out

    def _stack_two_level(self) -> "DataFrame":
        from modin_spark.core.frame import fresh_names

        fr = self._frame.ensure_order()
        idx_cols = list(fr.index_cols)
        idx_names = list(fr.index_names)
        if not idx_cols:
            # default RangeIndex: the stacked index is (row label, level-1)
            # — materialize the positional labels as the outer level
            fr = fr.with_pandas_labels("__srow0__")
            idx_cols = ["__srow0__"]
            idx_names = [None]
        cols = list(fr.columns)
        lvl0 = list(dict.fromkeys(t[0] for t in cols))
        lvl1 = list(dict.fromkeys(t[1] for t in cols))
        # pandas: when the inner-level sets DIFFER across level-0 groups the
        # stacked level is the SORTED union; a uniform grid keeps appearance
        per_group = {g: tuple(t[1] for t in cols if t[0] == g) for g in lvl0}
        if len(set(per_group.values())) > 1:
            lvl1 = sorted(set(lvl1), key=str)
        phys_map = dict(zip(cols, fr.data_cols))
        # per level-0 group: single consistent dtype -> keep it; mixed but
        # numeric -> widen to double; else unsupported
        casts = {}
        for g in lvl0:
            kinds = {
                fr.schema_map[phys_map[(g, l1)]].simpleString()
                for l1 in lvl1 if (g, l1) in phys_map
            }
            if len(kinds) == 1 and len([1 for l1 in lvl1 if (g, l1) in phys_map]) == len(lvl1):
                casts[g] = None
            else:
                casts[g] = "double"
        structs = []
        for l1 in lvl1:
            fields = [F.lit(l1).alias("__lv__")]
            for gi, g in enumerate(lvl0):
                p = phys_map.get((g, l1))
                e = F.col(p) if p is not None else F.lit(None)
                if casts[g] is not None:
                    e = e.cast(casts[g])
                fields.append(e.alias(f"__s{gi}__"))
            structs.append(F.struct(*fields))
        out_phys = fresh_names(len(lvl0))
        sdf = fr.sdf.select(
            F.col(ORDER_COL), *[F.col(c) for c in idx_cols],
            F.posexplode(F.array(*structs)).alias("__pos__", "__e__"),
        ).select(
            # unique order sorting as (row, level-1 position); a struct keeps
            # this valid whatever the parent ORDER type (sorted groupbys use
            # a key-struct ORDER)
            F.struct(F.col(ORDER_COL).alias("o"), F.col("__pos__").alias("p")).alias(ORDER_COL),
            *[F.col(c) for c in idx_cols],
            F.col("__e__.__lv__").alias("__lv2__"),
            *[F.col(f"__e__.__s{gi}__").alias(op) for gi, op in enumerate(out_phys)],
        )
        nf = SparkFrame(
            # pandas: the surviving column level keeps its level NAME as the
            # output columns-Index name
            sdf, pd.Index(lvl0, name=fr.columns.names[0]), out_phys,
            idx_cols + ["__lv2__"],
            idx_names + [fr.columns.names[-1]],
            has_order=True,
        )
        return DataFrame(_frame=nf)

    def unstack(self, level=-1, fill_value=None) -> "DataFrame":
        """Inverse of stack for the 2-level-index frame shape stack emits:
        pivot the last index column into columns. Multiple value columns
        produce 2-level (value, key) MultiIndex columns, pandas-style.

        ``fill_value`` fills only cells whose (index, key) combo is ABSENT
        from the data — a present-but-NaN value stays NaN (pandas exact).
        Absence is data-dependent, so each value rides the single pivot
        wrapped in a (presence, value) struct: a NULL struct means the
        combo never existed, a non-NULL struct with NULL value means NaN."""
        fr = self._frame
        if len(fr.index_cols) < 2:
            raise NotImplementedError("unstack needs a 2-level index")
        names = [n if n is not None else f"level_{i}" for i, n in enumerate(fr.index_names)]
        if isinstance(level, str):
            lv = names.index(level)
        else:
            lv = level % len(names)
        moved, remaining = names[lv], [n for i, n in enumerate(names) if i != lv]
        # the level_N placeholders exist only to address columns during the
        # pivot; the RESULT index/columns restore the original (possibly
        # None) names
        remaining_orig = [n for i, n in enumerate(fr.index_names) if i != lv]
        moved_orig = fr.index_names[lv]

        def _cols_renamed(cols):
            # the moved level's ORIGINAL name lands on the (last) column
            # level; multi-value frames carry (value, key) MultiIndex cols
            if cols.nlevels == 1:
                return cols.rename(moved_orig)
            return cols.rename([*cols.names[:-1], moved_orig])
        flat = DataFrame(_frame=fr.reset_index())
        value_cols = [c for c in flat.columns if c not in names]
        values = value_cols[0] if len(value_cols) == 1 else value_cols
        # pandas raises on duplicate (remaining-index, moved) pairs — the
        # pivot's first() would otherwise silently DROP rows (wrong data).
        # One small aggregate job; the pivot itself already runs a distinct.
        ffr = flat._frame
        keyphys = [ffr.data_cols[ffr.positions_of([n])[0]] for n in remaining + [moved]]
        if ffr.sdf.groupBy(*keyphys).count().where("count > 1").limit(1).count() > 0:
            raise ValueError("Index contains duplicate entries, cannot reshape")
        if fill_value is None:
            out = flat.pivot_table(values=values, index=remaining, columns=moved, aggfunc="first",
                               dropna=False)
            ofr0 = out._frame
            return DataFrame(_frame=ofr0._same_rows(
                ofr0.sdf, columns=_cols_renamed(ofr0.columns),
                index_names=remaining_orig))
        for v in value_cols:
            s = flat[v]
            flat[v] = Series(s._frame, F.struct(F.lit(1).alias("p"), s._expr.alias("v")), s._refs, None)
        out = flat.pivot_table(values=values, index=remaining, columns=moved, aggfunc="first",
                               dropna=False)
        ofr = out._frame
        exprs = [
            F.when(ofr.scol(i).isNull(), F.lit(fill_value)).otherwise(ofr.scol(i)["v"])
            for i in range(len(ofr.columns))
        ]
        nf = ofr.project(list(ofr.columns), exprs)
        # project rebuilds the label Index — restore the columns name pandas
        # carries through unstack
        nf = nf._same_rows(nf.sdf, columns=_cols_renamed(ofr.columns),
                           data_cols=list(nf.data_cols),
                           index_names=remaining_orig)
        return DataFrame(_frame=nf)

    def transpose(self) -> "DataFrame":
        """Swap axes (same cost class as the reference's partition-grid
        transpose, /root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:4747).

        Frames whose row count fits Spark's practical column budget
        (<= 10k transposed columns) run DISTRIBUTED: melt to (position, cid,
        value) rows — one explode, no driver data — then one map-collect
        groups each original column into a transposed row. Only the header
        labels (the transposed frame's column names, driver-side metadata by
        definition) are collected; the melt/map is keyed on the GLOBAL
        POSITION, so duplicate index labels and multi-level indexes (which
        become duplicate / MultiIndex column labels — both carried by the
        frame's positional physical names since r7) ride the same path.
        Only over-budget frames use the driver path, under a size guard.

        A frame with at most ``native_max_rows()`` rows and columns finishes
        on the driver instead: one ordered ``collect_small`` of its index and
        data replaces the pin, positions, header collect, melt and
        map-collect, and the native result lets a following ``.T``,
        ``reset_index`` or ``rename`` run with no Spark job."""
        nat = _native.maybe(self, "transpose")
        if nat is not None:
            return nat
        fr = self._frame
        if 0 < len(fr.columns) <= native_max_rows():
            # shape-deciding: the collect IS the transpose when it fits
            small = fr.to_pandas(small=True)
            if small is not None:
                return _transpose_pandas(self._finish_pandas(small))
        if len(fr.columns) > 0:
            # the distributed path's header collect doubles as the size
            # probe (limit max_cols+1) — no separate count action. Mixed
            # dtypes ride the same melt+pivot with stringified values and a
            # per-target-column retype (r6) — the driver path below remains
            # only for over-guard frames.
            out = self._transpose_distributed()
            if out is not None:
                return out
        # shape-deciding: the size guard of the driver transpose
        n = fr.count_rows()
        if n > 100_000:
            raise ValueError(f"transpose of {n} rows would materialize driver-side; refusing")
        import warnings as _warnings

        if n > TRANSPOSE_MAX_COLS:
            # NOT silent (r7): the distributed path declined on width — the
            # guard is an empirical Spark schema budget, not a correctness
            # limit. The measured knee is in OPTIMIZATION_profile.md
            # ("Transpose width budget"): per-column wall cost is flat
            # ~0.6ms/col from 10k to 20k transposed columns and rises ~45%
            # above as the wide projection leaves whole-stage codegen; wider
            # still WORKS (40k measured at 35s) but grows superlinearly
            _warnings.warn(
                f"transpose of {n} rows exceeds the distributed column budget "
                f"(TRANSPOSE_MAX_COLS={TRANSPOSE_MAX_COLS}); materializing "
                "driver-side — above ~20k columns the wide Spark projection "
                "leaves whole-stage codegen (OPTIMIZATION_profile.md, "
                "\"Transpose width budget\")",
                stacklevel=2,
            )
        # result-required: the over-budget transpose is driver data
        return _transpose_pandas(self.to_pandas())

    def _transpose_distributed(self) -> "DataFrame | None":
        """melt+pivot transpose for tall-narrow frames of ANY dtype mix.
        Numeric frames melt as double directly; mixed frames melt the cell
        values as STRINGS and retype each transposed column afterwards from
        one tiny per-header probe aggregate (bigint if every value parses
        integral, double if numeric, else string — mirroring the coercion
        pandas T + to_numeric would apply). The melt/map keys on the global
        POSITION (not the header string), so duplicate index labels become
        pandas-style duplicate column labels and a multi-level index becomes
        MultiIndex columns (both representable since the r7 positional-name
        label table). Returns None only when the frame exceeds the column
        budget (TRANSPOSE_MAX_COLS, 20k transposed columns — the measured
        per-column-cost knee, OPTIMIZATION_profile.md) — driver path."""
        from modin_spark.core.frame import fresh_names

        max_cols = TRANSPOSE_MAX_COLS
        # persist the ORDERED input ONCE, below the position derivation: the
        # header collect, the retype probe and the final melt/pivot action
        # each replay the whole upstream plan otherwise — a T.T round trip
        # paid for its source aggregation 3x (r15 opt). Persisting ABOVE
        # with_global_position is incorrect: its offsets join evaluates the
        # nondeterministic monotonically_increasing_id in two plan branches,
        # and the cached compilation can partition them differently, so the
        # branch pids diverge and the join drops rows; freezing the ORDER
        # values below the join makes both branches read identical ids.

        # a transpose OUTPUT's index values live on the driver already (they
        # are the source frame's column labels, embedded as literals in the
        # output plan), so a second transpose — the T.T round trip — can skip
        # the header-collect action entirely (r15 opt: one fewer Spark job +
        # one fewer upstream replay per round trip). The annotation is set
        # ONLY by this method on its direct output and is deliberately NOT
        # propagated by _same_rows/_subset_rows: any row subset, reorder or
        # column op between the transposes drops it and the collect path
        # below runs as before.
        known = getattr(self._frame, "_transpose_known_index", None)
        numeric_only = len(self._numeric_positions()) == len(self._frame.columns)

        base = self._frame.ensure_order()
        # known + numeric_only (the T.T round trip's second transpose): the
        # header collect is skipped AND the retype probe is skipped, so the
        # melt is the input's ONLY consumer — a persist would materialize a
        # cache nobody reads twice (r16 opt; the first transpose keeps it:
        # its header collect + final melt both replay the upstream agg
        # otherwise). Positions on this path are a pure projection of the
        # dense transpose-output ORDER, adding no second consumer either.
        if not (known is not None and numeric_only):
            base = base._same_rows(pin(base.sdf))
            # per-pid position offsets read the PERSISTED rows (<= max_cols
            # by the transpose guard), not the attach-time lineage: for an
            # aggregate source the "narrow" replay still re-runs the whole
            # upstream groupby exchange once per consuming action (r16 opt —
            # the header collect and the final melt each paid it; at scale
            # that replay is O(data), the cache read is O(output))
            base._mid_offsets_src = base.sdf
            base._mid_offsets_memo = {}
        fr = base.with_global_position("__pos__")

        def _bq(p: str) -> str:
            return "`" + p.replace("`", "``") + "`"

        def cell_sql(p: str, dt: str) -> str:
            if numeric_only:
                return f"CAST({_bq(p)} AS DOUBLE)"
            if dt == "boolean":  # pandas str(True) capitalization
                return f"CASE WHEN {_bq(p)} THEN 'True' WHEN NOT {_bq(p)} THEN 'False' END"
            return f"CAST({_bq(p)} AS STRING)"

        dts = dict(fr.sdf.dtypes)
        cells = [cell_sql(p, dts.get(p, "")) for p in fr.data_cols]
        # mixed frames need a per-output-column retype (bigint/double/string)
        # decided by how every stringified cell in the source ROW parses.
        # The old shape aggregated the melt by __pos__ — but each __pos__
        # group is exactly ONE source row's w cells, so the same three counts
        # are a ROW-WISE expression over the unexploded input: no melt
        # replay, no Exchange, and the probe piggybacks on the header collect
        # as extra columns (one Spark action where there were two; r15 opt).
        probe_sqls: list[str] = []
        if not numeric_only:
            arr = "array(" + ", ".join(cells) + ")"
            probe_sqls = [
                f"size(filter({arr}, x -> x IS NOT NULL)) AS __pn__",
                f"size(filter({arr}, x -> try_cast(x AS BIGINT) IS NOT NULL)) AS __pl__",
                f"size(filter({arr}, x -> try_cast(x AS DOUBLE) IS NOT NULL)) AS __pd__",
            ]

        col_types: dict[int, str] = {}

        def _types_from(rows) -> None:
            for r in rows:
                if r["__pn__"] == 0 or r["__pd__"] == r["__pn__"]:
                    col_types[r["__pos__"]] = (
                        "bigint" if r["__pn__"] and r["__pl__"] == r["__pn__"] else "double"
                    )
                else:
                    col_types[r["__pos__"]] = "string"

        if known is not None:
            if len(known) > max_cols or len(known) == 0:
                return None
            # global positions are dense 0..n-1 by construction; the stored
            # Index is already in positional order with the right names
            positions = list(range(len(known)))
            headers = known
            sdf = fr.sdf
            if probe_sqls:
                # no header collect to piggyback on — still one action, but
                # row-wise (no melt, no Exchange) instead of the old
                # melt+groupBy probe. shape-deciding: the column retypes
                _types_from(sdf.selectExpr("__pos__", *probe_sqls).collect())
        else:
            # headers keep their NATIVE type (pandas T: an int index makes int
            # column labels, the default positional index makes 0..n-1 ints) —
            # labels are pure metadata since the r7 positional physical names
            lvl_exprs = (
                [F.col(c) for c in fr.index_cols]
                if fr.index_cols
                else [F.col("__pos__")]
            )
            sdf = fr.sdf
            # shape-deciding: the transposed column labels (+ retypes)
            hdr_rows = (
                sdf.select(
                    "__pos__",
                    *[e.alias(f"__hl{i}__") for i, e in enumerate(lvl_exprs)],
                    *[F.expr(s) for s in probe_sqls],
                )
                .orderBy("__pos__")
                .limit(max_cols + 1)
                .collect()
            )
            if len(hdr_rows) > max_cols or len(hdr_rows) == 0:
                return None
            positions = [r["__pos__"] for r in hdr_rows]
            if probe_sqls:
                _types_from(hdr_rows)
            if len(lvl_exprs) > 1:
                headers = pd.MultiIndex.from_tuples(
                    [tuple(r[f"__hl{i}__"] for i in range(len(lvl_exprs))) for r in hdr_rows],
                    names=list(fr.index_names),
                )
            else:
                # pandas parity: T's columns carry the old index's name
                headers = pd.Index(
                    [r["__hl0__"] for r in hdr_rows],
                    name=fr.index_names[0] if fr.index_cols else None,
                )

        # the melt is rendered as ONE selectExpr string — building w
        # F.struct Column objects costs ~3 py4j round-trips per column and
        # dominated wide-frame transpose build time (500 cols: ~8s of pure
        # driver-side construction, measured; the SQL string is one call)
        entries = ", ".join(
            f"named_struct('__cid__', {ci}, '__v__', {c})"
            for ci, c in enumerate(cells)
        )
        melted = sdf.selectExpr("__pos__", f"explode(array({entries})) AS __e__").selectExpr(
            "__pos__", "__e__.__cid__ AS __cid__", "__e__.__v__ AS __v__"
        )
        # r7: ONE map-collect per output row instead of groupBy().pivot() —
        # a w-column pivot compiles w first() aggregates (codegen blew the
        # JVM code cache and took minutes at w=5k); map_from_entries +
        # element_at projections keep the agg single-expression and the wide
        # part a flat projection (5k cols: 121s -> ~3s, 20k cols feasible).
        # Row width bound: a transposed row IS w cells in any engine — the
        # max_cols guard is the declared budget for that.
        agged = melted.groupBy("__cid__").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__pos__"), F.col("__v__")))
            ).alias("__m__")
        )
        phys = fresh_names(len(headers))

        def _esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        # the extract + retype + order/label projection is ONE selectExpr —
        # a per-column Column-object chain costs ~3 py4j round-trips per
        # column and a second wide analysis pass (~25s of the old build
        # time at w=5k)
        src_cols = fr.columns
        lvl_tuples = (
            [tuple(t) for t in src_cols]
            if isinstance(src_cols, pd.MultiIndex)
            else [(l,) for l in src_cols]
        )
        n_lvls = len(lvl_tuples[0])
        def _lvl_sql(lv: int) -> str:
            # labels keep their NATIVE type (pandas T.T round-trips an int
            # default index back to ints, not '0','1',... strings)
            vals = [t[lv] for t in lvl_tuples]
            if all(isinstance(v, (int, np.integer)) and not isinstance(v, bool)
                   for v in vals):
                return "array(" + ", ".join(f"CAST({int(v)} AS BIGINT)" for v in vals) + ")"
            if all(isinstance(v, (int, float, np.integer, np.floating))
                   and not isinstance(v, bool) and np.isfinite(v) for v in vals):
                return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in vals) + ")"
            return "array(" + ", ".join(
                "CAST(NULL AS STRING)" if v is None else f"'{_esc(str(v))}'"
                for v in vals) + ")"

        lbl_sqls = [_lvl_sql(lv) for lv in range(n_lvls)]
        lbl_phys = ["__lbl__"] if n_lvls == 1 else [f"__lbl{lv}__" for lv in range(n_lvls)]

        def _cell_sql(pos: int, p: str) -> str:
            e = f"element_at(__m__, CAST({pos} AS BIGINT))"
            if pos in col_types:
                e = f"CAST({e} AS {col_types[pos]})"
            return f"{e} AS {p}"

        out_sdf = agged.selectExpr(
            f"CAST(__cid__ AS BIGINT) AS {ORDER_COL}",
            *[
                f"element_at({ls}, CAST(__cid__ AS INT) + 1) AS {lp}"
                for ls, lp in zip(lbl_sqls, lbl_phys)
            ],
            *[_cell_sql(pos, p) for pos, p in zip(positions, phys)],
        )
        idx_names = list(src_cols.names) if isinstance(src_cols, pd.MultiIndex) else [src_cols.name]
        nf = SparkFrame(
            out_sdf, headers, phys, index_cols=lbl_phys, index_names=idx_names,
            has_order=True,
        )
        # ORDER is the __cid__ stream 0..w-1 — dense by construction, so a
        # downstream positional consumer (the second transpose of a T.T
        # round trip, melt) projects positions instead of running the
        # bucket/row_number/offsets machinery (r16 opt)
        nf.order_dense = True
        # the output's index VALUES are src_cols, already on the driver —
        # lets a directly-following transpose (T.T) skip its header collect
        # (see `known` above; never propagated past this exact frame)
        nf._transpose_known_index = src_cols
        return DataFrame(_frame=nf)

    @property
    def T(self) -> "DataFrame":
        return self.transpose()

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Patch NULL cells from ``other``, aligned on the index — one outer
        join + per-column coalesce."""
        a, b = self, other
        af, bf = a._frame, b._frame
        # promote each DEFAULT-index side INDEPENDENTLY to its positional
        # labels (gaps survive filters): a default index still aligns BY
        # LABEL (0..n-1) against the other side's real index — relabeling
        # both sides would silently align by position (wrong rows patched)
        if not af.index_cols:
            af = af.with_pandas_labels("__cfp__")
            af = af._same_rows(af.sdf, index_cols=["__cfp__"], index_names=[None])
        if not bf.index_cols:
            bf = bf.with_pandas_labels("__cfp2__")
            bf = bf._same_rows(bf.sdf, index_cols=["__cfp2__"], index_names=[None])
        merged = qc.merge(af, bf, how="outer", left_index=True, right_index=True, suffixes=("__a", "__b"))
        out_labels, exprs = [], []
        b_labels = set(bf.columns)
        for lbl in af.columns:
            if lbl in b_labels:
                pa = merged.phys_of_label(f"{lbl}__a")
                pb = merged.phys_of_label(f"{lbl}__b")
                exprs.append(F.coalesce(F.col(pa), F.col(pb)))
            else:
                exprs.append(F.col(merged.phys_of_label(lbl)))
            out_labels.append(lbl)
        for lbl in bf.columns:
            if lbl not in set(af.columns):
                out_labels.append(lbl)
                exprs.append(F.col(merged.phys_of_label(lbl)))
        return DataFrame(_frame=merged.project(out_labels, exprs))

    def equals(self, other: "DataFrame") -> bool:
        """Exact content equality in frame order — join on global position and
        bool_and over null-safe comparisons."""
        a, b = self._frame.with_global_position("__pa__"), other._frame.with_global_position("__pb__")
        if list(a.columns) != list(b.columns):
            return False
        bsel = b.sdf.select(F.col("__pb__"), *[F.col(p).alias(f"__r_{i}") for i, p in enumerate(b.data_cols)])
        j = a.sdf.join(bsel, a.sdf["__pa__"] == bsel["__pb__"], "full_outer")
        conds = [a.sdf[p].eqNullSafe(F.col(f"__r_{i}")) for i, p in enumerate(a.data_cols)]
        both = F.col("__pa__").isNotNull() & F.col("__pb__").isNotNull()
        allc = conds[0]
        for c in conds[1:]:
            allc = allc & c
        row = j.agg(F.coalesce(F.bool_and(both & allc), F.lit(True)).alias("eq")).collect()[0]
        return bool(row["eq"])

    def compare(self, other: "DataFrame", align_axis=1, keep_shape: bool = False,
                keep_equal: bool = False) -> "DataFrame":
        """Cell differences — position-join, keep rows with any difference,
        emit (col_self, col_other) pairs like pandas ``compare``. pandas also
        DROPS all-equal columns (unless keep_shape) — which columns differ is
        decided by one tiny k-boolean aggregate (column METADATA by
        definition, k = ncols), then the narrowed projection runs
        distributed. The result keeps the ORIGINAL row labels."""
        if align_axis not in (1, "columns"):
            raise NotImplementedError("compare(align_axis=0)")
        a = self._frame.with_pandas_labels("__pa__")
        b = other._frame.with_pandas_labels("__pb__")
        bsel = b.sdf.select(F.col("__pb__"), *[F.col(p).alias(f"__r_{i}") for i, p in enumerate(b.data_cols)])
        j = a.sdf.join(bsel, a.sdf["__pa__"] == bsel["__pb__"], "inner")
        diffs = [~a.sdf[p].eqNullSafe(F.col(f"__r_{i}")) for i, p in enumerate(a.data_cols)]
        any_diff = diffs[0]
        for d in diffs[1:]:
            any_diff = any_diff | d
        if keep_shape:
            keep_idx = list(range(len(a.data_cols)))
        else:
            j = j.where(any_diff)
            flags = j.agg(*[F.max(d.cast("int")).alias(f"__d{i}") for i, d in enumerate(diffs)]).collect()
            row0 = flags[0] if flags else None
            keep_idx = [i for i in range(len(a.data_cols))
                        if row0 is not None and (row0[f"__d{i}"] or 0) > 0]
        out_labels, exprs = [], []
        for i in keep_idx:
            lbl, p = a.columns[i], a.data_cols[i]
            out_labels += [(lbl, "self"), (lbl, "other")]
            if keep_equal:
                exprs += [a.sdf[p], F.col(f"__r_{i}")]
            else:
                exprs += [F.when(diffs[i], a.sdf[p]), F.when(diffs[i], F.col(f"__r_{i}"))]
        fr = SparkFrame(j.withColumn(ORDER_COL, F.col("__pa__")), pd.Index(["dummy"]),
                        [a.data_cols[0]], ["__pa__"], [None])
        out = fr.project(out_labels, exprs)
        # the label level rides as the index; expose it pandas-style (plain
        # unnamed index of original labels)
        return DataFrame(_frame=out)

    # ------------------------------------------------------------------ UDF
    def apply(self, func, axis=0, raw=False, result_type=None, args=(), **kwds):
        if args or kwds:
            inner = func
            func = lambda s, _f=inner, _a=tuple(args), _k=dict(kwds): _f(s, *_a, **_k)
        if axis in (1, "columns"):
            # row-wise UDF via applyInPandas-free pandas_udf over struct
            sample = self.head(100).to_pandas()
            fr = self._frame
            labels = list(fr.columns)
            phys = list(fr.data_cols)

            from pyspark.sql import types as T

            probe = sample.apply(func, axis=1)
            if result_type == "expand" or isinstance(probe, pd.DataFrame):
                # list- or Series-returning func expands to k columns: the
                # udf returns ONE array column, the projection fans it out —
                # still a single vectorized pass, no shuffle.  A Series
                # result's index becomes the output columns (pandas infers
                # expansion; column set fixed by the driver sample).
                if isinstance(probe, pd.DataFrame) and result_type != "expand":
                    exp_sample = probe
                    out_labels = list(exp_sample.columns)
                    inner0 = func
                    func = lambda r, _f=inner0, _c=out_labels: _f(r).reindex(_c)
                else:
                    exp_sample = sample.apply(func, axis=1, result_type="expand")
                    out_labels = list(exp_sample.columns)
                el_t = pandas_dtype_to_spark(
                    exp_sample.dtypes.iloc[0] if len(exp_sample.columns) else np.dtype("float64")
                )

                @F.pandas_udf(T.ArrayType(el_t))
                def _audf(batch: pd.DataFrame) -> pd.Series:
                    batch.columns = labels
                    return batch.apply(lambda r: list(func(r)), axis=1)

                struct = F.struct(*[F.col(p) for p in phys])
                base = fr.project(["__arr__"], [_audf(struct)])
                arr = base.scol(0)
                out = base.project(out_labels, [F.element_at(arr, i + 1) for i in range(len(out_labels))])
                return DataFrame(_frame=out)
            out_sample = probe
            out_t = pandas_dtype_to_spark(out_sample.dtype)

            @F.pandas_udf(out_t)
            def _udf(batch: pd.DataFrame) -> pd.Series:
                batch.columns = labels
                return batch.apply(func, axis=1)

            struct = F.struct(*[F.col(p) for p in phys])
            return Series(fr, _udf(struct), set(phys), None)
        return self._apply_axis0(func)

    def _apply_axis0(self, func):
        """Column-wise UDF, distributed (reference runs these through
        apply_full_axis over column partitions,
        /root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:2956).

        Plan: melt all numeric columns into (pos, cid, value) rows — ONE
        shuffle — then groupBy(cid).applyInPandas hands each column WHOLE to
        ``func`` in its own task (parallelism = #columns; one task holds one
        full column, the same cost class as a reference axis partition).
        Transform-shaped results (len-preserving) pivot back onto the frame
        by position; reduction-shaped results (scalar per column) come back
        as a k-row aggregate -> pandas Series, matching the house reduction
        style. Non-numeric columns (or unrecognized result shapes) use the
        declared driver fallback.

        A func that is one decomposable Series call (pandas/kernels.py)
        skips all of that while ``native_max_rows()`` is on: ``count``,
        ``nunique``, ``min`` and ``max`` of at most that many columns are
        one row of per-column aggregates; ``value_counts`` is a
        per-(column, value) partial aggregate, merged by pandas on the
        driver when it fits the threshold."""
        import numpy as np
        from pyspark.sql import types as T

        fr = self._frame
        if not len(fr.columns):
            return self._default_to_pandas(lambda pdf: pdf.apply(func, axis=0))
        numeric = set(self._numeric_positions())
        all_numeric = len(numeric) == len(fr.columns)
        ordered = fr.ensure_order()
        k = len(fr.data_cols)
        sdts = dict(ordered.sdf.dtypes)

        def in_tag(sdt: str) -> str:
            if sdt.startswith(("tinyint", "smallint", "int", "bigint")):
                return "i"
            if sdt.startswith(("float", "double", "decimal")):
                return "f"
            if sdt == "boolean":
                return "b"
            if sdt.startswith("timestamp"):
                return "t"
            if sdt == "date":
                return "t"
            return "s"

        in_tags = [in_tag(sdts.get(p, "")) for p in fr.data_cols]
        # FLOAT-only frames melt as double (fast, codegen-friendly); any
        # other dtype mix — including int/bool columns — melts STRINGIFIED
        # (lossless) with per-cid tags to rebuild the typed pandas Series
        # inside the task. Ints deliberately take the tagged path: the
        # double melt would hand func float values (1 -> 1.0, visible to
        # astype(str)-style funcs) and lose exact integers past 2^53.
        # (reference distributes all dtypes the same way via column
        # partitions, ref dataframe.py:2956)
        all_numeric = all_numeric and all(t == "f" for t in in_tags)
        # ONE selectExpr string, not k F.struct Column objects — same
        # wide-frame py4j construction tax as the transpose melt (see
        # _transpose_distributed)
        def _bq(p: str) -> str:
            return "`" + p.replace("`", "``") + "`"

        _vt = "DOUBLE" if all_numeric else "STRING"
        entries = ", ".join(
            f"named_struct('__cid__', {ci}, '__v__', CAST({_bq(p)} AS {_vt}))"
            for ci, p in enumerate(fr.data_cols)
        )
        # every branch melts the frame's index levels alongside the values,
        # and func receives its Series with the REAL typed index —
        # idxmax/head/nlargest-style label-dependent funcs see pandas'
        # labels (a MultiIndex for multi-level frames) in all three
        # branches; default-index frames use the global position, which IS
        # the pandas default label
        def _decode_tagged(vals: pd.Series, tag: str) -> pd.Series:
            """stringified column -> typed pandas Series (shared by value
            and index decode)."""
            if tag == "i":
                return pd.to_numeric(vals)  # int64, or float64 when nulls present
            if tag == "f":
                return vals.astype("float64")
            if tag == "b":
                return vals.map({"true": True, "false": False})
            if tag == "t":
                return pd.to_datetime(vals)
            return vals

        def rebuild(vals: pd.Series, tag: str) -> pd.Series:
            if all_numeric:  # float-only melt: values arrive as doubles
                return pd.Series(vals.to_numpy())
            return pd.Series(_decode_tagged(vals, tag).to_numpy())

        # decomposable kernels (pandas/kernels.py), with no global
        # positions, applyInPandas, pin or fingerprint. Dtype overlays
        # (categorical, nullable extension) keep the generic path: their
        # pandas answers depend on more than the stored values.
        call = None
        if not (getattr(self, "_to_pandas_ext_dtypes", None)
                or getattr(self, "_to_pandas_convert_dtypes", False)):
            call = _kernels.recognise(func)
        if call is not None and call[0] in _kernels.REDUCTIONS and 0 < k <= native_max_rows():
            # count / nunique / min / max: one row of per-column aggregates;
            # NaN is missing to pandas, and Spark orders it above every number;
            # min/max come back in the type the melt hands values over in
            kw = {"skipna": call[1].get("dropna", True)}
            if call[0] in ("min", "max"):
                kw["cast"] = _vt
            specs = []
            for ci in range(k):
                c, t = fr.scol(ci), fr.spark_type_of(ci)
                c = _nan_to_null(c) if isinstance(t, (T.FloatType, T.DoubleType)) else c
                specs.append((c, call[0], t, kw))
            # result-required: the reduction is a driver Series
            vals = qc.reduce_columns(fr.sdf, specs)
            return _kernels.finish(fr.columns, [
                _kernels.reduction_result(call[0], v, lambda x: rebuild(x, in_tags[ci]))
                for ci, v in enumerate(vals)
            ])
        if call is not None and call[0] == "value_counts":
            # one partial aggregate per (column, value) over the melt — its
            # count and first position
            partials = ordered.sdf.selectExpr(
                ORDER_COL, f"explode(array({entries})) AS __e__"
            ).selectExpr(ORDER_COL, "__e__.__cid__ AS __cid__", "__e__.__v__ AS __v__")
            partials = partials.groupBy("__cid__", "__v__").agg(
                F.count(F.lit(1)).alias("__n__"), F.min(ORDER_COL).alias("__o__"))
            # shape-deciding: the distinct values are the result's labels
            parts = collect_small(partials)
            if parts is not None and len(parts):
                by_cid = dict(tuple(parts.groupby("__cid__")))
                out = _kernels.finish(fr.columns, [
                    _kernels.value_counts_result(
                        call[1],
                        rebuild(by_cid[ci]["__v__"], in_tags[ci]).rename(fr.columns[ci]),
                        by_cid[ci]["__n__"].to_numpy(),
                        by_cid[ci]["__o__"].to_numpy(),
                    )
                    for ci in range(k)
                ])
                try:
                    return DataFrame(out)
                except (TypeError, ValueError):
                    # a union index of mixed label types has no Spark column
                    # type; the generic path stringifies the labels
                    pass

        # shape-deciding: the shape probe on a driver sample (same technique
        # as the axis=1 path), under the columns' overlay dtypes
        sample = self.head(100).to_pandas()
        out_sample = sample.apply(func, axis=0)
        reduction = isinstance(out_sample, pd.Series)
        if not reduction and (
            not isinstance(out_sample, pd.DataFrame)
            or list(out_sample.columns) != list(sample.columns)
        ):
            return self._default_to_pandas(lambda pdf: pdf.apply(func, axis=0))
        # shape-changing (value_counts / describe / head-like) results run
        # distributed too (r7) — see the reshape branch below. The
        # discriminator is INDEX equality, not length: pandas aligns
        # per-column results on their index, and positional (transform)
        # alignment is only equivalent when the output index IS the input's
        # (a same-LENGTH value_counts with different labels must still
        # reshape).
        reshaping = not reduction and not out_sample.index.equals(sample.index)

        fr2 = ordered.with_global_position("__pos__")
        n_lvl = len(fr.index_cols)
        idx_sel = [
            f"CAST({_bq(c)} AS STRING) AS __ilbl{i}__" for i, c in enumerate(fr.index_cols)
        ]
        idx_pass = [f"__ilbl{i}__" for i in range(n_lvl)]
        idx_tags = [in_tag(sdts.get(c, "")) for c in fr.index_cols]
        melted = fr2.sdf.selectExpr(
            "__pos__", *idx_sel, f"explode(array({entries})) AS __e__"
        ).selectExpr("__pos__", *idx_pass, "__e__.__cid__ AS __cid__", "__e__.__v__ AS __v__")

        ext_dtypes = getattr(self, "_to_pandas_ext_dtypes", None) or {}
        labels = list(fr.columns)

        def input_series(pdf: pd.DataFrame, cid: int) -> pd.Series:
            """func's view of one column: typed values under the column's
            overlay dtype (categorical, nullable extension), REAL typed index
            (MultiIndex for multi-level frames) and the column label as its
            name (by position, so duplicate and tuple labels resolve)."""
            vals = rebuild(pdf["__v__"], in_tags[cid]).to_numpy()
            if n_lvl == 0:
                idx = pdf["__pos__"].to_numpy()
            elif n_lvl == 1:
                idx = _decode_tagged(pdf["__ilbl0__"], idx_tags[0]).to_numpy()
            else:
                idx = pd.MultiIndex.from_arrays([
                    _decode_tagged(pdf[f"__ilbl{i}__"], idx_tags[i]).to_numpy()
                    for i in range(n_lvl)
                ])
            out = pd.Series(vals, index=idx, name=labels[cid])
            dtype = ext_dtypes.get(labels[cid])
            return out if dtype is None else out.astype(dtype)

        # the OUTPUT codec keys on the SAMPLED result dtypes, not the input
        # melt: a float frame's func can return strings/bools/ints, which
        # must ride the string codec (ints for exactness past 2^53)
        if reduction:
            out_numeric = all_numeric and out_sample.dtype.kind == "f"
        else:
            out_numeric = all_numeric and all(
                out_sample.iloc[:, ci].dtype.kind == "f" for ci in range(k)
            )

        def encode_out(r) -> list:
            if out_numeric:
                return [
                    None if v is None or (isinstance(v, float) and v != v) else float(v)
                    for v in pd.Series(r).tolist()
                ]
            out = []
            for v in pd.Series(r).tolist():
                if v is None or (isinstance(v, float) and v != v) or v is pd.NaT:
                    out.append(None)
                elif isinstance(v, (bool, np.bool_)):
                    out.append("True" if v else "False")
                elif isinstance(v, (float, np.floating)):
                    out.append(repr(float(v)))
                else:
                    out.append(str(v))
            return out

        out_t = T.DoubleType() if out_numeric else T.StringType()

        def out_cast(ci):
            """Target Spark type per column POSITION from the SAMPLED output
            dtype (documented sampling contract, same as groupby_apply;
            positional so duplicate column labels resolve correctly)."""
            kind = out_sample.iloc[:, ci].dtype.kind if not reduction else "O"
            return {"i": "bigint", "u": "bigint", "f": "double", "b": "boolean",
                    "M": "timestamp"}.get(kind, "string")

        if reshaping:
            # SHAPE-CHANGING columnwise UDF (value_counts / describe /
            # head-like): each column's task receives its Series with the
            # frame's REAL index (typed rebuild of the melted index labels;
            # default-index frames use the global position, which IS the
            # pandas default label, so head/tail/nlargest keep the right
            # labels) and returns its result labeled by that result's own
            # index. Alignment is pandas': one k-row per-column fingerprint
            # action decides the shape —
            #   identical per-column indexes (incl. DUPLICATE labels) ->
            #   rows key on the result POSITION, original order and dup
            #   rows survive;
            #   differing unique indexes -> rows key on the label and
            #   union-SORT (numerically for numeric indexes);
            #   differing indexes with duplicate labels -> pandas' own
            #   "cannot reindex" error.
            # Task output is persisted so the fingerprint action does not
            # run ``func`` twice; cache lifetime is a bounded FIFO registry
            # (not GC-coupled — frames DERIVED from the result share the
            # lineage, so an eager unpersist on the wrapper's collection
            # would silently re-run func on their next action).
            from modin_spark.core.frame import fresh_names

            # the RESULT index may itself be multi-level (head-like funcs on
            # a MultiIndex-ed frame, groupby-shaped results): one stringified
            # label column PER result level rides the task output; the input
            # index — any nlevels — already reached func via input_series,
            # so no input-shape fallback remains (r8; §2.1 apply_full_axis
            # fully distributed)
            m = out_sample.index.nlevels
            lbl_cols = [f"__lbl{j}__" for j in range(m)]
            schema = T.StructType(
                [T.StructField(lc, T.StringType()) for lc in lbl_cols]
                + [
                    T.StructField("__seq__", T.LongType()),
                    T.StructField("__cid__", T.IntegerType()),
                    T.StructField("__o__", out_t),
                ]
            )

            # result labels canonicalize per the SAMPLED union-index kind:
            # pandas unifies int 0 and float 0.0 labels across columns, so
            # an int column's labels must stringify identically to a float
            # column's when the union index is float (kind is dtype-driven,
            # hence sample-stable)
            lbl_kinds = [
                out_sample.index.get_level_values(j).dtype.kind for j in range(m)
            ]

            def lblstr(x, kind) -> str:
                if kind in "iu":
                    return str(int(x))
                if kind == "f":
                    return repr(float(x))
                return str(x)

            def apply_reshape(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("__pos__")
                cid = int(pdf["__cid__"].iloc[0])
                r = func(input_series(pdf, cid))
                if not isinstance(r, pd.Series):
                    r = pd.Series(r)
                if r.index.nlevels != m:
                    raise ValueError(
                        f"modin_spark apply(axis=0): func returned a "
                        f"{r.index.nlevels}-level index for column {cid} but the "
                        f"driver sample (head(100)) produced {m} levels; funcs "
                        f"must return a consistent index shape across columns "
                        f"and sample sizes"
                    )
                data = {}
                for j in range(m):
                    lv = r.index.get_level_values(j)
                    data[lbl_cols[j]] = [lblstr(x, lbl_kinds[j]) for x in lv]
                data["__seq__"] = np.arange(len(r), dtype="int64")
                data["__cid__"] = np.full(len(r), cid, dtype="int32")
                data["__o__"] = encode_out(r)
                return pd.DataFrame(data)

            rp = fresh_names(k)
            # pinned so the alignment fingerprint below and the final
            # projection read one UDF pass instead of running func twice
            res = pin(melted.groupBy("__cid__").applyInPandas(apply_reshape, schema))
            # per-column fingerprint of the (position, label-tuple) multiset:
            # a SUM of per-row 60-bit hashes — order-independent, fully
            # distributed (partial aggregation; no collect_list holding a
            # high-cardinality column's whole result in one task). Each
            # label level is hex-encoded before joining so the \x02
            # separator can never occur inside a component (unambiguous for
            # ANY label content, any nlevels). k tiny rows decide the
            # alignment shape. shape-deciding: aligned or union-sorted rows
            fp = res.groupBy("__cid__").agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct(*[F.col(lc) for lc in lbl_cols])).alias("nd"),
                F.sum(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(
                                "\x02",
                                F.col("__seq__").cast("string"),
                                *[F.hex(F.encode(F.col(lc), "UTF-8")) for lc in lbl_cols],
                            )),
                            1, 15,
                        ),
                        16, 10,
                    ).cast("decimal(38,0)")
                ).alias("fp"),
            ).collect()
            aligned = (
                len(fp) == k
                and len({r["fp"] for r in fp}) == 1
                and len({r["n"] for r in fp}) == 1
            )
            if not aligned and any(r["nd"] != r["n"] for r in fp):
                unpin(res)
                raise ValueError("cannot reindex on an axis with duplicate labels")
            idx_casts = [
                {"i": "bigint", "u": "bigint", "f": "double", "b": "boolean",
                 "M": "timestamp"}.get(lbl_kinds[j])
                for j in range(m)
            ]

            def _order_of(j):
                c = F.col(lbl_cols[j])
                return c.cast("double") if lbl_kinds[j] in "iuf" else c

            val_aggs = [
                F.first(F.when(F.col("__cid__") == ci, F.col("__o__")), ignorenulls=True).alias(rp[ci])
                for ci in range(k)
            ]
            if aligned:
                g = res.groupBy("__seq__").agg(
                    *[F.first(lc).alias(lc) for lc in lbl_cols], *val_aggs
                )
                order_e = F.col("__seq__")
            else:
                # union-sort on the typed labels; multi-level sorts
                # lexicographically by level, pandas-style
                g = res.groupBy(*lbl_cols).agg(*val_aggs)
                order_e = (
                    _order_of(0) if m == 1
                    else F.struct(*[_order_of(j) for j in range(m)])
                )
            albls = [f"__albl{j}__" for j in range(m)]
            lbl_es = [
                (F.col(lbl_cols[j]).cast(idx_casts[j]) if idx_casts[j] else F.col(lbl_cols[j])).alias(albls[j])
                for j in range(m)
            ]
            sdf = g.select(
                order_e.alias(ORDER_COL),
                *lbl_es,
                *[F.col(rp[ci]).cast(out_cast(ci)).alias(rp[ci]) for ci in range(k)],
            )
            nf = SparkFrame(
                sdf, pd.Index(list(fr.columns)), rp,
                index_cols=albls, index_names=list(out_sample.index.names),
                has_order=True,
            )
            out = DataFrame(_frame=nf)
            if isinstance(out_sample.index, pd.CategoricalIndex):
                # a categorical column's results keep pandas' CategoricalIndex
                out._post_to_pandas_index = (
                    lambda ix, _d=out_sample.index.dtype: ix.astype(_d))
            return out

        if reduction:
            schema = T.StructType([
                T.StructField("__cid__", T.IntegerType()), T.StructField("__o__", out_t)
            ])

            def apply_red(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("__pos__")
                cid = int(pdf["__cid__"].iloc[0])
                r = func(input_series(pdf, cid))
                return pd.DataFrame({"__cid__": [cid], "__o__": encode_out([r])})

            # result-required: the reduction is a driver Series
            rows = melted.groupBy("__cid__").applyInPandas(apply_red, schema).collect()
            vals = {r["__cid__"]: r["__o__"] for r in rows}
            if out_numeric:
                return pd.Series([vals.get(ci) for ci in range(k)], index=list(fr.columns))

            def decode_scalar(ci, v):
                sv = out_sample.iloc[ci]  # positional: dup labels resolve
                if v is None:
                    return np.nan
                if isinstance(sv, (bool, np.bool_)):
                    return v in ("True", "true")
                if isinstance(sv, (int, np.integer)):
                    # encode_out stringifies ints without a decimal point —
                    # direct int() keeps exact values past 2^53; the float
                    # round-trip is only for a sampled-int/actual-float mix
                    try:
                        return int(v)
                    except ValueError:
                        return int(float(v))
                if isinstance(sv, (float, np.floating)):
                    return float(v)
                if isinstance(sv, pd.Timestamp):
                    return pd.Timestamp(v)
                return v

            return pd.Series(
                [decode_scalar(ci, vals.get(ci)) for ci in range(k)],
                index=list(fr.columns),
            )

        schema = T.StructType([
            T.StructField("__pos__", T.LongType()),
            T.StructField("__cid__", T.IntegerType()),
            T.StructField("__o__", out_t),
        ])

        def apply_col(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__pos__")
            cid = int(pdf["__cid__"].iloc[0])
            r = func(input_series(pdf, cid))
            if len(r) != len(pdf):
                # the driver sample (head(100)) classified func as
                # length-preserving, but on the full column it is not —
                # e.g. lambda s: s.head(100) on a 300-row frame, which the
                # truncated sample cannot distinguish from identity. Raise
                # the sampling contract explicitly instead of Spark's
                # opaque 'All arrays must be of the same length'.
                raise ValueError(
                    f"modin_spark apply(axis=0): func returned {len(r)} rows "
                    f"for a {len(pdf)}-row column, but the driver sample "
                    f"(head(100)) classified it as a length-preserving "
                    f"transform. Funcs whose output length depends on input "
                    f"length (head/tail/sample-like) violate the sampling "
                    f"contract; slice with .iloc on the frame instead, or "
                    f"make the output shape sample-stable."
                )
            return pd.DataFrame({
                "__pos__": pdf["__pos__"].to_numpy(),
                "__cid__": pdf["__cid__"].to_numpy(),
                "__o__": encode_out(r),
            })

        res = melted.groupBy("__cid__").applyInPandas(apply_col, schema)
        from modin_spark.core.frame import fresh_names

        rp = fresh_names(k)
        piv = res.groupBy("__pos__").pivot("__cid__", list(range(k))).agg(F.first("__o__"))
        piv = piv.select(F.col("__pos__").alias("__pp__"), *[F.col(str(ci)).alias(rp[ci]) for ci in range(k)])
        sdf = fr2.sdf.join(piv, fr2.sdf["__pos__"] == piv["__pp__"], "left").drop("__pp__")
        # out_cast keys on the sampled output kinds, so this is a no-op
        # double->double cast on the out_numeric fast path and the typed
        # decode (exact bigint, boolean, timestamp, string) otherwise
        casts = [F.col(rp[ci]).cast(out_cast(ci)) for ci in range(k)]
        out = fr2._same_rows(sdf).project(list(fr.columns), casts)
        return DataFrame(_frame=out._same_rows(out.sdf.drop("__pos__")))

    def _default_to_pandas(self, fn):
        """Escape hatch mirroring the reference's default_to_pandas
        (/root/reference/modin/core/storage_formats/base/query_compiler.py):
        driver-side pandas for the long tail. Guarded by size."""
        import warnings

        warnings.warn("modin_spark: falling back to driver-side pandas", stacklevel=3)
        pdf = self.to_pandas()
        res = fn(pdf)
        if isinstance(res, pd.DataFrame):
            return DataFrame(res)
        if isinstance(res, pd.Series):
            return Series._from_pandas(res)
        return res

    # ----------------------------------------------------------- API tail
    # Binary operators: each runs the same-named Series operator per column
    # (``_binary``); the flex methods take pandas' axis and fill_value.
    add = _flex("add")
    sub = subtract = _flex("sub")
    mul = multiply = _flex("mul")
    truediv = div = divide = _flex("truediv")
    floordiv = _flex("floordiv")
    mod = _flex("mod")
    pow = _flex("pow")
    radd = _flex("radd")
    rsub = _flex("rsub")
    rmul = _flex("rmul")
    rtruediv = rdiv = _flex("rtruediv")
    rfloordiv = _flex("rfloordiv")
    rmod = _flex("rmod")
    rpow = _flex("rpow")
    # flex comparisons align on labels (pandas: only the operators raise
    # on differently-labeled operands)
    eq = _flex("eq")
    ne = _flex("ne")
    lt = _flex("lt")
    le = _flex("le")
    gt = _flex("gt")
    ge = _flex("ge")

    # comparison DUNDERS: pandas raises on differently-labeled frames
    # (only the flex methods align). Enforced where cheap — both operands
    # driver-resident; distributed frames keep the documented relaxation.
    def _cmp_label_check(self, other):
        from modin_spark.pandas import native as _native

        if isinstance(other, DataFrame):
            # column labels are driver metadata — exact check is free;
            # row labels are only checked when both frames are
            # driver-resident (distributed: documented relaxation)
            if not self.columns.equals(other.columns):
                raise ValueError(
                    "Can only compare identically-labeled (both index and "
                    "columns) DataFrame objects")
            lp = _native.native_pdf_of(self)
            rp = _native.native_pdf_of(other)
            if lp is not None and rp is not None and not lp.index.equals(rp.index):
                raise ValueError(
                    "Can only compare identically-labeled (both index and "
                    "columns) DataFrame objects")

    __eq__ = _operator("__eq__", compare=True)  # type: ignore[assignment]
    __ne__ = _operator("__ne__", compare=True)  # type: ignore[assignment]
    __lt__ = _operator("__lt__", compare=True)
    __le__ = _operator("__le__", compare=True)
    __gt__ = _operator("__gt__", compare=True)
    __ge__ = _operator("__ge__", compare=True)
    __hash__ = None  # type: ignore[assignment]
    __add__ = _operator("__add__")
    __sub__ = _operator("__sub__")
    __mul__ = _operator("__mul__")
    __truediv__ = _operator("__truediv__")
    __floordiv__ = _operator("__floordiv__")
    __mod__ = _operator("__mod__")
    __pow__ = _operator("__pow__")
    __radd__ = _operator("__radd__")
    __rsub__ = _operator("__rsub__")
    __rmul__ = _operator("__rmul__")
    __rtruediv__ = _operator("__rtruediv__")
    __rfloordiv__ = _operator("__rfloordiv__")
    __rmod__ = _operator("__rmod__")
    __rpow__ = _operator("__rpow__")
    __and__ = _operator("__and__")
    __or__ = _operator("__or__")
    __xor__ = _operator("__xor__")
    __rand__ = _operator("__rand__")
    __ror__ = _operator("__ror__")
    __rxor__ = _operator("__rxor__")

    def __neg__(self) -> "DataFrame":
        return self._map(Series.__neg__)

    def __pos__(self) -> "DataFrame":
        return self._map(Series.__pos__)

    def __invert__(self) -> "DataFrame":
        return self._map(Series.__invert__)

    def pad(self):
        return self.ffill()

    def backfill(self):
        return self.bfill()

    def copy(self, deep: bool = True) -> "DataFrame":
        # frames are immutable lineages; copy = new wrapper over the same plan
        return DataFrame(_frame=self._frame)

    @property
    def ndim(self) -> int:
        return 2

    @property
    def size(self) -> int:
        return len(self) * len(self._frame.columns)

    def keys(self):
        return self.columns

    def bool(self) -> bool:
        vals = self.to_pandas()
        if vals.shape != (1, 1):
            raise ValueError("bool() requires a 1x1 DataFrame")
        return bool(vals.iloc[0, 0])

    def pop(self, col):
        s = self[col]
        self._frame = self.drop(columns=[col])._frame
        return s

    def isetitem(self, loc: int, value) -> None:
        self[self._frame.columns[loc]] = value

    def sample(self, n: int | None = None, frac: float | None = None, replace: bool = False,
               random_state: int | None = None, axis=0, weights=None,
               ignore_index: bool = False) -> "DataFrame":
        """Distributed sampling. ``frac`` is a per-partition Bernoulli/Poisson
        sample (no shuffle, exact at scale in expectation); exact-``n`` orders
        by a seeded rand() — a TakeOrdered top-n, never a full materialize.
        ``weights=`` draws n without replacement via the Efraimidis–Spirakis
        exponential-key trick (key = ln(U)/w, top-n) — also a TakeOrdered.
        ``axis=1`` samples COLUMNS — driver metadata, replayed with pandas'
        own RNG protocol so the chosen labels match."""
        fr = self._frame
        seed = random_state if random_state is not None else 42
        if axis in (1, "columns"):
            k = len(fr.columns)
            nn = n if n is not None else (round(frac * k) if frac is not None else None)
            if nn is None:
                raise ValueError("must provide n or frac")
            if not replace and nn > k:
                raise ValueError(
                    "Cannot take a larger sample than population when 'replace=False'")
            rs = np.random.RandomState(seed)
            locs = rs.choice(k, size=int(nn), replace=replace)
            return self._copy_col_meta(
                DataFrame(_frame=fr.select_positions([int(i) for i in locs])),
                labels={fr.columns[int(i)] for i in locs})
        if weights is not None:
            if n is None:
                raise ValueError("weights= requires n=")
            if isinstance(weights, (list, tuple, np.ndarray)):
                # raw sequence weights align positionally (pandas)
                pos_fr = fr.with_global_position("__swp__")
                arr = F.array(*[F.lit(float(v)) for v in weights])
                w = F.element_at(arr, (F.col("__swp__") + 1).cast("int"))
                fr = pos_fr
            elif isinstance(weights, str):
                w = F.col(fr.data_cols[fr.positions_of([weights])[0]]).cast("double")
            elif fr.can_rebase(weights._frame, weights._refs):
                w = weights._expr.cast("double")
            else:
                # cross-frame weights Series (pandas aligns by label):
                # join it on by index / global position like any aligned op
                wfr = weights._to_frame("__wcol__").ensure_order()
                fr = fr.ensure_order()
                fr, lkey = fr.align_keyed_with(wfr, "__swl__")
                wfr2, rkey = wfr.align_keyed_with(fr, "__swr__")
                wsdf = wfr2.sdf.select(
                    *[F.col(k).alias(f"__wk{i}__") for i, k in enumerate(rkey)],
                    F.col(wfr2.data_cols[0]).alias("__wval__"),
                )
                cond = None
                for i, k in enumerate(lkey):
                    c = fr.sdf[k] == wsdf[f"__wk{i}__"]
                    cond = c if cond is None else (cond & c)
                joined = fr.sdf.join(wsdf, cond, "left").drop(
                    *[f"__wk{i}__" for i in range(len(rkey))])
                fr = fr._same_rows(joined)
                w = F.col("__wval__").cast("double")
            key = F.log(F.rand(seed)) / w
            sdf = fr.sdf.withColumn("__wk__", F.when(w > 0, key))
            sdf = (sdf.where(F.col("__wk__").isNotNull())
                   .orderBy(F.col("__wk__").desc()).limit(int(n))
                   .drop("__wk__", "__wval__"))
            return DataFrame(_frame=fr._subset_rows(sdf))
        if replace and (n is not None or frac is not None):
            # pandas: EXACT count with replacement. n seeded uniform draws
            # joined against the blocked global position — distributed, one
            # equi-join; output order = draw order (pandas reuses original
            # labels; ours renumbers by draw — documented)
            from modin_spark.core.frame import ORDER_COL as _OC

            total = fr.count_rows()
            nn = int(n) if n is not None else int(round(float(frac) * total))
            base = fr.ensure_order().with_global_position("__sp__")
            spark = base.sdf.sparkSession
            draws = spark.range(nn).select(
                F.col("id").alias("__did__"),
                F.floor(F.rand(seed) * F.lit(total)).cast("long").alias("__pick__"),
            )
            j = draws.join(base.sdf, F.col("__pick__") == F.col("__sp__"), "inner")
            sdf = j.withColumn(_OC, F.col("__did__")).drop("__did__", "__pick__", "__sp__")
            nf = type(fr)(sdf, fr.columns, fr.data_cols, fr.index_cols, fr.index_names,
                          has_order=True)
            return DataFrame(_frame=nf)
        if frac is not None and n is None:
            # pandas: frac draws an EXACT round(frac*len) rows (a Bernoulli
            # per-partition sample would vary the count run to run). One
            # count + the same seeded TakeOrdered as exact-n.
            if float(frac) > 1.0:
                raise ValueError(
                    "Replace has to be set to `True` when upsampling the population `frac` > 1.")
            n = int(round(float(frac) * fr.count_rows()))
        if n is None:
            raise ValueError("must provide n or frac")
        if int(n) > fr.count_rows():
            # pandas contract: never silently return fewer rows
            raise ValueError(
                "Cannot take a larger sample than population when 'replace=False'")
        base = fr.ensure_order()
        sdf = base.sdf.orderBy(F.rand(seed)).limit(int(n))
        nf = type(fr)(sdf, fr.columns, fr.data_cols, fr.index_cols, fr.index_names, has_order=True)
        return DataFrame(_frame=nf)

    def filter(self, items=None, like: str | None = None, regex: str | None = None, axis=1) -> "DataFrame":
        """Label-based column selection (pandas filter; axis=1 only — row
        filtering by label goes through loc)."""
        import re as _re

        cols = list(self._frame.columns)
        if items is not None:
            keep = [i for i, c in enumerate(cols) if c in set(items)]
        elif like is not None:
            keep = [i for i, c in enumerate(cols) if like in str(c)]
        elif regex is not None:
            pat = _re.compile(regex)
            keep = [i for i, c in enumerate(cols) if pat.search(str(c))]
        else:
            raise TypeError("must pass items, like, or regex")
        return DataFrame(_frame=self._frame.select_positions(keep))

    def reindex(self, index=None, columns=None, fill_value=None, method=None,
                tolerance=None) -> "DataFrame":
        """Column reindex = projection (missing -> NULL/fill). Row reindex =
        left join of the target label list against the frame on the index
        column — the labels frame is small (driver-provided) and broadcast.
        ``method=`` ('ffill'/'bfill'/'nearest') fills label misses from the
        nearest existing label via the asof-join machinery (block+halo, no
        global window) — pandas requires a monotonic index here, same as us.
        ``tolerance=`` bounds the label distance a method fill may bridge
        (rides merge_asof's own tolerance; the nearest path masks both
        lookups before choosing a side)."""
        if index is not None and method is not None:
            from modin_spark.pandas.general import merge_asof as _ma
            from modin_spark.pandas.io import from_pandas as _fp

            right = DataFrame(_frame=self._frame).reset_index()
            key = right.columns[0]
            tgt = _fp(pd.DataFrame({key: list(index)}))
            if method == "nearest":
                # pandas tie-break: the LARGER label wins — merge_asof
                # 'nearest' breaks ties backward, so resolve the nearest KEY
                # explicitly (two asof key-lookups over a 1-column frame),
                # then one equi-join pulls the row
                rk = right[[key]]
                rk["__kb__"] = rk[key]
                look = _ma(tgt, rk, on=key, direction="backward", tolerance=tolerance)
                rk2 = right[[key]]
                rk2["__kf__"] = rk2[key]
                look = _ma(look, rk2, on=key, direction="forward", tolerance=tolerance)
                kb, kf, t = look["__kb__"], look["__kf__"], look[key]
                use_back = kb.notna() & (kf.isna() | ((t - kb) < (kf - t)))
                look["__nk__"] = kb.where(use_back, kf)
                sel = look[[key, "__nk__"]]
                rr = right.rename(columns={key: "__rk__"})
                merged = sel.merge(rr, left_on="__nk__", right_on="__rk__", how="left")
                out = merged.drop(columns=["__nk__", "__rk__"]).set_index(key)
            else:
                direction = {"ffill": "backward", "pad": "backward",
                             "bfill": "forward", "backfill": "forward"}[method]
                out = _ma(tgt, right, on=key, direction=direction,
                          tolerance=tolerance).set_index(key)
            # the reset_index/set_index round trip baked the synthesized
            # column name ("index") into the result; pandas keeps the
            # ORIGINAL index name (None for a default index)
            orig_name = self._frame.index_names[0] if self._frame.index_cols else None
            out = DataFrame(_frame=out._frame._same_rows(
                out._frame.sdf, index_names=[orig_name]))
            if columns is not None:
                out = out.reindex(columns=columns, fill_value=fill_value)
            return out
        out = self
        if columns is not None:
            fr = out._frame
            have = {c: i for i, c in enumerate(fr.columns)}
            labels, exprs = [], []
            for c in columns:
                labels.append(c)
                if c in have:
                    exprs.append(fr.scol(have[c]))
                elif fill_value is None:
                    exprs.append(F.lit(None).cast("double"))  # pandas: missing -> float64 NaN
                else:
                    exprs.append(F.lit(fill_value))
            out = DataFrame(_frame=fr.project(labels, exprs))
        if index is not None:
            fr = out._frame
            if not fr.index_cols:
                # default positional index: the labels ARE the positions —
                # free via order_is_position lineage, blocked global position
                # otherwise; then the ordinary label join below applies
                fr = fr.with_pandas_labels("__ri_lbl__")
                fr = fr._same_rows(fr.sdf, index_cols=["__ri_lbl__"], index_names=[None])
            from modin_spark.pandas.io import from_pandas

            tgt = from_pandas(pd.DataFrame({"__tgt__": list(index)}))._frame
            icol = fr.index_cols[0]
            # pandas: reindexing an axis with duplicate labels raises — the
            # label join below would silently fan out instead. One tiny
            # keys-only aggregate (count + count_distinct), eager like pandas.
            r = fr.sdf.agg(
                F.count(F.lit(1)).alias("n"), F.count_distinct(icol).alias("d"),
                F.sum(F.when(F.col(icol).isNull(), 1).otherwise(0)).alias("nn"),
            ).collect()[0]
            if r["n"] != r["d"] + (1 if r["nn"] else 0):
                raise ValueError("cannot reindex on an axis with duplicate labels")
            fsdf = fr.sdf.withColumn("__hit__", F.lit(1)) if fill_value is not None else fr.sdf
            j = F.broadcast(tgt.sdf.select(F.col(tgt.data_cols[0]).alias("__tgt__"),
                                           F.col(ORDER_COL).alias("__torder__"))).join(
                fsdf, F.col("__tgt__") == F.col(icol), "left"
            )
            sdf = j.withColumn(ORDER_COL, F.col("__torder__")).withColumn(icol, F.col("__tgt__"))
            if fill_value is not None:
                # pandas fills ONLY rows for labels absent from the frame
                # (join-miss, __hit__ null); a matched row's pre-existing NaN
                # cells stay NaN — coalescing every column would clobber them
                miss = F.col("__hit__").isNull()
                for p in fr.data_cols:
                    sdf = sdf.withColumn(p, F.when(miss, F.lit(fill_value)).otherwise(F.col(p)))
                sdf = sdf.drop("__hit__")
            nf = type(fr)(sdf, fr.columns, fr.data_cols, fr.index_cols, fr.index_names, has_order=True)
            out = DataFrame(_frame=nf)
        return out

    def reindex_like(self, other: "DataFrame") -> "DataFrame":
        # pandas contract: conform to other's row labels AND columns (labels
        # are driver metadata by pandas' own definition of the op)
        return self.reindex(index=other.index, columns=list(other.columns))

    def rename_axis(self, mapper=None, axis=0) -> "DataFrame":
        fr = self._frame
        names = list(fr.index_names)
        if axis in (0, "index") and names:
            if isinstance(mapper, (list, tuple)):
                names = list(mapper)
            else:
                names = [mapper] + names[1:]
        nf = type(fr)(fr.sdf, fr.columns, fr.data_cols, fr.index_cols, names, has_order=fr.has_order)
        nf.order_epoch = fr.order_epoch
        return DataFrame(_frame=nf)

    def set_axis(self, labels, axis=0) -> "DataFrame":
        if axis in (1, "columns"):
            return DataFrame(_frame=self._frame.set_labels(labels))
        # axis=0: replace row labels positionally (labels are driver-side by
        # construction, joined on global position)
        from modin_spark.pandas.io import from_pandas

        fr = self._frame.with_global_position("__sa__")
        lab = from_pandas(pd.DataFrame({"__lab__": list(labels)}))._frame.with_global_position("__sb__")
        j = fr.sdf.join(
            F.broadcast(lab.sdf.select("__sb__", F.col(lab.data_cols[0]).alias("__lab__"))),
            F.col("__sa__") == F.col("__sb__"), "left",
        )
        icol = "__idx_set_axis__"
        sdf = j.withColumn(icol, F.col("__lab__"))
        nf = type(fr)(sdf, fr.columns, fr.data_cols, [icol], [None], has_order=True)
        return DataFrame(_frame=nf)

    def droplevel(self, level, axis=0) -> "DataFrame":
        fr = self._frame
        if axis in (1, "columns"):
            # pure column-metadata relabel — no plan change
            cols = fr.columns
            if not isinstance(cols, pd.MultiIndex):
                raise ValueError("droplevel(axis=1) needs MultiIndex columns")
            nf = fr._same_rows(fr.sdf, columns=cols.droplevel(level), data_cols=list(fr.data_cols))
            return DataFrame(_frame=nf)
        lv = self._level_pos(level)
        keep = [i for i in range(len(fr.index_cols)) if i != lv]
        nf = type(fr)(fr.sdf, fr.columns, fr.data_cols,
                      [fr.index_cols[i] for i in keep], [fr.index_names[i] for i in keep],
                      has_order=fr.has_order)
        nf.order_epoch = fr.order_epoch
        return DataFrame(_frame=nf)

    def swaplevel(self, i=-2, j=-1, axis=0) -> "DataFrame":
        fr = self._frame
        if axis in (1, "columns"):
            cols = fr.columns
            if not isinstance(cols, pd.MultiIndex):
                raise ValueError("swaplevel(axis=1) needs MultiIndex columns")
            nf = fr._same_rows(fr.sdf, columns=cols.swaplevel(i, j), data_cols=list(fr.data_cols))
            return DataFrame(_frame=nf)
        order = list(range(len(fr.index_cols)))
        order[i], order[j] = order[j], order[i]
        return self.reorder_levels(order)

    def reorder_levels(self, order) -> "DataFrame":
        fr = self._frame
        pos = [self._level_pos(l) for l in order]
        nf = type(fr)(fr.sdf, fr.columns, fr.data_cols,
                      [fr.index_cols[p] for p in pos], [fr.index_names[p] for p in pos],
                      has_order=fr.has_order)
        nf.order_epoch = fr.order_epoch
        return DataFrame(_frame=nf)

    def _level_pos(self, level) -> int:
        fr = self._frame
        if isinstance(level, int):
            return level if level >= 0 else len(fr.index_cols) + level
        return fr.index_names.index(level)

    def xs(self, key, level=0, drop_level: bool = True, axis=0) -> "DataFrame":
        """MultiIndex cross-section: filter one level to ``key``, optionally
        dropping it — a pushdown-friendly WHERE, no shuffle. axis=1 selects
        the columns whose level value matches (metadata projection)."""
        fr = self._frame
        if axis in (1, "columns"):
            cols = fr.columns
            if not isinstance(cols, pd.MultiIndex):
                # flat columns: xs(axis=1) is plain column extraction
                return self[key]
            lv = level if isinstance(level, int) else list(cols.names).index(level)
            keep = [i for i, tup in enumerate(cols) if tup[lv] == key]
            new_cols = [tuple(v for j, v in enumerate(cols[i]) if j != lv) for i in keep]
            rest_names = [n for j, n in enumerate(cols.names) if j != lv]
            if new_cols and len(new_cols[0]) == 1:
                new_idx = pd.Index([t[0] for t in new_cols],
                                   name=rest_names[0] if rest_names else None)
            else:
                new_idx = pd.MultiIndex.from_tuples(new_cols, names=rest_names)
            if not drop_level:
                new_idx = cols[keep]
            nf = fr._same_rows(fr.sdf, columns=new_idx, data_cols=[fr.data_cols[i] for i in keep])
            return DataFrame(_frame=nf)
        lv = self._level_pos(level)
        if len(fr.index_cols) <= 1 and not isinstance(key, tuple):
            # single-level scalar cross-section: pandas returns the ROW as
            # a Series (same as .loc[key]), not a 1-row frame — with EITHER
            # drop_level (verified pandas 2.2: a row Series has no level to
            # keep, so drop_level only changes MultiIndex results)
            return self.loc[key]
        if isinstance(key, tuple):
            # tuple key: match len(key) CONSECUTIVE levels starting at lv
            # (pandas: partial-tuple xs drops every matched level; a full
            # key is the row itself -> Series, same as .loc)
            if len(key) > len(fr.index_cols) - lv:
                raise KeyError(key)
            if len(key) == len(fr.index_cols) and lv == 0 and drop_level:
                return self.loc[key]
            cond = None
            for j, k in enumerate(key):
                c = F.col(fr.index_cols[lv + j]) == F.lit(k)
                cond = c if cond is None else cond & c
            out = DataFrame(_frame=fr.filter(cond))
            if drop_level:
                for _ in key:
                    out = out.droplevel(lv)
            return out
        out = DataFrame(_frame=fr.filter(F.col(fr.index_cols[lv]) == F.lit(key)))
        return out.droplevel(lv) if drop_level and len(fr.index_cols) > 1 else out

    @property
    def sparse(self):
        # engine storage is always dense; pandas raises the same way on any
        # frame without sparse columns
        raise AttributeError("Can only use the '.sparse' accessor with Sparse data.")

    @property
    def at(self):
        return _ScalarIndexer(self, positional=False)

    @property
    def iat(self):
        return _ScalarIndexer(self, positional=True)

    def _dt_index_col(self) -> str:
        fr = self._frame
        if not fr.index_cols:
            raise TypeError("requires a DatetimeIndex (set_index first)")
        return fr.index_cols[0]

    def at_time(self, time_str: str) -> "DataFrame":
        c = self._dt_index_col()
        t = str(time_str) if len(str(time_str)) > 5 else f"{time_str}:00"
        return DataFrame(_frame=self._frame.filter(F.date_format(F.col(c), "HH:mm:ss") == t))

    def between_time(self, start: str, end: str, inclusive: str = "both") -> "DataFrame":
        c = self._dt_index_col()
        tod = F.date_format(F.col(c), "HH:mm:ss")
        s = str(start) if len(str(start)) > 5 else f"{start}:00"
        e = str(end) if len(str(end)) > 5 else f"{end}:00"
        lo = tod >= s if inclusive in ("both", "left") else tod > s
        hi = tod <= e if inclusive in ("both", "right") else tod < e
        return DataFrame(_frame=self._frame.filter(lo & hi))

    def truncate(self, before=None, after=None) -> "DataFrame":
        fr = self._frame
        c = fr.index_cols[0] if fr.index_cols else None
        if c is None:
            # default positional index: truncate on positions, both ends
            # inclusive (pandas) — exactly an iloc slice
            lo = int(before) if before is not None else None
            hi = int(after) + 1 if after is not None else None
            return self.iloc[lo:hi]
        cond = F.lit(True)
        if before is not None:
            cond = cond & (F.col(c) >= F.lit(before))
        if after is not None:
            cond = cond & (F.col(c) <= F.lit(after))
        return DataFrame(_frame=fr.filter(cond))

    def first(self, offset) -> "DataFrame":
        """First rows within ``offset`` of the min index timestamp. One tiny
        scalar agg (min) then a pushdown filter."""
        c = self._dt_index_col()
        lo = self._frame.sdf.agg(F.min(c)).collect()[0][0]
        hi = (pd.Timestamp(lo) + pd.tseries.frequencies.to_offset(offset)).to_pydatetime()
        return DataFrame(_frame=self._frame.filter(F.col(c) < F.lit(hi)))

    def last(self, offset) -> "DataFrame":
        c = self._dt_index_col()
        hi = self._frame.sdf.agg(F.max(c)).collect()[0][0]
        lo = (pd.Timestamp(hi) - pd.tseries.frequencies.to_offset(offset)).to_pydatetime()
        return DataFrame(_frame=self._frame.filter(F.col(c) > F.lit(lo)))

    def align(self, other: "DataFrame", join: str = "outer", axis=None, fill_value=None):
        """Column alignment (axis=1/None): both frames projected to the union
        (or intersection) of labels. Row alignment rides the same
        position/lineage machinery binary ops use."""
        if axis in (0, "index"):
            raise NotImplementedError("align(axis=0): use merge on index")
        a_cols, b_cols = list(self.columns), list(other.columns)
        if join == "inner":
            cols = [c for c in a_cols if c in set(b_cols)]
        elif join == "left":
            cols = a_cols
        elif join == "right":
            cols = b_cols
        else:
            cols = a_cols + [c for c in b_cols if c not in set(a_cols)]
        left = self.reindex(columns=cols, fill_value=fill_value)
        right = other.reindex(columns=cols, fill_value=fill_value)
        if join == "left":
            right = right.reindex(index=self.index, fill_value=fill_value)
            return left, right
        if join == "right":
            left = left.reindex(index=other.index, fill_value=fill_value)
            return left, right
        if join == "outer" and not self._frame.index_cols and not other._frame.index_cols:
            # outer row alignment on default positional labels: pad the
            # shorter frame to the union 0..max-1 (two count jobs; the pad
            # itself is the ordinary reindex projection)
            na, nb = len(left), len(right)
            if na != nb:
                target = list(range(max(na, nb)))
                if na < nb:
                    left = left.reindex(target, fill_value=fill_value)
                else:
                    right = right.reindex(target, fill_value=fill_value)
        return left, right

    def corrwith(self, other) -> "Series":
        """Pairwise Pearson r per shared column — ONE aggregate pass after a
        position/lineage align (reference: DataFrame.corrwith).  A Series
        operand correlates EVERY numeric column against it (label-aligned
        via the tested setitem path, still one aggregate pass)."""
        if isinstance(other, (pd.Series, pd.DataFrame)):
            from modin_spark.pandas.io import from_pandas as _fp

            other = (Series._from_pandas(other) if isinstance(other, pd.Series)
                     else _fp(other))
        if isinstance(other, Series):
            tmp = "__cw_other__"
            df2 = self.copy()
            df2[tmp] = other
            fr = df2._frame
            y = fr.scol(fr.positions_of([tmp])[0]).cast("double")
            pos = self._numeric_positions()
            aggs = [F.corr(fr.scol(i).cast("double"), y).alias(f"c{i}") for i in pos]
            row = fr.sdf.agg(*aggs).collect()[0]
            return Series._from_pandas(pd.Series(
                [row[f"c{i}"] for i in pos], index=[self.columns[i] for i in pos]))
        shared = [c for c in self.columns if c in set(other.columns)]
        n = len(shared)
        fr = qc.align_frames(self[shared]._frame, other[shared]._frame)
        aggs = [F.corr(fr.scol(i).cast("double"), fr.scol(n + i).cast("double")).alias(f"c{i}")
                for i in range(n)]
        row = fr.sdf.agg(*aggs).collect()[0]
        return Series._from_pandas(pd.Series([row[f"c{i}"] for i in range(len(shared))], index=shared))

    def transform(self, func):
        """Shape-preserving transform: named/elementwise funcs stay JVM-side
        (method dispatch — abs/sqrt/cumsum/... are Catalyst projections);
        arbitrary callables use the Arrow map path; a LIST yields pandas'
        (column, func) MultiIndex columns via one aligned axis-1 concat."""
        if isinstance(func, dict):
            # pandas: {column: func} transforms each named column
            from modin_spark.pandas.general import concat as _concat

            parts = [self[[c]].transform(fn) for c, fn in func.items()]
            return _concat(parts, axis=1) if len(parts) > 1 else parts[0]
        if isinstance(func, list):
            from modin_spark.pandas.general import concat as _concat

            parts = []
            for fn in func:
                name = fn if isinstance(fn, str) else getattr(fn, "__name__", str(fn))
                part = self.transform(fn)
                part.columns = pd.MultiIndex.from_tuples([(c, name) for c in self.columns])
                parts.append(part)
            out = _concat(parts, axis=1)
            # pandas orders (col, fn) pairs column-major
            order = [(c, (fn if isinstance(fn, str) else getattr(fn, "__name__", str(fn))))
                     for c in self.columns for fn in func]
            return out[order] if len(func) > 1 else out
        if isinstance(func, str):
            if hasattr(self, func) and callable(getattr(self, func)):
                return getattr(self, func)()
            import numpy as _np

            if hasattr(_np, func):
                return self.map(getattr(_np, func))
            raise NotImplementedError(f"transform({func!r})")
        if callable(func):
            return self.map(func)
        raise NotImplementedError(f"transform({type(func).__name__})")

    def combine(self, other: "DataFrame", func, fill_value=None) -> "DataFrame":
        # arbitrary python column-merge function — declared driver fallback
        # (the reference routes uncommon binaries the same way)
        other_pdf = other.to_pandas()
        return self._default_to_pandas(lambda pdf: pdf.combine(other_pdf, func, fill_value=fill_value))

    def info(self, verbose=None, buf=None, **kw) -> None:
        import io as _io

        fr = self._frame
        out = buf or _io.StringIO()
        n = len(self)
        out.write(f"<class 'modin_spark.pandas.DataFrame'>\n{n} entries, {len(fr.columns)} columns\n")
        for c, t in zip(fr.columns, [dict(fr.sdf.dtypes)[p] for p in fr.data_cols]):
            out.write(f"  {c}  {t}\n")
        if buf is None:
            print(out.getvalue(), end="")

    # driver-side representations (documented escape hatches, mirroring the
    # reference's default-to-pandas for the same methods)
    def to_dict(self, orient="dict"):
        return self.to_pandas().to_dict(orient)

    def to_records(self, index=True):
        return self.to_pandas().to_records(index=index)

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def to_string(self, **kw) -> str:
        return self.to_pandas().to_string(**kw)

    def to_markdown(self, **kw) -> str:
        return self.to_pandas().to_markdown(**kw)

    def to_latex(self, **kw) -> str:
        return self.to_pandas().to_latex(**kw)

    def to_html(self, **kw) -> str:
        return self.to_pandas().to_html(**kw)

    def to_excel(self, path, sheet_name: str = "Sheet1", index: bool = True, **kw) -> None:
        """Driver-side, like the reference's to_excel default_to_pandas.
        Without openpyxl installed, writes via the stdlib OOXML writer
        (modin_spark/sources/excel.py)."""
        pdf = self.to_pandas()
        try:
            pdf.to_excel(path, sheet_name=sheet_name, index=index, **kw)
        except (ImportError, ModuleNotFoundError):
            from modin_spark.sources.excel import write_xlsx

            if kw:
                raise
            write_xlsx(pdf, str(path), sheet_name=sheet_name, index=index)

    def to_feather(self, path, **kw) -> None:
        self.to_pandas().to_feather(path, **kw)

    def to_hdf(self, path, key, **kw) -> None:
        self.to_pandas().to_hdf(path, key=key, **kw)

    @classmethod
    def from_dict(cls, data, orient="columns", dtype=None, columns=None) -> "DataFrame":
        return cls(pd.DataFrame.from_dict(data, orient=orient, dtype=dtype,
                                          columns=columns))

    def __array__(self, dtype=None):
        arr = self.to_pandas().to_numpy()
        return arr if dtype is None else arr.astype(dtype)

    @classmethod
    def from_records(cls, data, **kw) -> "DataFrame":
        return cls(pd.DataFrame.from_records(data, **kw))

    def tz_localize(self, tz) -> "DataFrame":
        from modin_spark.functions.datetimes import dt_func

        return self._map_index(lambda c: dt_func("tz_localize", c, tz))

    def tz_convert(self, tz) -> "DataFrame":
        from modin_spark.functions.datetimes import dt_func

        return self._map_index(lambda c: dt_func("tz_convert", c, tz))

    def to_period(self, freq="M") -> "DataFrame":
        from modin_spark.functions.datetimes import dt_func

        return self._map_index(lambda c: dt_func("to_period", c, freq))

    def to_timestamp(self) -> "DataFrame":
        return self._map_index(lambda c: F.to_timestamp(c))

    def _map_index(self, fn) -> "DataFrame":
        fr = self._frame
        if not fr.index_cols:
            raise TypeError("requires a set index")
        c = fr.index_cols[0]
        sdf = fr.sdf.withColumn(c, fn(F.col(c)))
        nf = type(fr)(sdf, fr.columns, fr.data_cols, fr.index_cols, fr.index_names, has_order=fr.has_order)
        nf.order_epoch = fr.order_epoch
        return DataFrame(_frame=nf)

    def asfreq(self, freq: str, method=None) -> "DataFrame":
        """pandas asfreq: the target grid anchors at the FIRST index value
        (not epoch buckets) and picks EXACT index matches. Fixed frequencies:
        one min/max aggregate -> F.sequence explode -> left equi-join on the
        timestamp (no driver materialization of the grid). Calendar
        frequencies (month/quarter) fall back to resample bucketing."""
        fr = self._frame
        try:
            off = pd.tseries.frequencies.to_offset(freq)
            delta_us = int(pd.Timedelta(off) / pd.Timedelta(microseconds=1))
            fixed = True
        except ValueError:
            fixed = False
        if fixed and fr.index_cols:
            icol = fr.index_cols[0]
            grid = (fr.sdf.agg(F.min(icol).alias("__mn__"), F.max(icol).alias("__mx__"))
                    .where(F.col("__mn__").isNotNull())
                    .select(F.explode(F.sequence(
                        F.col("__mn__"), F.col("__mx__"),
                        F.expr(f"interval {delta_us} microseconds"))).alias("__g__")))
            from modin_spark.core.frame import ORDER_COL as _OC

            if method in ("ffill", "pad", "bfill", "backfill"):
                # pandas fills from the nearest ORIGINAL observation (asof),
                # not from the previous grid row — distributed asof join of
                # the grid against the frame (block+halo, no global window)
                from modin_spark.core.frame import SparkFrame as _SF
                from modin_spark.pandas.general import merge_asof as _ma

                iname = fr.index_names[0] if fr.index_names[0] is not None else "__af__"
                gsdf = grid.select(F.col("__g__").alias("__gv__")).withColumn(
                    _OC, F.col("__gv__"))
                gdf = DataFrame(_frame=_SF(gsdf, pd.Index([iname]), ["__gv__"], [], [None]))
                right = DataFrame(_frame=fr).reset_index()
                rname = right.columns[0]
                if rname != iname:
                    right = right.rename(columns={rname: iname})
                direction = "backward" if method in ("ffill", "pad") else "forward"
                out = _ma(gdf, right, on=iname, direction=direction).set_index(iname)
                ofr = out._frame
                return DataFrame(_frame=ofr._same_rows(
                    ofr.sdf, index_names=list(fr.index_names)))
            joined = grid.join(fr.sdf.select(icol, *fr.data_cols),
                               F.col("__g__") == F.col(icol), "left")
            sdf = (joined.withColumn(icol, F.col("__g__"))
                   .withColumn(_OC, F.col("__g__")).drop("__g__"))
            return DataFrame(_frame=type(fr)(sdf, fr.columns, fr.data_cols,
                                             fr.index_cols, fr.index_names, has_order=True))
        r = self.resample(freq)
        if method in ("ffill", "pad"):
            return r.ffill()
        if method in ("bfill", "backfill"):
            return r.bfill()
        return r.asfreq()

    # ---------------------------------------------------------------- writers
    def to_parquet(self, path: str, mode: str = "overwrite", partition_cols=None,
                   compression: str | None = "snappy", index=None) -> None:
        w = self.to_spark(ordered=False).write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*(partition_cols if isinstance(partition_cols, list) else [partition_cols]))
        if compression is not None:
            w = w.option("compression", "uncompressed" if compression == "none" else compression)
        w.parquet(path)

    def to_csv(self, path: str | None = None, mode: str = "overwrite", header: bool = True,
               index: bool = True, sep: str = ",", na_rep: str = "", **kw):
        if path is None:
            # pandas: no path -> the CSV STRING (driver-bound by contract);
            # full pandas kwarg surface (float_format/date_format/columns/...)
            return self.to_pandas().to_csv(index=index, header=header, sep=sep,
                                           na_rep=na_rep, **kw)
        # index=True writes the index levels as leading columns (pandas);
        # the default frame has no materialized index — nothing to add.
        # Quote dialect matches pandas (doubled quotes, minimal quoting).
        src = self if (index or not self._frame.index_cols) else DataFrame(
            _frame=self._frame._same_rows(self._frame.sdf, index_cols=[], index_names=[None])
        )
        base = src.reset_index() if (index and self._frame.index_cols) else src
        (
            base.to_spark(ordered=False).write.mode(mode)
            .option("header", header).option("sep", sep).option("escape", '"')
            .option("nullValue", na_rep).option("emptyValue", "")
            .csv(path)
        )

    def to_json(self, path: str | None = None, mode: str = "overwrite",
                orient: str = "records", lines: bool = False, **kw):
        if path is None:
            # pandas: no path -> the JSON STRING (driver-bound by contract)
            return self.to_pandas().to_json(orient=orient, lines=lines, **kw)
        # Spark's json sink IS records+lines; other orients are driver-side
        # pandas territory and rejected explicitly
        if orient != "records":
            raise NotImplementedError("to_json(path) supports orient='records'")
        self.to_spark(ordered=False).write.mode(mode).json(path)

    def to_orc(self, path: str, mode: str = "overwrite") -> None:
        self.to_spark(ordered=False).write.mode(mode).orc(path)


def _transpose_pandas(pdf: pd.DataFrame) -> DataFrame:
    """``pdf.T`` as an engine frame: the driver transpose of the small-result
    and over-budget paths."""
    t = pdf.T
    # mixed source dtypes make every transposed column object-typed, which
    # Spark can't infer — coerce each to numeric where possible else string
    # (missing cells stay missing, as in the distributed path)
    for j in range(t.shape[1]):
        c = t.iloc[:, j]
        if c.dtype == object:
            coerced = pd.to_numeric(c, errors="coerce")
            if coerced.notna().sum() != c.notna().sum():
                coerced = c.map(str, na_action="ignore")
            t.isetitem(j, coerced)
    return DataFrame(t)


class _ScalarIndexer:
    """at/iat: single-cell access — a loc/iloc slice collected to one scalar."""

    def __init__(self, df: DataFrame, positional: bool):
        self._df = df
        self._positional = positional

    def __getitem__(self, key):
        row, col = key
        if self._positional:
            sub = self._df.iloc[[row]]
            return sub.to_pandas().iloc[0, col]
        sub = self._df.loc[[row]]
        # column first: a row-wise .iloc[0] Series would upcast mixed dtypes
        return sub.to_pandas()[col].iloc[0]

    def __setitem__(self, key, value):
        # single-cell write: route to the label/positional conditional
        # projection (r11 — loc now supports scalar-label assignment)
        row, col = key
        if self._positional:
            self._df.iloc[row, col] = value
        else:
            self._df.loc[row, col] = value


def _df_map(self, func, na_action=None):
    """Elementwise callable over every column — Series.map per column (one
    Arrow pandas_udf each), all fused into a single projection (one pass)."""
    return self._map(lambda s: s.map(func, na_action=na_action))


def _df_values(self):
    return self.to_numpy()


def _df_first_valid_index(self):
    """Smallest index whose row has any non-null cell — one min_by aggregate."""
    fr = self._frame.ensure_order()
    cond = None
    for i in range(len(fr.columns)):
        e = fr.scol(i).isNotNull()
        cond = e if cond is None else (cond | e)
    idx = F.col(fr.index_cols[0]) if fr.index_cols else F.col(ORDER_COL)
    r = fr.sdf.where(cond).agg(F.min_by(idx, F.col(ORDER_COL)).alias("r")).collect()[0]["r"]
    return r


def _df_last_valid_index(self):
    fr = self._frame.ensure_order()
    cond = None
    for i in range(len(fr.columns)):
        e = fr.scol(i).isNotNull()
        cond = e if cond is None else (cond | e)
    idx = F.col(fr.index_cols[0]) if fr.index_cols else F.col(ORDER_COL)
    r = fr.sdf.where(cond).agg(F.max_by(idx, F.col(ORDER_COL)).alias("r")).collect()[0]["r"]
    return r


def _df_asof(self, where, subset=None):
    """Last row whose index <= each `where` label — rides the block+halo
    merge_asof machinery (no global window)."""
    from modin_spark.pandas.general import merge_asof
    from modin_spark.pandas.io import from_pandas

    fr = self._frame
    if not fr.index_cols:
        raise NotImplementedError("asof requires a set index")
    iname = fr.index_names[0] or "index"
    # collision-free probe key: when the frame's index NAME also appears on
    # the right, the merge would suffix both copies away
    probe = from_pandas(pd.DataFrame(
        {"__aswhere__": list(where) if isinstance(where, (list, tuple)) else [where]}))
    right = self.reset_index()
    rkey = fr.index_names[0] if fr.index_names[0] else right.columns[0]
    out = merge_asof(probe, right, left_on="__aswhere__", right_on=rkey)
    out = out.drop(columns=[rkey]) if rkey in list(out.columns) else out
    out = out.set_index("__aswhere__")
    out._frame = out._frame._same_rows(out._frame.sdf, index_names=[iname])
    return out


DataFrame.map = _df_map
DataFrame.applymap = _df_map
DataFrame.values = property(_df_values)
DataFrame.first_valid_index = _df_first_valid_index
DataFrame.last_valid_index = _df_last_valid_index
DataFrame.asof = _df_asof
DataFrame.attrs = property(lambda self: {})
DataFrame.axes = property(lambda self: [self.index, self.columns])
DataFrame.set_flags = lambda self, **k: self
DataFrame.swapaxes = lambda self, a, b: self.transpose() if {a, b} == {0, 1} else self
DataFrame.to_xml = lambda self, path=None, **k: self.to_pandas().to_xml(path, **k)
DataFrame.to_stata = lambda self, path, **k: self.to_pandas().to_stata(path, **k)
DataFrame.get_backend = lambda self: "Spark"
DataFrame.set_backend = lambda self, backend, inplace=False, **k: self
DataFrame.is_backend_pinned = lambda self: False


# plotting / exotic egress: driver-side pandas delegates — identical to the
# reference's default-to-pandas for these (modin/pandas/base.py). Plot calls
# require matplotlib at call time, exactly like pandas.
DataFrame.plot = property(lambda self: self.to_pandas().plot)
DataFrame.hist = lambda self, *a, **k: self.to_pandas().hist(*a, **k)
DataFrame.boxplot = lambda self, *a, **k: self.to_pandas().boxplot(*a, **k)
DataFrame.style = property(lambda self: self.to_pandas().style)
DataFrame.flags = property(lambda self: pd.DataFrame().flags)
DataFrame.to_clipboard = lambda self, **k: self.to_pandas().to_clipboard(**k)
DataFrame.to_gbq = lambda self, *a, **k: self.to_pandas().to_gbq(*a, **k)
DataFrame.to_xarray = lambda self: self.to_pandas().to_xarray()


# ---------------------------------------------------------------- inplace=
# pandas mutators accept inplace=True (mutate the object, return None). The
# engine is expression-immutable, so inplace is pure metadata adoption:
# compute the derived frame, swap it into self — no extra plan or job.
def _wrap_inplace(nm):
    orig = getattr(DataFrame, nm)

    def f(self, *a, inplace: bool = False, **k):
        out = orig(self, *a, **k)
        return self._maybe_inplace(out, inplace)

    f.__name__ = nm
    f.__doc__ = orig.__doc__
    setattr(DataFrame, nm, f)


for _nm in ["drop", "rename", "replace", "clip", "set_index", "reset_index",
            "sort_values", "sort_index", "rename_axis", "where", "mask",
            "interpolate", "ffill", "bfill"]:
    _wrap_inplace(_nm)
del _wrap_inplace, _nm


# ------------------------------------------------------- numpy ufunc protocol
def _df_array_ufunc(self, ufunc, method, *inputs, **kwargs):
    """A unary ufunc is the Series ufunc on each column."""
    from modin_spark.pandas.series import _UFUNC_EXPRS, _ser_array_ufunc

    if method != "__call__" or kwargs.get("out") is not None or len(inputs) != 1 \
            or ufunc.__name__ not in _UFUNC_EXPRS:
        return NotImplemented
    return self._map(lambda s: _ser_array_ufunc(s, ufunc, method, s))


DataFrame.__array_ufunc__ = _df_array_ufunc
DataFrame.__abs__ = lambda self: self.abs()
