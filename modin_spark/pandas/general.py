"""Module-level pandas functions (reference: /root/reference/modin/pandas/general.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from modin_spark.core import compiler as qc
from modin_spark.core.frame import SparkFrame
from modin_spark.pandas.dataframe import DataFrame
from modin_spark.pandas.series import Series


def concat(objs, axis=0, join="outer", ignore_index=False, keys=None, names=None):
    objs = list(objs)
    if (objs and axis in (0, "index") and keys is None
            and all(isinstance(o, Series) for o in objs)):
        # pandas: concat of all-Series on axis=0 yields a Series whose name
        # is the common name (None when they differ). Relabel every frame's
        # single column to one label so concat_rows unions positionally
        # instead of outer-joining mismatched column labels.
        snames = {o.name for o in objs}
        out_name = snames.pop() if len(snames) == 1 else None
        lbl = out_name if out_name is not None else "__ser__"
        sfrs = [o._to_frame(lbl) for o in objs]
        if not ignore_index:
            # pandas keeps each part's OWN labels (duplicates included) —
            # default-index parts materialize their pandas labels as an index
            # level (free for from_pandas lineage: order IS the label)
            fixed = []
            for fr in sfrs:
                if not fr.index_cols:
                    fr = fr.with_pandas_labels("__cl__")
                    fr = SparkFrame(fr.sdf, fr.columns, fr.data_cols,
                                    ["__cl__"], [None])
                fixed.append(fr)
            sfrs = fixed
        fr = qc.concat_rows(sfrs, join=join, ignore_index=ignore_index)
        s = Series._from_frame(fr)
        s._name = out_name
        return s
    frames = []
    for o in objs:
        if isinstance(o, DataFrame):
            frames.append(o._frame)
        elif isinstance(o, Series):
            frames.append(o._to_frame())
        else:
            frames.append(SparkFrame.from_pandas(pd.DataFrame(o)))
    if keys is not None and axis in (0, "index"):
        # pandas hierarchical concat: each frame gets its key as a new
        # OUTER index level (a literal column — no shuffle, no data copy);
        # a default RangeIndex inner level is materialized from the order.
        from modin_spark.core.frame import fresh_names

        keyed = []
        for key, fr in zip(keys, frames):
            if not fr.index_cols:
                fr = fr.with_global_position("__pos__")
                fr = SparkFrame(fr.sdf, fr.columns, fr.data_cols, ["__pos__"], [None])
            fr = fr.ensure_order()
            phys = fresh_names(1)[0]
            sdf = fr.sdf.withColumn(phys, F.lit(key))
            base_names = [None] + list(fr.index_names)
            lvl_names = (list(names) + base_names[len(names):]) if names else base_names
            keyed.append(SparkFrame(sdf, fr.columns, fr.data_cols, [phys] + list(fr.index_cols),
                                    lvl_names[:1 + len(fr.index_cols)]))
        return DataFrame(_frame=qc.concat_rows(keyed, join=join, ignore_index=False))
    if axis in (1, "columns"):
        out = DataFrame(_frame=qc.concat_cols(frames, join=join))
        if keys is not None:
            # hierarchical columns: (key, original label) — metadata only
            tuples = []
            for key, fr in zip(keys, frames):
                tuples += [(key, c) for c in fr.columns]
            out.columns = pd.MultiIndex.from_tuples(tuples, names=(names or None))
        elif ignore_index:
            out.columns = list(range(len(out._frame.columns)))
        return out
    return DataFrame(_frame=qc.concat_rows(frames, join=join, ignore_index=ignore_index))


def merge(left: DataFrame, right: DataFrame, **kw) -> DataFrame:
    return left.merge(right, **kw)


def to_datetime(arg, format=None, errors="raise", unit=None,
                dayfirst: bool = False, yearfirst: bool = False):
    if isinstance(arg, Series):
        if dayfirst and format is None:
            # pandas dayfirst is a parsing HINT: only values of a strict
            # d<sep>m<sep>y shape (any of / - . separators, optional H:mm[:ss]
            # time, 2- or 4-digit year) parse day-first; everything else
            # (ISO yyyy-mm-dd, month names, fractional seconds) falls through
            # to the generic parser. All JVM-side, per-row conditional — no
            # driver sampling, no single hard-coded format.
            def _dayfirst(c):
                t = F.trim(c)
                norm = F.regexp_replace(t, r"^(\d{1,2})[\-.](\d{1,2})[\-.]", "$1/$2/")
                strict4 = t.rlike(r"^\d{1,2}[/\-.]\d{1,2}[/\-.]\d{4}([ T]\d{1,2}:\d{2}(:\d{2})?)?$")
                strict2 = t.rlike(r"^\d{1,2}[/\-.]\d{1,2}[/\-.]\d{2}([ T]\d{1,2}:\d{2}(:\d{2})?)?$")
                p4 = F.coalesce(
                    F.try_to_timestamp(norm, F.lit("d/M/yyyy")),
                    F.try_to_timestamp(norm, F.lit("d/M/yyyy H:mm")),
                    F.try_to_timestamp(norm, F.lit("d/M/yyyy H:mm:ss")),
                )
                p2r = F.coalesce(
                    F.try_to_timestamp(norm, F.lit("d/M/yy")),
                    F.try_to_timestamp(norm, F.lit("d/M/yy H:mm")),
                    F.try_to_timestamp(norm, F.lit("d/M/yy H:mm:ss")),
                )
                # Spark 'yy' maps every 2-digit year to 20xx; pandas
                # (dateutil) pivots at 68: 69-99 -> 19xx
                p2 = F.when(F.year(p2r) > 2068,
                            F.timestamp_add("YEAR", F.lit(-100), p2r)).otherwise(p2r)
                return (F.when(strict4, p4).when(strict2, p2)
                        .otherwise(F.try_to_timestamp(c)))

            return arg._map1(_dayfirst)
        if unit is not None:
            # numeric epochs: scale to microseconds, exact integer math
            scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None, "D": 86_400_000_000}
            if unit not in scale:
                raise NotImplementedError(f"to_datetime unit {unit!r}")
            if unit == "ns":
                # ns epochs (~1.7e18) exceed 2^53: the old double division
                # lost up to ~1µs. Floor to the 1000-multiple with exact long
                # math, then a decimal(38,0) division (exact, integral).
                def _ns_to_us(c):
                    e = c.cast("long")
                    fl = e - F.pmod(e, F.lit(1000))
                    return F.timestamp_micros(
                        (fl.cast("decimal(38,0)") / F.lit(1000)).cast("long")
                    )

                return arg._map1(_ns_to_us)
            k = scale[unit]
            return arg._map1(lambda c: F.timestamp_micros((c.cast("long") * F.lit(k)).cast("long")))
        if format is not None and format not in ("mixed", "ISO8601"):
            from modin_spark.functions.datetimes import _strftime_to_java

            java_fmt = _strftime_to_java(format)
            return arg._map1(lambda c: F.to_timestamp(c, java_fmt))
        # format="mixed"/"ISO8601" (pandas 2.x): per-element inference —
        # Spark's default to_timestamp parser covers the ISO family; with
        # ANSI off an unparseable value yields NULL (= errors="coerce")
        return arg._map1(lambda c: F.to_timestamp(c))
    return pd.to_datetime(arg, format=format, errors=errors, unit=unit)


def to_numeric(arg, errors="raise", downcast=None):
    """pandas.to_numeric (reference: modin/pandas/general.py to_numeric ->
    qc.to_numeric). Numeric inputs pass through unchanged; strings coerce via
    (try_)cast to double. ``downcast`` narrows ONLY when a one-pass probe
    proves the narrowing lossless — min/max/integrality aggregate for ints,
    float32 round-trip-equality for floats — matching pandas' value-dependent
    downcast instead of blindly wrapping out-of-range values."""
    if isinstance(arg, Series):
        if arg.dtype.kind in "iuf":
            out = arg  # pandas: numeric input is returned unchanged
        elif errors == "coerce":
            out = arg._map1(lambda c: F.try_cast(c, "double") if hasattr(F, "try_cast") else c.try_cast("double"))
        else:
            out = arg._map1(lambda c: c.cast("double"))
        if downcast in ("integer", "signed", "unsigned"):
            e = out._expr
            # One aggregate: range + any-fractional. NaN poisons the range
            # check (NaN sorts largest in Spark, so mx < hi is False) and
            # NaN == floor(NaN) under Spark's NaN-equality, so frac stays 0.
            row = out._frame.sdf.agg(
                F.min(e).alias("mn"),
                F.max(e).alias("mx"),
                F.max(F.when(e != F.floor(e), F.lit(1)).otherwise(F.lit(0))).alias("frac"),
            ).collect()[0]
            mn, mx = row["mn"], row["mx"]
            ok = mn is not None and not row["frac"] and not (downcast == "unsigned" and mn < 0)
            if ok:
                # Spark has no unsigned types; 'unsigned' gets the smallest
                # signed width that fits (documented divergence in dtype name)
                for hi, t in ((2**7, "tinyint"), (2**15, "smallint"), (2**31, "int")):
                    if -hi <= mn and mx < hi:
                        out = out._map1(lambda c, t=t: c.cast(t))
                        break
                else:
                    if out.dtype.kind not in "iu":
                        out = out._map1(lambda c: c.cast("bigint"))
        elif downcast == "float":
            e = out._expr
            lossy = out._frame.sdf.agg(
                F.max(F.when(e.cast("float").cast("double") != e.cast("double"), 1).otherwise(0)).alias("l")
            ).collect()[0]["l"]
            if not lossy:
                out = out._map1(lambda c: c.cast("float"))
        return out
    return pd.to_numeric(arg, errors=errors, downcast=downcast)


def isna(obj):
    if isinstance(obj, (Series, DataFrame)):
        return obj.isna()
    return pd.isna(obj)


def notna(obj):
    if isinstance(obj, (Series, DataFrame)):
        return obj.notna()
    return pd.notna(obj)


def get_dummies(data, columns=None, prefix=None, prefix_sep="_", dtype="int64",
                drop_first: bool = False, dummy_na: bool = False) -> DataFrame:
    """One-hot encode: distinct category scan + one 0/1 expression per value
    (reference: qc get_dummies via column-axis pivot, qc:4643).
    ``drop_first`` drops the first (sorted) category per column;
    ``dummy_na`` appends an is-null indicator column."""
    # pandas: a bare Series without prefix= yields UNPREFIXED category
    # columns; frames always prefix with the source column name
    bare_series = isinstance(data, Series) and prefix is None
    was_series = isinstance(data, Series)
    if was_series:
        data = data.to_frame()
    fr = data._frame
    if columns is None:
        # a Series input is ALWAYS encoded (whatever its dtype — pandas
        # one-hots a float series too); frames default to object columns
        if was_series:
            columns = list(fr.columns)
        else:
            columns = [fr.columns[i] for i in range(len(fr.columns)) if fr.dtype_of(i) == "object"]
    def _prefix_of(col, i):
        # pandas prefix=: one string for all, a dict keyed by column, or a
        # list aligned with the encoded columns
        if isinstance(prefix, dict):
            return str(prefix.get(col, col))
        if isinstance(prefix, (list, tuple)):
            return str(prefix[i])
        return str(prefix) if prefix is not None else str(col)

    out = data
    for enc_i, col in enumerate(columns):
        pos = fr.positions_of([col])[0]
        phys = fr.data_cols[pos]
        cats = [r[0] for r in fr.sdf.select(phys).where(F.col(phys).isNotNull()).distinct().orderBy(phys).collect()]
        if drop_first:
            cats = cats[1:]
        pre = "" if bare_series else _prefix_of(col, enc_i) + prefix_sep
        for cat in cats:
            # bare-Series labels are the RAW category values (pandas: a
            # float series yields float column labels, not strings)
            label = cat if bare_series else f"{pre}{cat}"
            s = Series(out._frame, F.coalesce((F.col(phys) == F.lit(cat)).cast("long"), F.lit(0)), {phys}, None)
            out[label] = s
        if dummy_na:
            import numpy as _np

            label = _np.nan if bare_series else f"{pre}nan"
            s = Series(out._frame, F.col(phys).isNull().cast("long"), {phys}, None)
            out[label] = s
        out = out.drop(columns=[col])
    return out


def _round_frac(x, precision: int):
    """pandas tile._round_frac: round keeping `precision` significant
    fractional digits for sub-1 magnitudes."""
    import numpy as np

    if not np.isfinite(x) or x == 0:
        return x
    frac, whole = np.modf(x)
    if whole == 0:
        digits = -int(np.floor(np.log10(abs(frac)))) - 1 + precision
    else:
        digits = precision
    return float(np.around(x, digits))


def _infer_precision(base: int, breaks) -> int:
    """pandas tile._infer_precision: smallest precision >= base keeping the
    rounded breaks unique."""
    for p in range(base, 21):
        r = [_round_frac(b, p) for b in breaks]
        if len(set(r)) == len(list(breaks)):
            return p
    return base


def cut(x: Series, bins, labels=None, right: bool = True, include_lowest: bool = False,
        retbins: bool = False) -> Series:
    """Fixed-width binning as a when-chain (JVM-side; no UDF).
    ``include_lowest``: the first right-closed bin also admits its left edge
    (pandas renders its label with the exact edge; codes are unaffected).
    ``retbins=True`` returns ``(result, edges ndarray)`` like pandas — the
    edges are already driver-side scalars (one min/max agg for int bins), so
    this adds no extra job."""
    if isinstance(bins, int):
        mn, mx = x.min(), x.max()
        step = (mx - mn) / bins
        edges = [mn + i * step for i in range(bins + 1)]
        # pandas pads the CLOSED end so the extreme value falls inside:
        # right-closed bins widen the first edge, left-closed the last
        if right:
            edges[0] = mn - (mx - mn) * 0.001
        else:
            edges[-1] = mx + (mx - mn) * 0.001
    else:
        edges = list(bins)
    codes = labels is False
    # pandas label display: breaks rounded to an inferred precision (base 3,
    # raised until the rounded breaks stay unique); include_lowest widens the
    # displayed first edge by 10^-precision (codes use the EXACT edges)
    if all(isinstance(e, int) for e in edges):
        disp = list(edges)
        if include_lowest and right:
            disp[0] = disp[0] - 0.001
    else:
        # float coercion matters for the LABELS: pandas renders every break
        # of a float interval as a float ("(0.0, 1.0]"); a python int edge
        # left as int would render "(0, 1.0]"
        prec = _infer_precision(3, edges)
        disp = [float(_round_frac(e, prec)) for e in edges]
        if include_lowest and right:
            disp[0] = disp[0] - 10 ** (-prec)
    names = labels if (labels is not None and labels is not False) else [
        (f"({disp[i]}, {disp[i+1]}]" if right else f"[{disp[i]}, {disp[i+1]})")
        for i in range(len(edges) - 1)
    ]

    def f(c):
        e = None
        for i in range(len(edges) - 1):
            if right:
                lo = (c >= edges[i]) if (include_lowest and i == 0) else (c > edges[i])
                cond = lo & (c <= edges[i + 1])
            else:
                cond = (c >= edges[i]) & (c < edges[i + 1])
            lab = F.lit(i) if codes else F.lit(str(names[i]))
            w = (e.when if e is not None else F.when)(cond, lab)
            e = w
        return e.otherwise(F.lit(None).cast("int") if codes else F.lit(None))

    out = x._map1(f)
    if not codes:
        # pandas: astype(str) of the (categorical) cut result renders
        # missing entries as the literal 'nan'
        out._astype_str_null = "nan"
    if labels is None and not codes:
        # pandas contract: labels=None yields an ORDERED Categorical of
        # Interval categories. Physical storage stays the string bin label
        # (JVM-side when-chain unchanged); the dtype is reconstructed on
        # to_pandas from the driver-known edges.
        closed = "right" if right else "left"
        try:
            iv = pd.IntervalIndex.from_breaks([float(e) for e in disp], closed=closed)
            cat = pd.CategoricalDtype(categories=iv, ordered=True)
            lab_to_iv = {str(names[i]): iv[i] for i in range(len(iv))}

            def _post(s, _m=lab_to_iv, _c=cat):
                return s.map(_m).astype(_c)

            out._post_to_pandas = _post
        except (TypeError, ValueError):
            pass  # non-numeric edges: keep string labels
    if retbins:
        import numpy as _np

        return out, _np.asarray(edges, dtype="float64")
    return out


def qcut(x: Series, q, labels=None, retbins: bool = False,
         duplicates: str = "raise") -> Series:
    """Quantile binning: exact percentile edges (one agg) + cut.
    ``duplicates='drop'`` collapses repeated quantile edges (pandas: fewer
    bins instead of a ValueError on skewed data). ``retbins=True`` also
    returns the edges ndarray (already driver-side scalars)."""
    if isinstance(q, int):
        probs = [i / q for i in range(q + 1)]
    else:
        probs = list(q)
    exprs = [F.percentile(x._expr, F.lit(p)).alias(f"p{i}") for i, p in enumerate(probs)]
    row = x._frame.sdf.agg(*exprs).collect()[0]
    edges = [row[f"p{i}"] for i in range(len(probs))]
    if len(set(edges)) != len(edges):
        if duplicates != "drop":
            raise ValueError(
                "Bin edges must be unique; pass duplicates='drop' to collapse them"
            )
        seen, uniq = set(), []
        for e in edges:
            if e not in seen:
                seen.add(e)
                uniq.append(e)
        edges = uniq
    # pandas qcut: exact quantile edges with include_lowest (the minimum
    # falls in the first bin; the DISPLAYED first edge is widened by
    # 10^-precision inside cut, the codes use the exact edge)
    out = cut(x, edges, labels=labels, include_lowest=True)
    if retbins:
        import numpy as _np

        return out, _np.asarray(edges, dtype="float64")
    return out


def crosstab(index: Series, columns: Series, values: Series | None = None,
             aggfunc=None, margins: bool = False,
             margins_name: str = "All", normalize=False) -> DataFrame:
    """Contingency table (reference: general.py:713) — groupBy().pivot().count(),
    fully distributed; the pivoted result stays a lazy frame. margins= adds
    the All row/column (a row-sum expression + one tiny ungrouped pivot);
    normalize= divides by the grand total (one scalar aggregate).
    values=/aggfunc= pivots an aggregate of ``values`` instead of counts
    (missing combos stay NaN, pandas-style); margins there are supported
    for the additive aggs (sum/count) whose All is a row-sum expression."""
    from modin_spark.core.frame import ORDER_COL, fresh_names

    if (values is None) != (aggfunc is None):
        raise ValueError("crosstab: values and aggfunc must be given together")
    target, ie, ce, refs = index._combine(columns)
    if values is not None:
        # rebase the values expression onto the SAME combined target
        target, ie, ve, refs = Series(target, ie, refs, None)._combine(values)
        sdf = target.sdf.select(ie.alias("__i__"), ce.alias("__c__"), ve.alias("__v__"))
    else:
        sdf = target.sdf.select(ie.alias("__i__"), ce.alias("__c__"))
    # pandas drops rows where ANY grouping key is missing (no dropna= knob
    # on crosstab) — a null index key must not surface as a NaN row label
    sdf = sdf.where(F.col("__i__").isNotNull() & F.col("__c__").isNotNull())
    # typed distinct pivot keys (driver metadata by definition): pandas keeps
    # the key dtype in the output column labels (int keys -> int labels)
    pvals = [r[0] for r in sdf.select("__c__").where(F.col("__c__").isNotNull())
             .distinct().orderBy("__c__").collect()]
    if values is not None:
        if not isinstance(aggfunc, str):
            raise NotImplementedError(f"crosstab aggfunc {aggfunc!r}")
        if margins and aggfunc not in ("sum", "count"):
            raise NotImplementedError("crosstab margins with a non-additive aggfunc")
        # pivot=True: a combination with no rows stays NaN, as in pandas
        agg = qc.agg_expr(aggfunc, F.col("__v__"), pivot=True)
        pivoted = sdf.groupBy("__i__").pivot("__c__", pvals).agg(agg)
    else:
        pivoted = sdf.groupBy("__i__").pivot("__c__", pvals).count().na.fill(0)
    val_cols = [c for c in pivoted.columns if c != "__i__"]
    typed_of = {c: v for c, v in zip(val_cols, pvals)}

    def _q(c):
        return F.col("`" + str(c).replace("`", "``") + "`")

    if margins:
        pivoted = pivoted.withColumn(
            "__all__", sum((_q(c) for c in val_cols), F.lit(0)))
        if values is not None:
            mrow = (sdf.groupBy().pivot("__c__", pvals).agg(agg)
                    .withColumn("__i__", F.lit(str(margins_name))))
        else:
            mrow = (sdf.groupBy().pivot("__c__").count().na.fill(0)
                    .withColumn("__i__", F.lit(str(margins_name))))
        mrow = mrow.withColumn("__all__", sum((_q(c) for c in val_cols), F.lit(0)))
        pivoted = pivoted.withColumn("__i__", F.col("__i__").cast("string")).unionByName(
            mrow, allowMissingColumns=True)
        if values is None:
            pivoted = pivoted.na.fill(0)
        val_cols = val_cols + ["__all__"]
    if margins and (normalize == "index" or (not isinstance(normalize, bool) and normalize == 0)):
        # pandas: index-normalized margins DROP the All column (each row,
        # including the All row, then sums to 1 — keeping it would halve
        # every proportion since row_tot double-counts the margin)
        val_cols = [c for c in val_cols if c != "__all__"]
        pivoted = pivoted.drop("__all__")
    if margins and (normalize == "columns" or (not isinstance(normalize, bool) and normalize == 1)):
        # pandas: column-normalized margins DROP the All row (keeping it
        # would double every column total); the All column survives and
        # normalizes to row_total/grand_total
        pivoted = pivoted.where(F.col("__i__") != F.lit(str(margins_name)))
    phys = fresh_names(len(val_cols) + 1)
    # pandas puts the All MARGIN row LAST regardless of sort order
    order_e = (
        F.struct((F.col("__i__") == F.lit(str(margins_name))).cast("int"), F.col("__i__"))
        if margins else F.col("__i__")
    )
    sel = [order_e.alias(ORDER_COL), F.col("__i__").alias(phys[0])]
    if normalize is True or normalize == "all":
        total = sdf.count()
        sel += [(_q(c) / F.lit(total)).alias(p) for c, p in zip(val_cols, phys[1:])]
    elif normalize == "index" or (not isinstance(normalize, bool) and normalize == 0):
        # each row divided by its row total — a pure projection
        row_tot = sum((_q(c) for c in val_cols), F.lit(0))
        sel += [(_q(c) / row_tot).alias(p) for c, p in zip(val_cols, phys[1:])]
    elif normalize == "columns" or (not isinstance(normalize, bool) and normalize == 1):
        # each column divided by its column total — a 1-row totals aggregate
        # broadcast-cross-joined back (stays parallel at any index
        # cardinality; a window over the whole relation would single-task)
        totals = pivoted.agg(*[F.sum(_q(c)).alias(f"__t{k}__") for k, c in enumerate(val_cols)])
        pivoted = pivoted.crossJoin(F.broadcast(totals))
        sel += [(_q(c) / F.col(f"__t{k}__")).alias(p)
                for k, (c, p) in enumerate(zip(val_cols, phys[1:]))]
    else:
        sel += [_q(c).alias(p) for c, p in zip(val_cols, phys[1:])]
    labels = [margins_name if c == "__all__" else typed_of.get(c, c) for c in val_cols]
    fr = SparkFrame(
        # pandas names the columns Index after the columns Series
        pivoted.select(*sel), pd.Index(labels, name=columns._name), phys[1:], [phys[0]],
        [index._name if index._name is not None else "index"],
    )
    return DataFrame(_frame=fr)


def value_counts(s: Series, **kw) -> Series:
    return s.value_counts(**kw)


def unique(s: Series):
    return s.unique()


def pivot_table(data: DataFrame, values=None, index=None, columns=None, aggfunc="mean",
                **kw) -> DataFrame:
    return data.pivot_table(values=values, index=index, columns=columns, aggfunc=aggfunc, **kw)


def melt(frame: DataFrame, **kw) -> DataFrame:
    return frame.melt(**kw)


def merge_asof(
    left: DataFrame,
    right: DataFrame,
    on=None,
    left_on=None,
    right_on=None,
    by=None,
    left_by=None,
    right_by=None,
    direction: str = "backward",
    suffixes=("_x", "_y"),
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    from modin_spark.operators.joins import merge_asof as _asof

    return _asof(left, right, on=on, left_on=left_on, right_on=right_on,
                 by=by, left_by=left_by, right_by=right_by, direction=direction,
                 suffixes=suffixes, tolerance=tolerance, allow_exact_matches=allow_exact_matches)


def merge_ordered(left: DataFrame, right: DataFrame, on=None, how="outer",
                  suffixes=("_x", "_y"), fill_method=None) -> DataFrame:
    from modin_spark.operators.joins import merge_ordered as _mo

    return _mo(left, right, on=on, how=how, suffixes=suffixes, fill_method=fill_method)


def wide_to_long(df: DataFrame, stubnames, i, j, sep: str = "", suffix: str = r"\d+") -> DataFrame:
    """pandas.wide_to_long — unpivot stub-prefixed columns, parse the suffix
    into the ``j`` column (one unpivot, no UDF)."""
    stubnames = stubnames if isinstance(stubnames, list) else [stubnames]
    i = i if isinstance(i, list) else [i]
    import re

    value_cols: dict[str, list[tuple[str, str]]] = {s: [] for s in stubnames}
    for c in df.columns:
        for s in stubnames:
            m = re.fullmatch(re.escape(s) + re.escape(sep) + f"({suffix})", str(c))
            if m:
                value_cols[s].append((str(c), m.group(1)))
    # pandas carries every non-stub, non-i column through as an id column
    stub_cols = {c for cols in value_cols.values() for c, _ in cols}
    carried = i + [str(c) for c in df.columns if str(c) not in stub_cols and str(c) not in set(i)]
    melted = {}
    for s, cols in value_cols.items():
        part = df.melt(id_vars=carried, value_vars=[c for c, _ in cols], var_name="__stubcol__", value_name=s)
        mapping = None
        # pandas parses all-digit suffixes into an int j column
        numeric_j = all(str(suf).isdigit() for _, suf in cols)
        for c, suf in cols:
            lit = F.lit(int(suf)) if numeric_j else F.lit(suf)
            w = (mapping.when if mapping is not None else F.when)(F.col(part._frame.phys_of_label("__stubcol__")) == c, lit)
            mapping = w
        part._frame = part._frame.with_columns([j], [mapping])
        melted[s] = part.drop(columns=["__stubcol__"])
    out = None
    for s, part in melted.items():
        out = part if out is None else out.merge(part, on=carried + [j], how="outer")
    # pandas returns the long frame indexed by (i..., j)
    return out.set_index(i + [j])


def sql(query: str, **frames) -> DataFrame:
    """SQL interface (net-new vs the reference, SURVEY §2.4): registers the
    given frames as temp views and runs Spark SQL.

        mpd.sql("select k, sum(v) s from t group by k", t=df)
    """
    from modin_spark.session import get_spark

    for name, df in frames.items():
        df.to_spark(ordered=False).createOrReplaceTempView(name)
    return DataFrame(_frame=SparkFrame.from_spark(get_spark().sql(query)))


def pivot(data: DataFrame, *, index=None, columns=None, values=None) -> DataFrame:
    """Module-level pivot (ref modin/pandas/general.py:278) — delegates to
    DataFrame.pivot."""
    if not isinstance(data, DataFrame):
        raise ValueError("can not pivot with instance of type {}".format(type(data)))
    return data.pivot(index=index, columns=columns, values=values)


def lreshape(data: DataFrame, groups: dict, dropna: bool = True) -> DataFrame:
    """Long-reshape (ref general.py:747). The reference defaults to pandas
    for this; same driver-side contract here (declared fallback), then the
    result is re-distributed."""
    from modin_spark.pandas.io import from_pandas

    if not isinstance(data, DataFrame):
        raise ValueError("can not lreshape with instance of type {}".format(type(data)))
    return from_pandas(pd.lreshape(data.to_pandas(), groups, dropna=dropna))


def from_dummies(data: DataFrame, sep=None, default_category=None) -> DataFrame:
    """Inverse of get_dummies (ref general.py via pandas). Distributed: each
    output column is one coalesced when-chain over its dummy columns —
    narrow, scan-speed, no shuffle. Malformed rows (several 1s, or none
    without a default_category) raise on materialization via a plan-side
    raise_error guard, mirroring pandas' ValueError."""
    cols = list(data.columns)
    if sep is None:
        groups = {"": cols}
    else:
        groups = {}
        for c in cols:
            if sep not in str(c):
                raise ValueError(f"Separator not specified for column: {c}")
            prefix, cat = str(c).split(sep, 1)
            groups.setdefault(prefix, []).append(c)

    def build(prefix, members):
        rowsum = None
        expr = None
        for m in members:
            cat = str(m) if sep is None else str(m).split(sep, 1)[1]
            col = data[m]._expr
            cond = col.cast("int") == 1
            expr = F.when(cond, F.lit(cat)) if expr is None else expr.when(cond, F.lit(cat))
            s = col.cast("int")
            rowsum = s if rowsum is None else rowsum + s
        bad = rowsum > 1
        if default_category is None:
            bad = bad | (rowsum == 0)
            filled = expr
        else:
            dc = default_category.get(prefix) if isinstance(default_category, dict) else default_category
            filled = expr.otherwise(F.lit(dc))
        return F.when(bad, F.raise_error(F.lit(
            f"Dummy DataFrame contains malformed assignment for prefix {prefix!r}"
        )).cast("string")).otherwise(filled)

    names = [p or "categories" for p in groups]
    exprs = [build(p, ms) for p, ms in groups.items()]
    return DataFrame(_frame=data._frame.project(names, exprs))


def factorize(values, sort: bool = False, use_na_sentinel: bool = True):
    """Module-level factorize (ref general.py via base). Codes are a
    positional ndarray — an inherently driver-side object — so this
    materializes, like the reference's default_to_pandas for it."""
    if isinstance(values, Series):
        values = values.to_pandas()
    return pd.factorize(values, sort=sort, use_na_sentinel=use_na_sentinel)


def eval(expr, **kwargs):  # noqa: A001 — pandas-compatible name
    """Module-level eval (pandas semantics; frames passed via local_dict
    etc. are materialized — the reference defaults to pandas here too)."""
    return pd.eval(expr, **kwargs)


def to_timedelta(arg, unit=None, errors="raise"):
    """to_timedelta (ref general.py:834). Numeric Series × unit stays
    distributed (make_dt_interval on the scaled seconds — no UDF); string
    Series and scalars/lists go through pandas (driver-side, declared)."""
    import numpy as np

    if isinstance(arg, Series):
        try:
            kind = np.dtype(str(arg.dtype)).kind
        except TypeError:
            kind = "O"
        if kind in "iuf":
            u = (unit or "ns").lower()
            per = {
                "w": 604800.0, "d": 86400.0, "day": 86400.0, "days": 86400.0,
                "h": 3600.0, "hr": 3600.0, "hours": 3600.0, "hour": 3600.0,
                "m": 60.0, "min": 60.0, "minutes": 60.0, "t": 60.0,
                "s": 1.0, "sec": 1.0, "seconds": 1.0,
                "ms": 1e-3, "milliseconds": 1e-3, "l": 1e-3,
                "us": 1e-6, "microseconds": 1e-6, "u": 1e-6,
                "ns": 1e-9, "nanoseconds": 1e-9, "n": 1e-9,
            }.get(u)
            if per is None:
                raise ValueError(f"invalid unit abbreviation: {unit}")
            return arg._map1(lambda c: F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), c.cast("double") * per))
        from modin_spark.pandas.io import from_pandas

        res = (pd.to_timedelta(arg.to_pandas(), unit=unit, errors=errors)
               if unit else pd.to_timedelta(arg.to_pandas(), errors=errors))
        return from_pandas(res.to_frame("0"))["0"].rename(arg.name)
    return pd.to_timedelta(arg, unit=unit, errors=errors) if unit else pd.to_timedelta(arg, errors=errors)


def to_pickle(obj, filepath_or_buffer, **kwargs) -> None:
    """Module-level to_pickle — materializes mpd objects (pickle is a
    single-file driver format by definition), plain pandas otherwise."""
    if isinstance(obj, (DataFrame, Series)):
        obj = obj.to_pandas()
    pd.to_pickle(obj, filepath_or_buffer, **kwargs)


def test(extra_args=None) -> None:
    """Run this package's pytest suite (parity with the reference's
    module-level test() entry point)."""
    import subprocess
    import sys
    from pathlib import Path

    cmd = [sys.executable, "-m", "pytest", str(Path(__file__).resolve().parents[2] / "tests")]
    if extra_args:
        cmd.extend(extra_args)
    subprocess.run(cmd, check=False)
