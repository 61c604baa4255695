"""Order-dependent operators: cumulative ops, shift/diff, rolling/expanding,
rank.

These are the ops Spark makes easy to get wrong at scale: the naive plan is
``Window.orderBy(order)`` with no partitionBy — a single-task global window.
Everything here instead uses the block-partitioned two-pass scheme:

    1. attach a contiguous global position (range-repartition + local rank +
       tiny offset join — see SparkFrame.with_global_position),
    2. split into fixed-size blocks (position // B),
    3. compute within-block results with a *partitioned* window,
    4. combine with per-block carry-ins from a (#blocks)-row prefix pass
       (``core.frame.carry_table`` / ``carry_join``).

This is the same decomposition the reference uses across its row partitions
for Fold ops (/root/reference/modin/core/dataframe/algebra/fold.py:28 applied
per axis partition), expressed as two Spark stages. #blocks rows is tiny, so
the prefix pass is negligible; every heavy stage is shuffle-parallel.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from modin_spark.core import compiler as qc
from modin_spark.core.frame import (
    CARRY_BWD, CARRY_FWD, ORDER_COL, PIN_TAG, SparkFrame, carry_join, carry_key, carry_table,
    dense_positions, fresh_names, pin, sql_name)
from modin_spark.plans import limit_bounded

BLOCK = 1 << 16  # rows per block: bounds window-state size per task
_POS = "__pos__"
_BLK = "__blk__"
_HALO = "__halo__"


def _count_smaller_before(keys, m):
    """For each position j in integer array ``keys`` (values in [0, m)),
    the number of EARLIER positions i<j with keys[i] < keys[j] — vectorized
    bottom-up merge counting, no per-row Python loop.

    Every level is whole-array numpy: blocks of width w keep their members'
    ORIGINAL indices sorted by key; right-half members count left-half
    members below them with ONE global searchsorted (per-block key spaces
    separated by a block-id offset, so the concatenation of sorted rows is
    globally sorted). O(n log n) work, log2(n) Python iterations — a 5M-row
    all-ties bucket costs seconds, not the minutes of a Fenwick row loop.
    """
    import numpy as np

    n = len(keys)
    if n == 0 or m <= 1:
        return np.zeros(n, dtype="int64")
    n2 = 1 << (n - 1).bit_length()
    M = int(m) + 1  # sentinel key: strictly above every real key
    k = np.full(n2, M - 1, dtype="int64")
    k[:n] = keys
    res = np.zeros(n2, dtype="int64")
    idx = np.arange(n2, dtype="int64")
    w = 1
    while w < n2:
        nb = n2 // (2 * w)
        blk = idx.reshape(nb, 2 * w)
        lk = k[blk[:, :w]]                      # (nb, w) sorted rows
        rq = k[blk[:, w:]]                      # (nb, w) right-half keys
        off = (np.arange(nb, dtype="int64") * M)[:, None]
        cnt = np.searchsorted((lk + off).ravel(), (rq + off).ravel(), side="left")
        cnt -= np.repeat(np.arange(nb, dtype="int64") * w, w)
        res[blk[:, w:].ravel()] += cnt
        # merge: re-sort each 2w block by (key, index) — stable axis argsort
        kb = k[blk]
        ordr = np.argsort(kb, axis=1, kind="stable")
        idx = np.take_along_axis(blk, ordr, axis=1).ravel()
        w *= 2
    return res[:n]


def _with_blocks(frame: SparkFrame) -> SparkFrame:
    # NOT persisted in general, although the block consumers read this
    # lineage from several plan branches (carry aggregates, join-backs):
    # an interleaved A/B at BOTH sf0.1 and the 10x sf1 rung
    # showed the persist LOSES (rolling_pair 2.45->4.09s at sf1) — the cache
    # materializes the full row width and defeats the parquet scan's column
    # pruning, which costs more than the pruned scan+sort replays it saves
    # (r15; the transpose cache keeps the opposite regime: expensive-to-
    # compute, tiny-to-store aggregates).
    #
    # EXCEPTION (r16, guide §5): when Catalyst PROVES the input is bounded
    # (optimizedPlan().maxRows from a limit/TakeOrdered, <= one BLOCK), the
    # replay regime flips — each branch would re-run a full-data
    # TakeOrderedAndProject (ewm_mean's plan held 12 of them: 12 complete
    # scans of the source at 100 TB) while the cache holds <= 65536 rows.
    # Lifetime is the shared pin FIFO (core.frame.pin).
    ordered = frame.ensure_order()
    # probe the bound BEFORE the position attach: the offsets broadcast
    # join multiplies Catalyst's maxRows (4000-row head -> 16M), hiding
    # the proof; the pre-position plan carries the limit's exact bound
    bounded = limit_bounded(ordered.sdf, BLOCK)
    fr = ordered.with_global_position(_POS)
    fr = fr._same_rows(fr.sdf.withColumn(_BLK, (F.col(_POS) / F.lit(BLOCK)).cast("long")))
    if bounded:
        fr = fr._same_rows(pin(fr.sdf).drop(PIN_TAG))
    return fr


def _drop_aux(fr: SparkFrame) -> SparkFrame:
    return fr._same_rows(fr.sdf.drop(_POS, _BLK))


def _block_carry(sdf, table):
    """``carry_join`` on the block id. The carry key goes at once: the op's
    output may feed another block carry."""
    return carry_join(sdf, table, _BLK).drop(carry_key(_BLK))


def halo(sdf, back: int | None, fwd: int = 0, rows: int | None = None):
    """Block + halo rows: each row in its own block, plus one copy in every
    other block that needs it as context — the ``back`` rows before the
    block (``None``: the block's whole prefix, up to the last block of the
    frame's ``rows`` rows, which that case requires) and the ``fwd`` rows
    after it (centered windows). Copies
    carry ``__halo__`` true: a kernel computes over block + halo and keeps
    only the rows whose ``__halo__`` is false.
    Negative extents clamp to 0 (``closed='left'`` passes ``fwd=-1``).

    ONE projection over the input: the row at position p serves blocks
    (p - fwd) div BLOCK .. (p + back) div BLOCK, exploded from
    ``CASE WHEN lo < hi THEN sequence(lo, hi) END``. A union of a base branch
    with filtered halo branches replayed the whole upstream lineage once per
    branch (3 full scans per rolling op at scale). Rows that
    serve no other block (all but the block-edge rows) get a NULL array, so
    explode_outer passes them through once and builds no array for them.
    The same expression gives 0-2 neighbour copies, the multi-block decay
    halos of EWM and the whole prefix.
    """
    if back is not None and back <= 0 and fwd <= 0:
        return sdf.withColumn(_HALO, F.lit(False))
    if back is None:
        if rows is None:
            raise ValueError("the whole-prefix halo needs the frame's row count")
        # the last block id is a LITERAL from the caller's row count, so
        # every action on the (frequently re-executed) lineage skips the
        # extra scan. The lazy alternative (1-row broadcast cross join) was
        # measured WORSE end-to-end: build 1.5s -> 0.8s but exec 0.7s ->
        # 1.7s per action, because the max-agg subjob then runs inside every
        # action and the non-literal bound defeats pruning.
        hi = f"{max(rows - 1, 0) // BLOCK}L"
    else:
        hi = f"({_POS} + {max(back, 0)}) div {BLOCK}"
    lo = f"greatest(({_POS} - {fwd}) div {BLOCK}, 0L)" if fwd > 0 else _BLK
    sdf = sdf.selectExpr(
        "*", f"explode_outer(CASE WHEN {lo} < {hi} THEN sequence({lo}, {hi}) END) AS __e__")
    return sdf.withColumns({
        _BLK: F.expr(f"coalesce(__e__, {_BLK})"),
        _HALO: F.expr(f"__e__ IS NOT NULL AND __e__ <> {_BLK}"),
    }).drop("__e__")


def _window_halo(sdf, back: int, fwd: int = 0):
    """``halo`` for the SQL window kernels, which hold one block + halo per
    window partition: their extents must fit one block (blocked_pandas takes
    wider context)."""
    if back >= BLOCK or fwd >= BLOCK:
        raise NotImplementedError(
            f"rolling window wider than one {BLOCK}-row block (back={back}, fwd={fwd})"
        )
    return halo(sdf, back, fwd)


def _core_rows(sdf):
    """Drop the halo copies: the kernel's output rows."""
    return sdf.where(f"NOT {_HALO}").drop(_HALO)


def _center_extents(window: int, center: bool) -> tuple[int, int]:
    """(rows back, rows forward) covered by the window at each anchor row.
    pandas center=True puts the extra row of an even window BEHIND the
    anchor: w=4 covers [i-2, i+1]."""
    fwd = (window - 1) // 2 if center else 0
    return window - 1 - fwd, fwd


# ---------------------------------------------------------------------------
# cumulative ops
# ---------------------------------------------------------------------------

def cum_op(frame: SparkFrame, positions: Sequence[int], op: str, skipna: bool = True) -> SparkFrame:
    """cumsum/cumprod/cummax/cummin. Order contract: frame order, shape-preserved.

    pandas semantics: NaN rows stay NaN but do not reset the accumulator.
    """
    fr = _with_blocks(frame)
    w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)

    combine = {
        # a NULL carry (first block) falls through to the outer
        # coalesce(merged, carry, within) -> within, so no typed zero is
        # needed — which also keeps interval (timedelta) columns legal,
        # where coalesce(carry, 0) is a DATATYPE_MISMATCH
        "cumsum": (F.sum, "sum", lambda within, carry: within + carry),
        "cumprod": (F.product, None, lambda within, carry: within * carry),
        "cummax": (F.max, "max", lambda within, carry: F.greatest(within, carry)),
        "cummin": (F.min, "min", lambda within, carry: F.least(within, carry)),
    }
    agg_fn, agg_sql, merge_fn = combine[op]

    phys = [frame.data_cols[i] for i in positions]

    def _src(p):
        # pandas treats float NaN VALUES as missing (skipped, not poisoning
        # the accumulator) — normalize to NULL for the skipna path
        c = F.col(p)
        ts = frame.schema_map[p].simpleString()
        if ts == "boolean" and op in ("cumsum", "cumprod"):
            # pandas: bool cumsum/cumprod accumulate as int64 (Spark's
            # sum(boolean) is an AnalysisException); cummax/cummin stay bool
            return c.cast("long")
        if skipna and ts in ("double", "float"):
            return F.when(F.isnan(c), F.lit(None)).otherwise(c)
        return c

    sdf = fr.sdf
    within_cols = fresh_names(len(phys))
    for p, wc in zip(phys, within_cols):
        sdf = sdf.withColumn(wc, agg_fn(_src(p)).over(w_in))

    # per-block totals -> prefix carry (tiny: #blocks rows, single light task)
    totals = sdf.groupBy(_BLK).agg(*[agg_fn(_src(p)).alias(f"__t_{wc}") for p, wc in zip(phys, within_cols)])
    if op == "cumprod":
        # product() has no SQL name: the same carry table, in the Column API
        w_carry = Window.orderBy(_BLK).rowsBetween(Window.unboundedPreceding, -1)
        table = totals.select(F.col(_BLK).alias(carry_key(_BLK)), *[
            F.product(F.col(f"__t_{wc}")).over(w_carry).alias(f"__carry_{wc}") for wc in within_cols])
    else:
        table = carry_table(totals, _BLK, [
            (f"__carry_{wc}", f"{agg_sql}(__t_{wc})", CARRY_FWD) for wc in within_cols])
    sdf = _block_carry(sdf, table)

    labels, exprs = [], []
    for i, (p, wc) in enumerate(zip(phys, within_cols)):
        pos = positions[i]
        merged = merge_fn(F.col(wc), F.col(f"__carry_{wc}"))
        merged = F.coalesce(merged, F.col(f"__carry_{wc}"), F.col(wc))
        out = F.when(_src(p).isNull(), F.lit(None)).otherwise(merged) if skipna else merged
        labels.append(frame.columns[pos])
        exprs.append(out)
    out_fr = fr._same_rows(sdf).project(labels, exprs)
    return _drop_aux(out_fr)


# ---------------------------------------------------------------------------
# shift / diff
# ---------------------------------------------------------------------------

def shift(frame: SparkFrame, positions: Sequence[int], periods: int = 1, fill_value=None) -> SparkFrame:
    """Shift values by ``periods`` along frame order.

    Plan (|periods| < BLOCK, the practical case): block-partitioned
    ``lag``/``lead`` with a |periods|-row halo — ONE pass over the input and
    one block exchange. The previous position self-equijoin replayed the
    upstream lineage twice and paid a join (guide §2.4); it remains the
    fallback for |periods| >= BLOCK and for fill_value with negative periods
    (where "vacated" needs the global row count).
    """
    frame = frame.ensure_order()
    if 0 < abs(periods) < BLOCK and not (fill_value is not None and periods < 0):
        fr = _with_blocks(frame)
        back, fwd = (periods, 0) if periods > 0 else (0, -periods)
        sdf = _window_halo(fr.sdf, back, fwd)
        w = Window.partitionBy(_BLK).orderBy(_POS)
        phys = [frame.data_cols[i] for i in positions]
        out_cols = fresh_names(len(phys))
        sel = []
        for p, oc in zip(phys, out_cols):
            # positions are contiguous, and the halo supplies exactly the
            # |periods| neighbour rows each block edge needs — lag/lead by
            # ROW count equals shift by position
            e = (F.lag(F.col(p), periods) if periods > 0
                 else F.lead(F.col(p), -periods)).over(w)
            if fill_value is not None:  # periods > 0 here (guard above)
                e = F.when(F.col(_POS) < periods, F.lit(fill_value)).otherwise(e)
            sel.append(e.alias(oc))
        sdf = _core_rows(sdf.select("*", *sel))
        labels = [frame.columns[i] for i in positions]
        out = fr._same_rows(sdf).project(labels, [F.col(oc) for oc in out_cols])
        return _drop_aux(out)
    fr = frame.with_global_position(_POS)
    phys = [frame.data_cols[i] for i in positions]
    right = fr.sdf.select(
        (F.col(_POS) + F.lit(periods)).alias("__pos_r__"),
        *[F.col(p).alias(f"__sh_{p}") for p in phys],
    )
    joined = fr.sdf.join(right, fr.sdf[_POS] == right["__pos_r__"], "left")
    labels, exprs = [], []
    for i, p in zip(positions, phys):
        e = F.col(f"__sh_{p}")
        if fill_value is not None:
            # fill only the positions the shift vacated (no matching row),
            # not pre-existing NaNs that were shifted into range — pandas
            # preserves those
            e = F.when(F.col("__pos_r__").isNull(), F.lit(fill_value)).otherwise(e)
        labels.append(frame.columns[i])
        exprs.append(e)
    out = fr._same_rows(joined).project(labels, exprs)
    return out._same_rows(out.sdf.drop(_POS, "__pos_r__"))


def diff(frame: SparkFrame, positions: Sequence[int], periods: int = 1) -> SparkFrame:
    from pyspark.sql import types as T

    shifted = shift(frame, positions, periods)
    labels, exprs = [], []
    for out_pos, orig_pos in enumerate(positions):
        cur = F.col(frame.data_cols[orig_pos])
        prev = F.col(shifted.data_cols[out_pos])
        labels.append(frame.columns[orig_pos])
        dt = frame.schema_map[frame.data_cols[orig_pos]]
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # pandas: datetime diff yields timedelta — Spark's ts - ts is
            # already a DayTimeInterval
            exprs.append(cur - prev)
        elif isinstance(dt, T.BooleanType):
            # pandas: boolean diff is XOR ("did it change"), object dtype
            exprs.append(F.when(prev.isNotNull() & cur.isNotNull(), cur != prev))
        else:
            exprs.append(cur.cast("double") - prev.cast("double"))
    return shifted._same_rows(shifted.sdf).project(labels, exprs)


def pct_change(frame: SparkFrame, positions: Sequence[int], periods: int = 1,
               fill_method="ffill") -> SparkFrame:
    """pandas ``pct_change`` — cur/prev - 1 along frame order (same
    position-equijoin plan as shift; no global window). pandas pads missing
    values before differencing (fill_method), so the diff runs on the
    ffilled series — one extra ``carry_join`` pass. ``fill_method=None``
    (pandas 2.x direction) skips the pad; NaNs propagate."""
    if fill_method is None:
        filled = frame.select_positions(list(positions))
    else:
        filled = fill(frame, positions)
    shifted = shift(filled, list(range(len(positions))), periods)
    from modin_spark.pandas.series import _true_div  # call-time: no core<-pandas import cycle

    labels, exprs = [], []
    for out_pos, orig_pos in enumerate(positions):
        cur = F.col(filled.data_cols[out_pos])
        prev = F.col(shifted.data_cols[out_pos])
        labels.append(frame.columns[orig_pos])
        # pandas division: prev==0 -> signed inf (0/0 -> NaN), not Spark NULL
        exprs.append(_true_div(cur, prev) - 1)
    return shifted._same_rows(shifted.sdf).project(labels, exprs)


def interpolate_linear(frame: SparkFrame, positions: Sequence[int], x_col=None, limit=None,
                       limit_direction: str = "forward", keep_all: bool = False,
                       limit_area=None) -> SparkFrame:
    """pandas ``interpolate(method="linear")`` along frame order.

    Needs, per null cell, the nearest non-null (value, position) before and
    after. Both are ffill/bfill of a (value, pos) struct — a within-block
    window plus a forward and a backward ``carry_join`` in one carry table.
    Leading NaNs stay NaN; trailing NaNs extend the last value (pandas
    limit_direction='forward' default).
    ``limit_direction``: which NaN runs are eligible — 'forward' (leading
    stay NaN), 'backward' (trailing stay NaN, leading backfill), 'both'.
    Same plan either way; only the final projection's when-chain changes.

    ``x_col``: physical column name carrying the interpolation abscissa
    (pandas method='index'/'time'); the fraction is computed in x-space
    instead of row positions.  Same plan either way.
    """
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    fr = _with_blocks(frame)
    xe = F.col(x_col).cast("double") if x_col is not None else F.col(_POS).cast("double")
    w_f = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)
    w_b = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(0, Window.unboundedFollowing)

    sdf = fr.sdf
    prev_c, next_c = fresh_names(len(phys)), fresh_names(len(phys))
    for p, pc, nc in zip(phys, prev_c, next_c):
        sv = F.when(F.col(p).isNotNull(), F.struct(
            xe.alias("p"), F.col(_POS).cast("double").alias("r"), F.col(p).cast("double").alias("v")))
        sdf = sdf.withColumn(pc, F.last(sv, ignorenulls=True).over(w_f))
        sdf = sdf.withColumn(nc, F.first(sv, ignorenulls=True).over(w_b))
    blk = sdf.groupBy(_BLK).agg(
        *[F.max_by(F.col(pc), F.when(F.col(pc).isNotNull(), F.col(_POS))).alias(f"__l_{pc}") for pc in prev_c],
        *[F.min_by(F.col(nc), F.when(F.col(nc).isNotNull(), F.col(_POS))).alias(f"__f_{nc}") for nc in next_c],
    )
    sdf = _block_carry(sdf, carry_table(blk, _BLK, [
        *[(f"__cp_{pc}", f"last(__l_{pc}, true)", CARRY_FWD) for pc in prev_c],
        *[(f"__cn_{nc}", f"first(__f_{nc}, true)", CARRY_BWD) for nc in next_c],
    ]))

    exprs = []
    for p, pc, nc in zip(phys, prev_c, next_c):
        prev = F.coalesce(F.col(pc), F.col(f"__cp_{pc}"))
        nxt = F.coalesce(F.col(nc), F.col(f"__cn_{nc}"))
        frac = (xe - prev["p"]).cast("double") / (nxt["p"] - prev["p"]).cast("double")
        interp = prev["v"] + (nxt["v"] - prev["v"]) * frac
        if limit_direction == "backward":
            e = (
                F.when(F.col(p).isNotNull(), F.col(p).cast("double"))
                .when(nxt.isNull(), F.lit(None))       # trailing NaNs stay
                .when(prev.isNull(), nxt["v"])         # leading: backfill
                .otherwise(interp)
            )
        elif limit_direction == "both":
            e = (
                F.when(F.col(p).isNotNull(), F.col(p).cast("double"))
                .when(prev.isNull() & nxt.isNull(), F.lit(None))
                .when(prev.isNull(), nxt["v"])         # leading: backfill
                .when(nxt.isNull(), prev["v"])         # trailing: extend last
                .otherwise(interp)
            )
        else:
            e = (
                F.when(F.col(p).isNotNull(), F.col(p).cast("double"))
                .when(prev.isNull(), F.lit(None))          # leading NaNs
                .when(nxt.isNull(), prev["v"])             # trailing: extend last
                .otherwise(interp)
            )
        if limit_area == "inside":
            # only NaNs BETWEEN valid values fill; leading/trailing stay NaN
            e = F.when(F.col(p).isNull() & (prev.isNull() | nxt.isNull()),
                       F.lit(None)).otherwise(e)
        elif limit_area == "outside":
            # only leading/trailing NaNs fill; interior gaps stay NaN
            e = F.when(F.col(p).isNull() & prev.isNotNull() & nxt.isNotNull(),
                       F.lit(None)).otherwise(e)
        if limit is not None:
            # pandas limit: at most `limit` consecutive NaNs fill — gap from
            # the nearest valid row in the eligible direction(s)
            gap_f = F.col(_POS).cast("double") - prev["r"]
            gap_b = nxt["r"] - F.col(_POS).cast("double")
            if limit_direction == "backward":
                gap = F.coalesce(gap_b, gap_f)
            elif limit_direction == "both":
                gap = F.least(F.coalesce(gap_f, gap_b), F.coalesce(gap_b, gap_f))
            else:
                gap = F.coalesce(gap_f, gap_b)
            e = F.when(F.col(p).isNull() & (gap > limit), F.lit(None)).otherwise(e)
        exprs.append(e)
    if keep_all:
        # pandas frame interpolate keeps EVERY column: non-interpolated
        # columns (strings, NaN-free ints) pass through unchanged
        by_pos = dict(zip(positions, exprs))
        all_labels = list(frame.columns)
        all_exprs = [by_pos.get(i, F.col(frame.data_cols[i]))
                     for i in range(len(all_labels))]
        out = fr._same_rows(sdf).project(all_labels, all_exprs)
        return _drop_aux(out)
    out = fr._same_rows(sdf).project(labels, exprs)
    return _drop_aux(out)


# ---------------------------------------------------------------------------
# rolling / expanding
# ---------------------------------------------------------------------------

def rolling_quantile(frame, positions, window, q, min_periods=None, group_phys=None, center=False):
    """rolling(w).quantile(q) — F.percentile over the row window."""
    return rolling_agg(frame, positions, window, "quantile", min_periods, group_phys, q=q, center=center)


def _rolling_apply_udf(window, func, min_periods, raw):
    """The batched rolling-apply evaluator shared by the blocked (ungrouped)
    and key-partitioned (grouped) paths: NaN-coded window arrays in, one
    double per row out; raw=True NaN-free full windows stack into ONE (n, w)
    matrix so a numpy-reducible func runs once per batch, not once per row."""
    import numpy as np
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _apply(arrs: pd.Series) -> pd.Series:
        n = len(arrs)
        if n == 0:
            return pd.Series([], dtype="float64")
        rows = [np.asarray(a, dtype="float64") for a in arrs]
        nns = np.fromiter(((~np.isnan(r)).sum() for r in rows), dtype=np.int64, count=n)
        out = np.full(n, np.nan)
        todo = [i for i in range(n) if nns[i] >= min_periods]
        if raw and todo:
            fast = [i for i in todo if rows[i].size == window and nns[i] == window]
            if fast:
                Mx = np.vstack([rows[i] for i in fast])
                try:
                    vals = np.asarray(func(Mx, axis=1), dtype="float64")
                    if vals.shape != (Mx.shape[0],):
                        raise TypeError
                    out[fast] = vals
                    fastset = set(fast)
                    todo = [i for i in todo if i not in fastset]
                except Exception:
                    pass
        for i in todo:
            arg = rows[i] if raw else pd.Series(rows[i])
            out[i] = float(func(arg))
        return pd.Series(out, dtype="float64")

    return _apply


def grouped_rolling_apply(frame: SparkFrame, positions: Sequence[int],
                          group_phys: Sequence[str], window, func,
                          min_periods=None, center: bool = False,
                          raw: bool = False) -> SparkFrame:
    """groupby().rolling(w).apply(func) — a plain key-partitioned window
    (the keys already partition; no halo needed) + collect_list + the same
    batched udf as rolling_apply.  Shuffle-parallel across key ranges, NOT
    one-task-per-group (pandas inside applyInPandas was measured mildly
    superlinear at 10M rows / few groups: parallelism was #groups)."""
    if min_periods is None:
        min_periods = window
    frame2 = frame.ensure_order()
    phys = [frame2.data_cols[i] for i in positions]
    labels = [frame2.columns[i] for i in positions]
    back, fwd = _center_extents(window, center)
    w = (Window.partitionBy(*[F.col(k) for k in group_phys])
         .orderBy(F.col(ORDER_COL)).rowsBetween(-back, fwd))
    _apply = _rolling_apply_udf(window, func, min_periods, raw)
    sdf = frame2.sdf
    out_phys = fresh_names(len(phys))
    for p, op_ in zip(phys, out_phys):
        arr = F.collect_list(
            F.coalesce(F.col(p).cast("double"), F.lit(float("nan")))
        ).over(w)
        sdf = sdf.withColumn(op_, _apply(arr))
    return frame2._same_rows(sdf).project(labels, [F.col(op_) for op_ in out_phys])


def rolling_apply(frame, positions, window, func, min_periods=None, center=False,
                  raw=False):
    """rolling(w).apply(func) — collect_list over the block-halo window, then
    one Arrow-vectorized pandas_udf over the window arrays (the documented
    slow path; every built-in agg should use rolling_agg instead).

    pandas semantics (r11): func sees the window INCLUDING NaN cells (nulls
    are NaN-coded before collect_list, which would otherwise drop them);
    ``min_periods`` gates on the NON-NaN count; ``raw=False`` (the pandas
    default) hands func a pandas Series per window, ``raw=True`` an ndarray.
    With raw=True, NaN-free full windows are stacked into ONE (n, w) matrix
    so a numpy-reducible func runs once per batch, not once per row."""
    if min_periods is None:
        min_periods = window
    _apply = _rolling_apply_udf(window, func, min_periods, raw)
    frame2 = frame.ensure_order()
    phys = [frame2.data_cols[i] for i in positions]
    labels = [frame2.columns[i] for i in positions]
    fr = _with_blocks(frame2)
    back, fwd = _center_extents(window, center)
    sdf = _window_halo(fr.sdf, back, fwd)
    w = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(-back, fwd)
    out_phys = fresh_names(len(phys))
    for p, op_ in zip(phys, out_phys):
        # NaN-code nulls so collect_list keeps them: pandas windows include
        # NaN cells (min_periods gates, but func must SEE them)
        arr = F.collect_list(
            F.coalesce(F.col(p).cast("double"), F.lit(float("nan")))
        ).over(w)
        pos_cnt = F.count(F.lit(1)).over(w)
        sdf = sdf.withColumn(op_, F.when(pos_cnt >= 1, _apply(arr)))
    sdf = _core_rows(sdf)
    out = fr._same_rows(sdf).project(labels, [F.col(op_) for op_ in out_phys])
    return _drop_aux(out)


def rolling_agg(
    frame: SparkFrame,
    positions: Sequence[int],
    window: int,
    agg: str,
    min_periods: int | None = None,
    group_phys: list[str] | None = None,
    q: float | None = None,
    center: bool = False,
    closed: str | None = None,
    ddof: int = 1,
) -> SparkFrame:
    """Fixed-size rolling window along frame order (pandas ``rolling(w).agg()``).

    Without groups: block windows with a halo copied into the adjacent
    block(s), so every window is computed locally within a bounded partition —
    the scale-safe alternative to one global ordered window. ``center=True``
    shifts the frame to ``[-back, +fwd]`` around the anchor (with a forward
    halo), which is exact for every ``min_periods`` including the partial
    windows pandas produces at both edges.
    With groups (``groupby().rolling()``): a plain key-partitioned window.
    """
    if min_periods is None:
        min_periods = window
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    back, fwd = _center_extents(window, center)
    if closed not in (None, "right"):
        # pandas fixed-window closed=: shift/widen the frame ends
        # ('left' drops the anchor row, 'both' keeps w+1 rows, 'neither' w-1)
        if center:
            raise NotImplementedError("closed= with center=True")
        back, fwd = {
            "left": (window, -1),
            "both": (window, 0),
            "neither": (window - 1, -1),
        }[closed]

    # min_periods is agg_expr's min_count: count() needs min_periods window
    # ROWS (every row is an observation for count), the rest NON-NULLs
    def agg_over(p, w):
        return qc.agg_expr(agg, F.col(p), q, ddof=ddof, over=w, min_count=min_periods,
                           moving=True)

    if group_phys:
        w = Window.partitionBy(*group_phys).orderBy(ORDER_COL).rowsBetween(-back, fwd)
        return frame.project(labels, [agg_over(p, w) for p in phys])

    fr = _with_blocks(frame)
    sdf = _window_halo(fr.sdf, back, fwd)
    w = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(-back, fwd)
    out_phys = fresh_names(len(phys))
    for p, op_ in zip(phys, out_phys):
        sdf = sdf.withColumn(op_, agg_over(p, w))
    sdf = _core_rows(sdf)
    out = fr._same_rows(sdf).project(labels, [F.col(op_) for op_ in out_phys])
    return _drop_aux(out)


def window_weights(win_type: str, M: int, **kw):
    """Closed-form symmetric window weights (scipy.signal conventions —
    scipy itself is not a dependency)."""
    import numpy as np

    n = np.arange(M, dtype="float64")
    if win_type in ("boxcar", None):
        return np.ones(M)
    if win_type == "triang":
        return 1 - np.abs(2 * n - M + 1) / ((M + 1) if M % 2 else M)
    if win_type == "hamming":
        return 0.54 - 0.46 * np.cos(2 * np.pi * n / (M - 1))
    if win_type == "hann":
        return 0.5 - 0.5 * np.cos(2 * np.pi * n / (M - 1))
    if win_type == "blackman":
        return 0.42 - 0.5 * np.cos(2 * np.pi * n / (M - 1)) + 0.08 * np.cos(4 * np.pi * n / (M - 1))
    if win_type == "gaussian":
        std = kw.get("std")
        if std is None:
            raise ValueError("gaussian window requires std=")
        return np.exp(-0.5 * ((n - (M - 1) / 2) / std) ** 2)
    raise NotImplementedError(f"win_type {win_type!r}")


def rolling_weighted(
    frame: SparkFrame, positions: Sequence[int], window: int, win_type: str, agg: str,
    center: bool = False, **win_kwargs
) -> SparkFrame:
    """pandas ``rolling(w, win_type=...).sum()/mean()/var()/std()`` — weighted
    windows.

    Plan: the weighted sums unroll into ``window`` lag terms over ONE
    block-partitioned ordered window (halo rows supply cross-block context),
    so the whole thing stays in whole-stage codegen — no UDF, no shuffle
    beyond the block pass. var/std use the pandas weighted-variance formula
    (reference window_var/window_std, ref qc:1668-1691; pandas
    roll_weighted_var): var = Σw(x-μ)² · n / ((n-ddof)·Σw) with μ = Σwx/Σw,
    which needs just a second unrolled accumulation Σw·x². Incomplete or
    NaN-containing windows yield NULL (pandas min_periods=window default for
    weighted windows)."""
    import numpy as np

    weights = window_weights(win_type, window, **win_kwargs)
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    fr = _with_blocks(frame)
    back, fwd = _center_extents(window, center)
    sdf = _window_halo(fr.sdf, back, fwd)
    w_ord = Window.partitionBy(_BLK).orderBy(_POS)
    out_phys = fresh_names(len(phys))
    wsum = float(np.sum(weights))
    for p, op_ in zip(phys, out_phys):
        # oldest row in the window gets weights[0]: x_{t-back+j} = lag(x, back-j)
        # (center=True shifts the whole unroll forward by fwd; lag with a
        # negative offset is a lead, which Spark's Lag expression accepts)
        acc = acc2 = None
        for j in range(window):
            x = F.lag(F.col(p).cast("double"), back - j).over(w_ord)
            term = x * F.lit(float(weights[j]))
            acc = term if acc is None else acc + term  # null-propagating: any missing lag -> NULL
            if agg in ("var", "std"):
                term2 = x * x * F.lit(float(weights[j]))
                acc2 = term2 if acc2 is None else acc2 + term2
        if agg == "mean":
            e = acc / F.lit(wsum)
        elif agg in ("var", "std"):
            t = acc2 - acc * acc / F.lit(wsum)  # Σw(x-μ)² via the shortcut form
            e = t * F.lit(float(window)) / F.lit(float((window - 1) * wsum))  # ddof=1
            if agg == "std":
                e = F.sqrt(e)
        else:
            e = acc
        sdf = sdf.withColumn(op_, e)
    sdf = _core_rows(sdf)
    out = fr._same_rows(sdf).project(labels, [F.col(op_) for op_ in out_phys])
    return _drop_aux(out)


def expanding_agg(frame: SparkFrame, positions: Sequence[int], agg, min_periods: int = 1,
                  ddof: int = 1) -> SparkFrame:
    """pandas ``expanding().agg()`` — cumulative aggregate with min_periods.

    sum/min/max/mean/count/var/std decompose into within-block partials plus
    one ``carry_join`` of their per-block totals, as cum_op does.

    ``agg`` may be a single name or a list of names; a list is computed in ONE
    block pass (one sort, one carry broadcast) — output columns are
    ``{label}_{agg}`` per (column, agg) pair.
    """
    aggs = [agg] if isinstance(agg, str) else list(agg)
    multi = not isinstance(agg, str)
    need_mom = bool({"skew", "kurt"} & set(aggs))  # third/fourth central moments
    need_var = bool({"var", "std", "sem"} & set(aggs))
    # var/std/sem/skew/kurt accumulate ANCHOR-SHIFTED sums (Σ(x−a),
    # Σ(x−a)², …) — the naive Σx² − (Σx)²/n cancels catastrophically when
    # |mean| ≫ std, making the result partition-split-dependent (see
    # expanding_pair). sum/mean/min/max/count keep the raw carries.
    need_shift = need_mom or need_var
    phys = [frame.data_cols[i] for i in positions]
    fr = _with_blocks(frame)
    labels = [frame.columns[i] for i in positions]
    w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)

    sdf = fr.sdf
    if need_shift:
        anch = fr.sdf.groupBy().agg(*[
            F.coalesce(F.avg(F.col(p).cast("double")), F.lit(0.0)).alias(f"__a_{p}")
            for p in phys])
        sdf = sdf.crossJoin(F.broadcast(anch))
    # per-row within-block partials for count/sum(/shifted moments)/min/max
    aux = {}
    shifted_of = {}
    for p in phys:
        c = F.col(p)
        aux[p] = {
            "n": F.count(c).over(w_in),
            "s": F.sum(c).over(w_in),
            "mn": F.min(c).over(w_in),
            "mx": F.max(c).over(w_in),
        }
        if need_shift:
            cd = c.cast("double") - F.col(f"__a_{p}")
            shifted_of[p] = cd
            aux[p]["d"] = F.sum(cd).over(w_in)
            aux[p]["d2"] = F.sum(cd * cd).over(w_in)
            if need_mom:
                aux[p]["d3"] = F.sum(cd * cd * cd).over(w_in)
                aux[p]["d4"] = F.sum(cd * cd * cd * cd).over(w_in)
    tot_aggs = [
        *[F.count(F.col(p)).alias(f"__n_{p}") for p in phys],
        *[F.sum(F.col(p)).alias(f"__s_{p}") for p in phys],
        *[F.min(F.col(p)).alias(f"__mn_{p}") for p in phys],
        *[F.max(F.col(p)).alias(f"__mx_{p}") for p in phys],
    ]
    if need_shift:
        tot_aggs += [F.sum(shifted_of[p]).alias(f"__d_{p}") for p in phys]
        tot_aggs += [F.sum(shifted_of[p] * shifted_of[p]).alias(f"__d2_{p}") for p in phys]
    if need_mom:
        tot_aggs += [F.sum(shifted_of[p] * shifted_of[p] * shifted_of[p]).alias(f"__d3_{p}") for p in phys]
        tot_aggs += [F.sum(shifted_of[p] * shifted_of[p] * shifted_of[p] * shifted_of[p]).alias(f"__d4_{p}") for p in phys]
    tot = sdf.groupBy(_BLK).agg(*tot_aggs)
    # (carry, total, aggregate[, zero for the first block])
    kinds = [("cn", "n", "sum", 0), ("cs", "s", "sum", 0), ("cmn", "mn", "min"), ("cmx", "mx", "max")]
    if need_shift:
        kinds += [("cd", "d", "sum", 0), ("cd2", "d2", "sum", 0)]
    if need_mom:
        kinds += [("cd3", "d3", "sum", 0), ("cd4", "d4", "sum", 0)]
    sdf = _block_carry(sdf, carry_table(tot, _BLK, [
        (f"__{c}_{p}", f"{agg}({sql_name(f'__{t}_{p}')})", CARRY_FWD, *zero)
        for c, t, agg, *zero in kinds for p in phys]))

    exprs = []
    out_labels = []
    for p, lbl in zip(phys, labels):
        a = aux[p]
        n = a["n"] + F.coalesce(F.col(f"__cn_{p}"), F.lit(0))
        s = F.coalesce(a["s"], F.lit(0)) + F.coalesce(F.col(f"__cs_{p}"), F.lit(0))
        mn = F.least(a["mn"], F.col(f"__cmn_{p}"))
        mn = F.coalesce(mn, a["mn"], F.col(f"__cmn_{p}"))
        mx = F.greatest(a["mx"], F.col(f"__cmx_{p}"))
        mx = F.coalesce(mx, a["mx"], F.col(f"__cmx_{p}"))
        if need_shift:
            # anchor-shifted prefix sums: Σ(x−a), Σ(x−a)² — centred ≈0
            d = F.coalesce(a["d"], F.lit(0)) + F.coalesce(F.col(f"__cd_{p}"), F.lit(0))
            d2 = F.coalesce(a["d2"], F.lit(0)) + F.coalesce(F.col(f"__cd2_{p}"), F.lit(0))
        if need_mom:
            d3 = F.coalesce(a["d3"], F.lit(0)) + F.coalesce(F.col(f"__cd3_{p}"), F.lit(0))
            d4 = F.coalesce(a["d4"], F.lit(0)) + F.coalesce(F.col(f"__cd4_{p}"), F.lit(0))
            # central moments are shift-invariant: same formulas on the
            # shifted sums, with μ' = Σ(x−a)/n
            mu = d / n
            m2 = d2 / n - mu * mu
            m3 = d3 / n - 3 * mu * (d2 / n) + 2 * mu * mu * mu
            m4 = d4 / n - 4 * mu * (d3 / n) + 6 * mu * mu * (d2 / n) - 3 * mu * mu * mu * mu
        for a_name in aggs:
            min_n = min_periods
            if a_name == "sum":
                e = s
            elif a_name == "count":
                e = n
            elif a_name == "mean":
                e = s / n
            elif a_name == "min":
                e = mn
            elif a_name == "max":
                e = mx
            elif a_name in ("var", "std"):
                var = (d2 - (d * d) / n) / (n - F.lit(ddof))
                e = var if a_name == "var" else F.sqrt(var)
                min_n = max(min_periods, ddof + 1)
            elif a_name == "sem":
                e = qc.moving_sem(F.sqrt((d2 - (d * d) / n) / (n - 1)), n, ddof)
                min_n = max(min_periods, 2)
            elif a_name == "skew":
                e = qc.skew_from_g1(m3 / F.pow(m2, 1.5), n)
                min_n = max(min_periods, 3)
            elif a_name == "kurt":
                e = qc.kurt_from_g2(m4 / (m2 * m2) - 3, n)
                min_n = max(min_periods, 4)
            else:
                raise NotImplementedError(f"expanding {a_name}")
            # count gates on prefix ROW coverage (every row is an observation
            # for count — pandas), the rest on non-null observations
            gate_n = (F.col(_POS) + 1) if a_name == "count" else n
            exprs.append(F.when(gate_n >= min_n, e).otherwise(F.lit(None)))
            out_labels.append(f"{lbl}_{a_name}" if multi else lbl)
    out = fr._same_rows(sdf).project(out_labels, exprs)
    return _drop_aux(out)


def _sum_carries(sdf, terms: dict):
    """Attach ``__c_{k}``: the sum of term ``k`` over every earlier block
    (0 for the first) — the carry of the expanding pair moments."""
    tot = sdf.groupBy(_BLK).agg(*[F.sum(v).alias(f"__t_{k}") for k, v in terms.items()])
    return _block_carry(sdf, carry_table(tot, _BLK, [
        (f"__c_{k}", f"sum(__t_{k})", CARRY_FWD, 0) for k in terms]))


def expanding_pair(frame: SparkFrame, px: str, py: str, stat: str, min_periods: int = 1, out_label="0") -> SparkFrame:
    """Expanding corr/cov between two physical columns — algebraic carries
    over pairwise-complete rows (n, Σx', Σy', Σx'y', Σx'², Σy'²): block
    sums plus their ``carry_join``. Shuffle-parallel at any scale.

    FP stability: cov/corr are shift-invariant, and the naive one-pass
    Σxy − ΣxΣy/n cancels catastrophically when |mean| ≫ std — the result
    then depends on the partition split (block-carry summation order) and
    can flip a round(3) boundary vs a stable oracle. The accumulators are
    therefore ANCHOR-SHIFTED from the start: a one-row global mean
    aggregate broadcasts onto every row, and ALL sums (within-block and
    block carries) accumulate (x−ax), (x−ax)(y−ay), … — centred ≈0, so
    the shortcut formula is well-conditioned at any mean/std ratio."""
    fr = _with_blocks(frame)
    w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)
    x, y = F.col(px).cast("double"), F.col(py).cast("double")
    both = x.isNotNull() & y.isNotNull()
    # global anchor = mean over complete pairs, one extra NARROW scan
    # (2-column global agg, map-side combined — cheap next to the window
    # machinery even at cluster scale); anchor accuracy is irrelevant, any
    # constant near the data centre kills the cancellation
    anch = fr.sdf.groupBy().agg(
        F.coalesce(F.avg(F.when(both, x)), F.lit(0.0)).alias("__ax__"),
        F.coalesce(F.avg(F.when(both, y)), F.lit(0.0)).alias("__ay__"),
    )
    sdf = fr.sdf.crossJoin(F.broadcast(anch))
    xs, ys = x - F.col("__ax__"), y - F.col("__ay__")
    terms = {
        "n": F.when(both, F.lit(1)).cast("long"),
        "sx": F.when(both, xs), "sy": F.when(both, ys),
        "sxy": F.when(both, xs * ys), "sxx": F.when(both, xs * xs), "syy": F.when(both, ys * ys),
    }
    within = {k: F.sum(v).over(w_in) for k, v in terms.items()}
    sdf = _sum_carries(sdf, terms)
    g = {k: F.coalesce(within[k], F.lit(0)) + F.coalesce(F.col(f"__c_{k}"), F.lit(0)) for k in terms}
    n = g["n"]
    cov = (g["sxy"] - g["sx"] * g["sy"] / n) / (n - 1)
    if stat == "cov":
        e = cov
    else:
        sdx = F.sqrt((g["sxx"] - g["sx"] * g["sx"] / n) / (n - 1))
        sdy = F.sqrt((g["syy"] - g["sy"] * g["sy"] / n) / (n - 1))
        e = cov / (sdx * sdy)
    e = F.when(n >= F.greatest(F.lit(min_periods), F.lit(2)), e).otherwise(F.lit(None))
    out = fr._same_rows(sdf).project([out_label], [e])
    return _drop_aux(out)


def _pair_window(x, y, stat: str, w, min_periods: int):
    """Rolling corr/cov of ``x`` and ``y`` over window ``w``, pairwise-
    complete (pandas semantics): only rows where both are present count,
    and fewer than ``min_periods`` of them give NULL."""
    both = x.isNotNull() & y.isNotNull()
    n_pair = F.sum(F.when(both, F.lit(1)).otherwise(F.lit(0))).over(w)
    fn = F.covar_samp if stat == "cov" else F.corr
    return F.when(n_pair >= min_periods, fn(F.when(both, x), F.when(both, y)).over(w))


def rolling_pair(
    frame: SparkFrame, px: str, py: str, window: int, stat: str, min_periods=None, out_label="0",
    center: bool = False,
) -> SparkFrame:
    """Rolling corr/cov between two physical columns — F.corr/F.covar_samp
    over the block+halo row window (pairwise-complete, pandas semantics)."""
    if min_periods is None:
        min_periods = window
    fr = _with_blocks(frame)
    back, fwd = _center_extents(window, center)
    sdf = _window_halo(fr.sdf, back, fwd)
    w = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(-back, fwd)
    sdf = sdf.withColumn("__pv__", _pair_window(F.col(px), F.col(py), stat, w, min_periods))
    sdf = _core_rows(sdf)
    out = fr._same_rows(sdf).project([out_label], [F.col("__pv__")])
    return _drop_aux(out)


def expanding_pairwise(frame: SparkFrame, positions: Sequence[int], stat: str,
                       min_periods: int = 1) -> SparkFrame:
    """``df.expanding().corr()`` / ``.cov()`` pairwise — the full k×k matrix
    per row.  corr/cov are algebraic, so all k(k+1)/2 distinct pairs ride
    ONE block pass and one ``carry_join`` (6 carried sums per pair over
    pairwise-complete rows, as in expanding_pair), then posexplode
    lays the matrix out in pandas' (row, column) block order."""
    fr0 = frame.ensure_order()
    phys = [fr0.data_cols[i] for i in positions]
    labels = [fr0.columns[i] for i in positions]
    fr = _with_blocks(fr0)
    w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)
    pairs = [(i, j) for i in range(len(phys)) for j in range(i, len(phys))]
    # anchor-shift every column by its global mean (same FP-stability
    # scheme as expanding_pair: one extra narrow global agg, broadcast on)
    anch = fr.sdf.groupBy().agg(*[
        F.coalesce(F.avg(F.col(p).cast("double")), F.lit(0.0)).alias(f"__a_{i}__")
        for i, p in enumerate(phys)])
    sdf = fr.sdf.crossJoin(F.broadcast(anch))
    terms = {}
    for i, j in pairs:
        x = F.col(phys[i]).cast("double") - F.col(f"__a_{i}__")
        y = F.col(phys[j]).cast("double") - F.col(f"__a_{j}__")
        both = x.isNotNull() & y.isNotNull()
        terms[f"n_{i}_{j}"] = F.when(both, F.lit(1)).cast("long")
        terms[f"sx_{i}_{j}"] = F.when(both, x)
        terms[f"sy_{i}_{j}"] = F.when(both, y)
        terms[f"sxy_{i}_{j}"] = F.when(both, x * y)
        terms[f"sxx_{i}_{j}"] = F.when(both, x * x)
        terms[f"syy_{i}_{j}"] = F.when(both, y * y)
    within = {k: F.sum(v).over(w_in) for k, v in terms.items()}
    sdf = _sum_carries(sdf, terms)
    cells = {}
    for i, j in pairs:
        g = {t: (F.coalesce(within[f"{t}_{i}_{j}"], F.lit(0))
                 + F.coalesce(F.col(f"__c_{t}_{i}_{j}"), F.lit(0)))
             for t in ("n", "sx", "sy", "sxy", "sxx", "syy")}
        n = g["n"]
        cov = (g["sxy"] - g["sx"] * g["sy"] / n) / (n - 1)
        if stat == "cov":
            e = cov
        else:
            sdx = F.sqrt((g["sxx"] - g["sx"] * g["sx"] / n) / (n - 1))
            sdy = F.sqrt((g["syy"] - g["sy"] * g["sy"] / n) / (n - 1))
            e = cov / (sdx * sdy)
        e = F.when(n >= F.greatest(F.lit(min_periods), F.lit(2)), e)
        nm = f"__pw_{i}_{j}__"
        sdf = sdf.withColumn(nm, e)
        cells[(i, j)] = nm
        cells[(j, i)] = nm  # corr and cov are both symmetric
    lvl = fresh_names(1)[0]
    out_phys = fresh_names(len(phys))
    structs = [
        F.struct(
            F.lit(str(labels[i])).alias("__lvl__"),
            *[F.col(cells[(i, j)]).alias(f"__v_{j}__") for j in range(len(phys))],
        )
        for i in range(len(phys))
    ]
    idx_cols = list(fr0.index_cols) if fr0.index_cols else [_POS]
    idx_names = list(fr0.index_names) if fr0.index_cols else [None]
    sdf = sdf.select(
        *idx_cols, ORDER_COL,
        F.posexplode(F.array(*structs)).alias("__pwi__", "__pw__"),
    )
    sdf = sdf.select(
        *idx_cols,
        F.struct(F.col(ORDER_COL), F.col("__pwi__")).alias(ORDER_COL),
        F.col("__pw__.__lvl__").alias(lvl),
        *[F.col(f"__pw__.__v_{j}__").alias(op_) for j, op_ in enumerate(out_phys)],
    )
    return SparkFrame(sdf, pd.Index(labels), out_phys, idx_cols + [lvl],
                      idx_names + [None], has_order=True)


def _value_bucket_grid(rows, nparts: int, null_bucket: bool):
    """Value buckets of ``rows.__xv__`` and the (pos block × bucket) count
    grid: the first stage shared by expanding_rank and expanding_quantile.
    Returns ``(s, s_nn, cells)`` — ``rows`` plus ``__vb__``, hash-
    partitioned on it; its non-null rows; and one ``(__cblk__, __cvb__,
    count, __prev__)`` row per cell, where ``__prev__`` counts the bucket's
    rows in EARLIER blocks.

    Buckets come from approx-quantile boundaries baked as LITERALS (one
    build-time pass, like halo's max-block literal).
    repartitionByRange + spark_partition_id would re-SAMPLE different
    boundaries on every re-evaluation of the plan's branches — the bucket
    ids must be one consistent function of the value. Boundary accuracy
    only affects balance, never the result; ties always land in one bucket
    (same value ⇒ same comparisons). ``null_bucket``: null values ride
    along in bucket -1 and stay out of the grid.

    The grid is tiny, cumulated plan-side (fresh column names: cogrouping
    cells back against s would otherwise trip the ambiguous-self-join
    check), and DENSE: a block with no rows in some bucket still needs that
    bucket's earlier-block counts in its cumulative row, else the window
    prefix sums skip them."""
    nn = rows.where(F.col("__xv__").isNotNull()) if null_bucket else rows
    bounds = sorted(set(nn.approxQuantile(
        "__xv__", [j / nparts for j in range(1, nparts)], 0.001)))
    if bounds:
        vb = F.aggregate(
            F.array(*[F.lit(float(b)) for b in bounds]), F.lit(0),
            lambda acc, b: acc + F.when(F.col("__xv__") > b, 1).otherwise(0))
    else:
        vb = F.lit(0)
    if null_bucket:
        vb = F.when(F.col("__xv__").isNotNull(), vb).otherwise(F.lit(-1))
    s = rows.withColumn("__vb__", vb).repartition(nparts, "__vb__")
    s_nn = s.where(F.col("__vb__") >= 0) if null_bucket else s
    counts = s_nn.groupBy(
        F.col(_BLK).alias("__cblk__"), F.col("__vb__").alias("__cvb__")).count()
    grid = (s.select(F.col(_BLK).alias("__cblk__")).distinct()
            .crossJoin(s_nn.select(F.col("__vb__").alias("__cvb__")).distinct()))
    cells = grid.join(counts, ["__cblk__", "__cvb__"], "left").select(
        "__cblk__", "__cvb__", F.coalesce(F.col("count"), F.lit(0)).alias("count"))
    w_bprev = Window.partitionBy("__cvb__").orderBy("__cblk__").rowsBetween(
        Window.unboundedPreceding, -1)
    return s, s_nn, cells.withColumn("__prev__", F.coalesce(F.sum("count").over(w_bprev), F.lit(0)))


def expanding_rank(frame: SparkFrame, positions: Sequence[int], method: str = "average",
                   ascending: bool = True, pct: bool = False,
                   min_periods: int = 1) -> SparkFrame:
    """Exact distributed ``expanding().rank()`` — NOT the whole-prefix
    blocked_pandas path.

    For each row p, the rank of x_p within the non-null prefix decomposes as
    less(p) = A + B with
      A = #{i<=p : value-bucket(x_i) < value-bucket(x_p)}   and
      B = #{i<=p, same value bucket : x_i < x_p}  (ties: eq(p) likewise).
    Scheme: one range shuffle buckets the values (V = shuffle partitions);
    a tiny per-(pos-block, bucket) count matrix, cumulated driver-free with
    two window passes, gives every pos block its cross-block contribution
    to A; a per-pos-block Arrow pass adds the within-block part of A via a
    running bucket histogram; a per-value-bucket Arrow pass computes B and
    eq with a Fenwick sweep in pos order (queries are the bucket's OWN rows,
    so the group is never query-skewed). Total shipping O(n); every task
    holds one pos block or one value bucket — no task ever sees the whole
    prefix. Ties share one bucket (range partition on the value alone), the
    same hot-key bound as a groupby.

    pandas semantics (reference surface: modin/pandas/window.py:352
    Expanding -> rank, which the reference executes via its window
    compiler): methods average/min/max, NaN rows rank NaN and do not
    count, pct divides by the prefix non-null count, min_periods gates.
    """
    from pyspark.sql import types as T

    fr = _with_blocks(frame)
    out_names = fresh_names(len(positions))
    labels = [frame.columns[i] for i in positions]
    res_joined = fr.sdf
    nparts = int(fr.sdf.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    for i, op_ in zip(positions, out_names):
        p = frame.data_cols[i]
        # the double cast is the PANDAS contract here: window rank runs on
        # float64 arrays, so int64 values beyond 2^53 tie exactly as they
        # do in pandas (unlike Series.rank, whose per-dtype melt in rank()
        # stays exact — verified: pd expanding rank of [2^55, 2^55+1] ties)
        x = F.col(p).cast("double")
        xv = x if ascending else -x
        nn = fr.sdf.where(x.isNotNull()).select(
            F.col(_POS), F.col(_BLK), xv.alias("__xv__"))
        s, _, cells = _value_bucket_grid(nn, nparts, null_bucket=False)
        # per (block, bucket): rows in EARLIER blocks with bucket < vb —
        # same-bucket earlier rows are covered BY VALUE in stage 2; the
        # all-bucket earlier-row count feeds nn_prefix
        w_vprev = Window.partitionBy("__cblk__").orderBy("__cvb__").rowsBetween(
            Window.unboundedPreceding, -1)
        w_vall = Window.partitionBy("__cblk__").orderBy("__cvb__").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        cells = cells.select(
            F.col("__cblk__"), F.col("__cvb__"),
            F.coalesce(F.sum("__prev__").over(w_vprev), F.lit(0)).alias("__below__"),
            F.sum("__prev__").over(w_vall).alias("__allprev__"),
        )

        t1_schema = T.StructType([
            T.StructField(_POS, T.LongType()),
            T.StructField("__t1__", T.LongType()),
            T.StructField("__nn__", T.LongType()),
        ])

        def stage1(rows, cdf):
            import numpy as np

            if not len(rows):
                return pd.DataFrame({_POS: [], "__t1__": [], "__nn__": []})
            rows = rows.sort_values(_POS)
            vb = rows["__vb__"].to_numpy()
            V = int(vb.max()) + 1 if len(vb) else 1
            below = np.zeros(V, dtype="int64")
            allprev = 0
            if len(cdf):
                got = cdf[cdf["__cvb__"] < V]
                below[got["__cvb__"].to_numpy()] = got["__below__"].to_numpy()
                # __below__ is only materialized at observed buckets; fill
                # the gaps with a running max (cumulative counts are
                # monotone in the bucket id)
                below = np.maximum.accumulate(below)
                allprev = int(cdf["__allprev__"].iloc[0])
            # within-block running bucket histogram (exclusive of self)
            onehot = np.zeros((len(vb), V), dtype="int64")
            onehot[np.arange(len(vb)), vb] = 1
            cum = np.cumsum(onehot, axis=0) - onehot  # rows before, per bucket
            cumlow = np.cumsum(cum, axis=1) - cum      # buckets strictly below
            local_a = cumlow[np.arange(len(vb)), vb]
            t1 = below[vb] + local_a
            nnp = allprev + np.arange(1, len(vb) + 1)
            return pd.DataFrame({_POS: rows[_POS].to_numpy(),
                                 "__t1__": t1, "__nn__": nnp})

        t1 = s.groupby(_BLK).cogroup(cells.groupby("__cblk__")).applyInPandas(
            stage1, t1_schema)

        t2_schema = T.StructType([
            T.StructField(_POS, T.LongType()),
            T.StructField("__t2__", T.LongType()),
            T.StructField("__eq__", T.LongType()),
        ])

        def stage2(pdf):
            import numpy as np

            pdf = pdf.sort_values(_POS)
            xs = pdf["__xv__"].to_numpy()
            n = len(xs)
            uniq, inv = np.unique(xs, return_inverse=True)
            m = len(uniq)
            # eq: running per-value tie count incl self — vectorized (stable
            # argsort groups each value's rows in pos order)
            order = np.argsort(inv, kind="stable")
            cnts = np.bincount(inv, minlength=m)
            starts = np.concatenate(([0], np.cumsum(cnts)[:-1]))
            eq = np.empty(n, dtype="int64")
            eq[order] = np.arange(n, dtype="int64") - np.repeat(starts, cnts) + 1
            if m == 1:
                # degenerate-tie fast path: a constant (or one-value-
                # dominated) column funnels the whole column into this ONE
                # bucket — nothing is ever strictly smaller, so the answer
                # is free. This is the adversarial-skew guard: the hot
                # bucket costs O(n) numpy, not a whole-prefix sweep.
                t2 = np.zeros(n, dtype="int64")
            else:
                t2 = _count_smaller_before(inv, m)
            return pd.DataFrame({_POS: pdf[_POS].to_numpy(), "__t2__": t2, "__eq__": eq})

        t2 = s.groupby("__vb__").applyInPandas(stage2, t2_schema)
        comb = t1.join(t2.withColumnRenamed(_POS, "__pos2__"),
                       t1[_POS] == F.col("__pos2__"), "inner").drop("__pos2__")
        less = F.col("__t1__") + F.col("__t2__")
        eqc = F.col("__eq__")
        r = {"min": less + 1, "max": less + eqc,
             "average": (less + (eqc + 1) / 2).cast("double")}[method]
        r = r.cast("double")
        if pct:
            r = r / F.col("__nn__")
        r = F.when(F.col("__nn__") >= F.lit(max(min_periods, 1)), r)
        comb = comb.select(F.col(_POS).alias(f"__posr_{op_}__"), r.alias(op_))
        res_joined = res_joined.join(
            comb, res_joined[_POS] == comb[f"__posr_{op_}__"], "left"
        ).drop(f"__posr_{op_}__")

    out = fr._same_rows(res_joined).project(labels, [F.col(o) for o in out_names])
    return _drop_aux(out)


def expanding_quantile(frame: SparkFrame, positions: Sequence[int], q: float,
                       min_periods: int = 1,
                       interpolation: str = "linear") -> SparkFrame:
    """Exact distributed ``expanding().quantile(q)`` / ``.median()`` — NOT
    the whole-prefix blocked_pandas path.

    Same value-bucket × pos-block decomposition as expanding_rank, plus a
    SELECTION stage: stage 1 locates, per row, the bucket holding the
    target order statistic (prefix bucket-histogram = tiny dense matrix +
    within-block running histogram) and the residual rank inside it; stage
    2 answers (pos, k) selection queries per bucket with one Fenwick sweep
    in pos order. Shipping O(n); tasks hold one pos block or one value
    bucket (+ its queries). Caveat, documented: the quantile trajectory
    concentrates its queries on few buckets once it stabilizes, so stage-2
    parallelism degrades toward those buckets — still bounded memory and
    O(n log) work, vs the O(n·#blocks) whole-prefix shipping this replaces.

    pandas semantics (reference surface: modin/pandas/window.py:352
    Expanding -> quantile/median): NaN values skipped but NaN ROWS still
    report the running prefix quantile, interpolation linear/lower/
    higher/nearest/midpoint on fractional index q*(nn-1), min_periods.
    """
    from pyspark.sql import types as T

    if not (0.0 <= q <= 1.0):
        raise ValueError("quantile must be in [0, 1]")
    fr = _with_blocks(frame)
    out_names = fresh_names(len(positions))
    labels = [frame.columns[i] for i in positions]
    res_joined = fr.sdf
    nparts = int(fr.sdf.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    for i, op_ in zip(positions, out_names):
        p = frame.data_cols[i]
        x = F.col(p).cast("double")
        # ALL rows ride stage 1 — pandas reports the running prefix
        # quantile at NaN rows too (a NaN contributes nothing but still
        # reads); null rows carry bucket -1 and never enter a histogram
        base = fr.sdf.select(F.col(_POS), F.col(_BLK), x.alias("__xv__"))
        s, s_nn, cells = _value_bucket_grid(base, nparts, null_bucket=True)

        q_schema = T.StructType([
            T.StructField(_POS, T.LongType()),
            T.StructField("__qvb__", T.IntegerType()),
            T.StructField("__k__", T.LongType()),
            T.StructField("__which__", T.IntegerType()),
            T.StructField("__frac__", T.DoubleType()),
            T.StructField("__nn__", T.LongType()),
            T.StructField("__loev__", T.IntegerType()),
        ])

        def stage1(rows, cdf):
            import numpy as np

            empty = pd.DataFrame({_POS: pd.Series([], dtype="int64"),
                                  "__qvb__": pd.Series([], dtype="int32"),
                                  "__k__": pd.Series([], dtype="int64"),
                                  "__which__": pd.Series([], dtype="int32"),
                                  "__frac__": pd.Series([], dtype="float64"),
                                  "__nn__": pd.Series([], dtype="int64"),
                                  "__loev__": pd.Series([], dtype="int32")})
            if not len(rows):
                return empty
            rows = rows.sort_values(_POS)
            vb = rows["__vb__"].to_numpy()
            m = len(vb)
            nonnull = vb >= 0
            V = int(max(int(vb.max()) + 1 if nonnull.any() else 1,
                        (int(cdf["__cvb__"].max()) + 1) if len(cdf) else 1))
            prev = np.zeros(V, dtype="int64")
            if len(cdf):
                prev[cdf["__cvb__"].to_numpy()] = cdf["__prev__"].to_numpy()
            onehot = np.zeros((m, V), dtype="int64")
            onehot[np.arange(m)[nonnull], vb[nonnull]] = 1
            hist = np.cumsum(onehot, axis=0) + prev  # INCLUSIVE prefix, per bucket
            cum = np.cumsum(hist, axis=1)            # buckets <= v, inclusive prefix
            nnp = prev.sum() + np.cumsum(nonnull.astype("int64"))
            idx = q * np.maximum(nnp - 1, 0)
            lo = np.floor(idx).astype("int64")
            hi = np.ceil(idx).astype("int64")
            frac = idx - lo
            out = []
            need_hi = hi > lo  # integral index: lo IS the answer, skip the
            for which, kk, keep in ((0, lo, None), (1, hi, need_hi)):
                # hi query entirely (comb coalesces vhi -> vlo)
                if keep is not None and not keep.any():
                    break
                # per-row bucket search, vectorized: each cum row ascends,
                # so the target bucket = #buckets with cum <= k
                tv = (cum <= kk[:, None]).sum(axis=1)
                below = np.where(tv > 0, cum[np.arange(m), np.maximum(tv - 1, 0)], 0)
                below = np.where(tv == 0, 0, below)
                q_df = pd.DataFrame({
                    _POS: rows[_POS].to_numpy(), "__qvb__": tv.astype("int32"),
                    "__k__": kk - below, "__which__": np.int32(which),
                    "__frac__": frac, "__nn__": nnp,
                    "__loev__": (1 - (lo % 2)).astype("int32")})
                out.append(q_df[keep] if keep is not None else q_df)
            return pd.concat(out, ignore_index=True)

        queries = s.groupby(_BLK).cogroup(cells.groupby("__cblk__")).applyInPandas(
            stage1, q_schema)
        queries = queries.where(F.col("__nn__") >= 1)

        # stage 2 passes the query metadata THROUGH so no plan branch has
        # to re-derive it: every extra consumer of `queries`/`sel` would
        # re-run the whole cogroup pipeline (Python stages are never
        # exchange-reused across branches)
        sel_schema = T.StructType([
            T.StructField(_POS, T.LongType()),
            T.StructField("__which__", T.IntegerType()),
            T.StructField("__val__", T.DoubleType()),
            T.StructField("__frac__", T.DoubleType()),
            T.StructField("__nn__", T.LongType()),
            T.StructField("__loev__", T.IntegerType()),
        ])

        def stage2(rows, qdf):
            import numpy as np

            if not len(qdf) or not len(rows):
                return pd.DataFrame({_POS: pd.Series([], dtype="int64"),
                                     "__which__": pd.Series([], dtype="int32"),
                                     "__val__": pd.Series([], dtype="float64"),
                                     "__frac__": pd.Series([], dtype="float64"),
                                     "__nn__": pd.Series([], dtype="int64"),
                                     "__loev__": pd.Series([], dtype="int32")})
            rows = rows.sort_values(_POS)
            qdf = qdf.sort_values(_POS)
            xs = rows["__xv__"].to_numpy()
            rpos = rows[_POS].to_numpy()
            uniq, inv = np.unique(xs, return_inverse=True)
            mu = len(uniq)
            qpos = qdf[_POS].to_numpy()
            qk = qdf["__k__"].to_numpy()
            vals = np.empty(len(qdf), dtype="float64")
            # rows inserted before each query = its frontier (both sides
            # pos-sorted, so frontiers are nondecreasing)
            frontier = np.searchsorted(rpos, qpos, side="right")
            if mu == 1:
                # degenerate-tie fast path: a constant/one-value-dominated
                # column funnels everything into this bucket — every order
                # statistic IS the value. The adversarial-skew guard: the
                # hot bucket costs O(#queries) numpy, no sweep at all.
                vals[:] = np.where(frontier > 0, uniq[0], np.nan)
            elif mu <= 64:
                # few distinct values (tie-heavy hot bucket): chunked
                # running value histogram; each query reads its frontier's
                # inclusive histogram row and takes the k-th smallest by
                # cumulative count. O(n·mu) numpy, no per-row Python loop.
                n = len(xs)
                base = np.zeros(mu, dtype="int64")
                ch = max(1024, (1 << 22) // mu)
                vals[:np.searchsorted(frontier, 0, side="right")] = np.nan
                for s0 in range(0, n, ch):
                    e0 = min(s0 + ch, n)
                    iv = inv[s0:e0]
                    onehot = np.zeros((e0 - s0, mu), dtype="int64")
                    onehot[np.arange(e0 - s0), iv] = 1
                    cum = np.cumsum(onehot, axis=0) + base
                    j0 = np.searchsorted(frontier, s0 + 1, side="left")
                    j1 = np.searchsorted(frontier, e0, side="right")
                    if j1 > j0:
                        hist = cum[frontier[j0:j1] - 1 - s0]
                        csum = np.cumsum(hist, axis=1)
                        want = qk[j0:j1] + 1
                        sel = (csum < want[:, None]).sum(axis=1)
                        vals[j0:j1] = np.where(
                            sel < mu, uniq[np.minimum(sel, mu - 1)], np.nan)
                    base = cum[-1]
            else:
                # diverse bucket (quantile-balanced, so bounded): Fenwick
                # inserts + batched VECTORIZED k-th-select descents (queries
                # sharing one insertion frontier see one Fenwick state)
                fen = np.zeros(mu + 1, dtype="int64")
                LOG = max(1, int(mu).bit_length())
                starts = np.flatnonzero(np.r_[True, frontier[1:] != frontier[:-1]])
                ends = np.r_[starts[1:], len(qdf)]
                ri = 0
                for b, e in zip(starts, ends):
                    target = frontier[b]
                    while ri < target:
                        k = inv[ri] + 1
                        while k <= mu:
                            fen[k] += 1
                            k += k & (-k)
                        ri += 1
                    want = qk[b:e] + 1
                    pos_ = np.zeros(e - b, dtype="int64")
                    acc = np.zeros(e - b, dtype="int64")
                    for step in range(LOG, -1, -1):
                        nxt = pos_ + (1 << step)
                        ok = nxt <= mu
                        f = np.where(ok, fen[np.minimum(nxt, mu)], 0)
                        take = ok & (acc + f < want)
                        pos_ = np.where(take, nxt, pos_)
                        acc = np.where(take, acc + f, acc)
                    vals[b:e] = np.where(pos_ < mu, uniq[np.minimum(pos_, mu - 1)], np.nan)
            return pd.DataFrame({_POS: qpos, "__which__": qdf["__which__"].to_numpy(),
                                 "__val__": vals,
                                 "__frac__": qdf["__frac__"].to_numpy(),
                                 "__nn__": qdf["__nn__"].to_numpy(),
                                 "__loev__": qdf["__loev__"].to_numpy()})

        sel = s_nn.groupby("__vb__").cogroup(queries.groupby("__qvb__")).applyInPandas(
            stage2, sel_schema)
        # ONE pass over sel: pivot lo/hi into columns (an extra join branch
        # would re-execute both Python stages)
        comb = sel.groupBy(F.col(_POS).alias("__pm__")).agg(
            F.max(F.when(F.col("__which__") == 0, F.col("__val__"))).alias("__vlo__"),
            F.max(F.when(F.col("__which__") == 1, F.col("__val__"))).alias("__vhi__"),
            F.first("__frac__").alias("__frac__"),
            F.first("__nn__").alias("__nn__"),
            F.first("__loev__").alias("__loev__"),
        )
        vlo, vhi, frac = F.col("__vlo__"), F.col("__vhi__"), F.col("__frac__")
        vhi = F.coalesce(vhi, vlo)  # hi emitted only for fractional indexes
        if interpolation == "linear":
            e = vlo + frac * (vhi - vlo)
        elif interpolation == "lower":
            e = vlo
        elif interpolation == "higher":
            e = vhi
        elif interpolation == "midpoint":
            e = (vlo + vhi) / 2
        elif interpolation == "nearest":
            # numpy/pandas 'nearest' rounds a half-index to the EVEN index
            e = (F.when(frac > 0.5, vhi).when(frac < 0.5, vlo)
                 .otherwise(F.when(F.col("__loev__") == 1, vlo).otherwise(vhi)))
        else:
            raise NotImplementedError(f"interpolation {interpolation!r}")
        e = F.when(F.col("__nn__") >= F.lit(max(min_periods, 1)), e)
        comb = comb.select(F.col("__pm__").alias(f"__posq_{op_}__"), e.alias(op_))
        res_joined = res_joined.join(
            comb, res_joined[_POS] == comb[f"__posq_{op_}__"], "left"
        ).drop(f"__posq_{op_}__")

    out = fr._same_rows(res_joined).project(labels, [F.col(o) for o in out_names])
    return _drop_aux(out)


def rolling_pair_frame(frame: SparkFrame, positions: Sequence[int], py: str, window: int,
                       stat: str, min_periods=None, center: bool = False) -> SparkFrame:
    """``df.rolling(w).corr(series)`` — each selected column paired against
    ONE other physical column, all k F.corr/covar_samp window aggregates in
    a single block+halo pass (pairwise-complete, pandas semantics)."""
    if min_periods is None:
        min_periods = window
    fr = _with_blocks(frame)
    back, fwd = _center_extents(window, center)
    sdf = _window_halo(fr.sdf, back, fwd)
    w = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(-back, fwd)
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    out_phys = fresh_names(len(phys))
    y = F.col(py).cast("double")
    for p, op_ in zip(phys, out_phys):
        sdf = sdf.withColumn(op_, _pair_window(F.col(p).cast("double"), y, stat, w, min_periods))
    sdf = _core_rows(sdf)
    out = fr._same_rows(sdf).project(labels, [F.col(op_) for op_ in out_phys])
    return _drop_aux(out)


def rolling_pairwise(frame: SparkFrame, positions: Sequence[int], window: int, stat: str,
                     min_periods=None, center: bool = False) -> SparkFrame:
    """``df.rolling(w).corr()`` / ``.cov()`` pairwise — the full k×k matrix
    per row.  All k² F.corr/covar_samp window aggregates run in ONE
    block+halo pass, then posexplode lays the matrix out as pandas does: k
    output rows per input row, indexed by (original label, column label).
    Non-string column labels stringify into the new index level (documented
    typed-column contract, same class as the reindex fill_value divergence)."""
    if min_periods is None:
        min_periods = window
    fr0 = frame.ensure_order()
    phys = [fr0.data_cols[i] for i in positions]
    labels = [fr0.columns[i] for i in positions]
    fr = _with_blocks(fr0)
    back, fwd = _center_extents(window, center)
    sdf = _window_halo(fr.sdf, back, fwd)
    w = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(-back, fwd)
    cell = {}
    for i, pi in enumerate(phys):
        for j, pj in enumerate(phys):
            if stat == "cov" and j < i:
                continue  # symmetric: reuse the upper triangle
            nm = f"__pw_{i}_{j}__"
            sdf = sdf.withColumn(nm, _pair_window(
                F.col(pi).cast("double"), F.col(pj).cast("double"), stat, w, min_periods))
            cell[(i, j)] = nm
            if stat == "cov":
                cell[(j, i)] = nm
    sdf = _core_rows(sdf)
    lvl = fresh_names(1)[0]
    out_phys = fresh_names(len(phys))
    structs = [
        F.struct(
            F.lit(str(labels[i])).alias("__lvl__"),
            *[F.col(cell[(i, j)]).alias(f"__v_{j}__") for j in range(len(phys))],
        )
        for i in range(len(phys))
    ]
    # one output row per (input row, source column i); _POS doubles as the
    # original positional label when the frame has a default index
    idx_cols = list(fr0.index_cols) if fr0.index_cols else [_POS]
    idx_names = list(fr0.index_names) if fr0.index_cols else [None]
    sdf = sdf.select(
        *idx_cols, ORDER_COL,
        F.posexplode(F.array(*structs)).alias("__pwi__", "__pw__"),
    )
    sdf = sdf.select(
        *idx_cols,
        F.struct(F.col(ORDER_COL), F.col("__pwi__")).alias(ORDER_COL),
        F.col("__pw__.__lvl__").alias(lvl),
        *[F.col(f"__pw__.__v_{j}__").alias(op_) for j, op_ in enumerate(out_phys)],
    )
    return SparkFrame(sdf, pd.Index(labels), out_phys, idx_cols + [lvl],
                      idx_names + [None], has_order=True)


def _pandas_by(fr: SparkFrame, sdf, keys: Sequence[str], phys: Sequence[str], labels,
               pd_fn) -> SparkFrame:
    """Exact pandas per ``keys`` group in ONE applyInPandas pass, rejoined to
    ``fr`` on position so labels and order survive. Each group's rows sort
    by position; ``pd_fn`` gets the float64 DataFrame of ``phys`` (columns
    0..k-1, positional: labels may collide or be tuples) and returns a
    DataFrame or Series with one column per output label. Rows whose
    ``__halo__`` is true are context only: computed on, not returned."""
    from pyspark.sql import types as T

    out_names = fresh_names(len(labels))
    schema = T.StructType(
        [T.StructField(_POS, T.LongType())] + [T.StructField(o, T.DoubleType()) for o in out_names]
    )

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(_POS)
        sub = pdf[list(phys)].astype("float64")
        sub.columns = range(len(phys))
        res = pd_fn(sub)
        if isinstance(res, pd.Series):
            res = res.to_frame()
        keep = ~pdf[_HALO].to_numpy() if _HALO in pdf.columns else slice(None)
        out = {_POS: pdf[_POS].to_numpy()[keep]}
        for j, o in enumerate(out_names):
            out[o] = res.iloc[:, j].to_numpy(dtype="float64")[keep]
        return pd.DataFrame(out)

    res = sdf.groupBy(*keys).applyInPandas(apply_fn, schema)
    res = res.select(F.col(_POS).alias("__pos_r__"), *[F.col(o) for o in out_names])
    joined = fr.sdf.join(res, fr.sdf[_POS] == res["__pos_r__"], "left").drop("__pos_r__")
    out = fr._same_rows(joined).project(labels, [F.col(o) for o in out_names])
    return _drop_aux(out)


def grouped_pandas_transform(frame: SparkFrame, positions: Sequence[int],
                             group_phys: Sequence[str], pd_fn) -> SparkFrame:
    """Length-preserving per-group pandas transform (``groupby().ewm()``,
    ``groupby().rolling().apply()``): the group keys already partition the
    work, so each group runs exact pandas inside ONE applyInPandas task
    (same groups-fit-in-a-task contract as groupby.apply), with no halo."""
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    fr = _with_blocks(frame)
    sdf = fr.sdf.select(*dict.fromkeys([_POS, *group_phys, *phys]))
    return _pandas_by(fr, sdf, group_phys, phys, labels, pd_fn)


def blocked_pandas(frame: SparkFrame, positions: Sequence[int], pd_fn, back: int | None,
                   fwd: int = 0, labels=None, rows: int | None = None) -> SparkFrame:
    """Exact pandas per block with its halo, via one applyInPandas pass:
    ``pd_fn`` maps the block + halo rows' float64 DataFrame of the
    ``positions`` columns to a DataFrame or Series (see ``_pandas_by``).

    ``back=k``: each block sees the k preceding rows (rolling-style; EWM
    decay halos may span several blocks). ``back=None``: each block sees
    its ENTIRE prefix (expanding order statistics: median/quantile/rank/
    apply are not algebraically decomposable, so the exact answer needs all
    prior values — cost is O(n·#blocks) rows shipped and the last block
    holds the full column; use the algebraic expanding aggs wherever
    possible, this is the documented exact-order-statistic slow path).
    ``fwd=k``: each block also sees the k FOLLOWING rows (centered windows).
    ``labels``: the output labels, one per column ``pd_fn`` returns
    (default: the input columns' labels). ``rows``: the frame's row count,
    when the caller has it (``back=None`` needs it).
    """
    if back is None and rows is None:
        # shape-deciding: the row count is the whole-prefix halo's last block
        rows = frame.count_rows()
    frame = frame.ensure_order()
    phys = [frame.data_cols[i] for i in positions]
    if labels is None:
        labels = [frame.columns[i] for i in positions]
    fr = _with_blocks(frame)
    sdf = halo(fr.sdf.select(_POS, _BLK, *phys), back, fwd, rows)
    return _pandas_by(fr, sdf, [_BLK], phys, labels, pd_fn)


# ---------------------------------------------------------------------------
# ffill / bfill
# ---------------------------------------------------------------------------

def fill(frame: SparkFrame, positions: Sequence[int], limit: int | None = None,
         backward: bool = False) -> SparkFrame:
    """Forward-fill (``backward``: backward-fill) along frame order: the last
    (first) non-null within the block, else the ``carry_join`` of the
    nearest non-null from the blocks before (after) it.

    ``limit``: fill at most that many consecutive nulls (pandas limit=) —
    the carried value becomes a (position, value) struct so the fill
    distance is checkable; same plan shape."""
    phys = [frame.data_cols[i] for i in positions]
    labels = [frame.columns[i] for i in positions]
    fr = _with_blocks(frame)
    if backward:
        w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(0, Window.unboundedFollowing)
        pick, edge, edge_sql, tot, frame_sql = F.first, F.min_by, "first", "__bf_", CARRY_BWD
    else:
        w_in = Window.partitionBy(_BLK).orderBy(_POS).rowsBetween(Window.unboundedPreceding, 0)
        pick, edge, edge_sql, tot, frame_sql = F.last, F.max_by, "last", "__bl_", CARRY_FWD

    sdf = fr.sdf
    within = fresh_names(len(phys))
    for p, wc in zip(phys, within):
        src = (F.col(p) if limit is None else
               F.when(F.col(p).isNotNull(), F.struct(F.col(_POS).alias("p"), F.col(p).alias("v"))))
        sdf = sdf.withColumn(wc, pick(src, ignorenulls=True).over(w_in))
    # the block's own nearest non-null to its far edge
    blk_edge = sdf.groupBy(_BLK).agg(
        *[edge(F.col(wc), F.when(F.col(wc).isNotNull(), F.col(_POS))).alias(f"{tot}{wc}") for wc in within]
    )
    sdf = _block_carry(sdf, carry_table(blk_edge, _BLK, [
        (f"__cr_{wc}", f"{edge_sql}({tot}{wc}, true)", frame_sql) for wc in within]))
    if limit is None:
        exprs = [F.coalesce(F.col(wc), F.col(f"__cr_{wc}")) for wc in within]
    else:
        exprs = []
        for p, wc in zip(phys, within):
            near = F.coalesce(F.col(wc), F.col(f"__cr_{wc}"))
            gap = near["p"] - F.col(_POS) if backward else F.col(_POS) - near["p"]
            exprs.append(
                F.when(F.col(p).isNotNull(), F.col(p))
                .when(near.isNotNull() & (gap <= limit), near["v"])
            )
    out = fr._same_rows(sdf).project(labels, exprs)
    return _drop_aux(out)


# ---------------------------------------------------------------------------
# rank
# ---------------------------------------------------------------------------

def rank(
    frame: SparkFrame,
    positions: Sequence[int],
    method: str = "average",
    ascending: bool = True,
    pct: bool = False,
    na_option: str = "keep",
) -> SparkFrame:
    """pandas ``rank``. Scale-safe and batched: all columns of one dtype melt
    into (column-id, value) rows and go through ONE value sort (deterministic
    value-bucket shuffle) + one (cid, value)-window + one pivot join-back — k
    columns cost one sort, not k sorts. ``pct`` denominators come from a
    per-cid aggregate joined broadcast-side, never a driver ``count()``
    action. No global window anywhere.

    Plan-build latency: every stage is a selectExpr/SQL-string expression —
    ONE py4j round trip per stage instead of one per Column call (the
    Column-API form of this kernel cost ~500 bridge commands per ranked
    frame; this form ~150).
    """
    fr = frame.ensure_order()
    out_labels = [frame.columns[i] for i in positions]

    # group ranked columns by exact Spark dtype: each group melts without any
    # lossy cast (a double cast would collapse distinct int64 > 2^53)
    by_dtype: dict[str, list[int]] = {}
    for i in positions:
        by_dtype.setdefault(frame.schema_map[frame.data_cols[i]].simpleString(), []).append(i)

    from modin_spark.core.frame import (
        ORDER_BUCKET_HI, ORDER_BUCKET_LO, order_bucket_sql as _obs)

    rank_for_pos: dict[int, str] = {}
    base_sdf = fr.sdf  # melt every dtype group from the ORIGINAL plan — melting
    sdf = fr.sdf       # from the accumulated join tree would replay prior groups
    _np = int(base_sdf.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    for dt, pos_group in by_dtype.items():
        k = len(pos_group)
        structs = ", ".join(
            f"struct({ci} as __cid__, {sql_name(frame.data_cols[i])} as __v__)"
            for ci, i in enumerate(pos_group))
        melted = base_sdf.selectExpr(
            f"{sql_name(ORDER_COL)} as __gp__",  # the frame's own order key: join-back target
            f"inline(array({structs}))")
        if na_option == "keep":
            melted = melted.where("__v__ IS NOT NULL")  # NaN keeps NaN rank
            vdir = "ASC" if ascending else "DESC"
        elif na_option == "top":
            # NaNs form one tie block at the smallest ranks
            vdir = "ASC NULLS FIRST" if ascending else "DESC NULLS FIRST"
        elif na_option == "bottom":
            vdir = "ASC NULLS LAST" if ascending else "DESC NULLS LAST"
        else:
            raise ValueError(f"na_option {na_option!r}")
        ord_sql = f"__cid__ ASC, __v__ {vdir}, __gp__ ASC"
        # deterministic (cid, value-bucket) blocks: value-derived buckets
        # on the melted value (core.frame.order_bucket_sql) — range-
        # shuffle pids re-sample boundaries per plan branch and would
        # misalign the offsets join. Composite id stays monotone under the
        # (cid, vord, gp) sort: cid-major, bucket monotone in the value
        # (negated for descending; na_option places the null bucket).
        vb = _obs(melted, "__v__")
        if vb is not None:
            if not ascending:
                vb = f"-({vb})"
            if na_option == "top":
                vb = f"CASE WHEN __v__ IS NULL THEN {ORDER_BUCKET_LO} ELSE {vb} END"
            elif na_option == "bottom":
                vb = f"CASE WHEN __v__ IS NULL THEN {ORDER_BUCKET_HI} ELSE {vb} END"
            s = melted.selectExpr(
                "*", f"cast(__cid__ as bigint) * 4000000 + ({vb}) as __pid__"
            ).repartition(_np, "__pid__")
        else:
            # non-numeric ranked values (strings): explicit-N range shuffle
            # (documented residual: boundary re-sampling across branches)
            vord = {"ASC": F.col("__v__").asc(),
                    "DESC": F.col("__v__").desc(),
                    "ASC NULLS FIRST": F.col("__v__").asc_nulls_first(),
                    "DESC NULLS FIRST": F.col("__v__").desc_nulls_first(),
                    "ASC NULLS LAST": F.col("__v__").asc_nulls_last(),
                    "DESC NULLS LAST": F.col("__v__").desc_nulls_last()}[vdir]
            s = melted.repartitionByRange(
                _np, F.col("__cid__").asc(), vord, F.col("__gp__").asc()
            ).withColumn("__pid__", F.spark_partition_id())
        s = dense_positions(s, "__pid__", ord_sql, _POS)
        # per-cid base position and count (pct denominator) — positions are
        # assigned cid-major, so the base is just the PREFIX SUM of per-cid
        # counts: both come from one k-row aggregate over the UNSHUFFLED melt
        # (map-side combined), instead of min(pos) over the ranked stream,
        # which replayed the pid exchange + row_number window per dtype
        # group (r16 opt)
        # (the USING join keeps this table at two columns; carry_table's
        # renamed key would widen it by one)
        cid_agg = melted.groupBy("__cid__").agg(F.expr("count(1) as __cn__")).selectExpr(
            "__cid__", "__cn__",
            "coalesce(sum(__cn__) OVER (ORDER BY __cid__"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as __cbase__")
        s = s.join(F.broadcast(cid_agg), "__cid__")
        den_sql = "__cn__"
        if method == "first":
            r_sql = f"{_POS} - __cbase__ + 1"
        elif method == "dense":
            # dense: consecutive tie-block numbers. Distinct (cid, value)
            # blocks can be as many as rows, so they are numbered with the
            # SAME partition-prefix-sum scheme (never a per-cid global
            # window), then joined back on the tie-block key.
            blocks = s.groupBy("__cid__", "__v__").agg(F.expr(f"min({_POS}) as __blo__"))
            # deterministic: __blo__ is a global position (long) — 65536-row
            # buckets via shiftright stay monotone under (cid, blo)
            b = blocks.selectExpr(
                "*",
                f"cast(__cid__ as bigint) * {1 << 48}"
                " + shiftright(cast(__blo__ as bigint), 16) as __bpid__"
            ).repartition(_np, "__bpid__")
            b = dense_positions(b, "__bpid__", "__cid__ ASC, __blo__ ASC", "__bpos__",
                                "__blr__", "__boff__")
            cbb = b.groupBy("__cid__").agg(
                F.expr("min(__bpos__) as __cbb__"), F.expr("count(1) as __cnd__"))
            b = b.join(F.broadcast(cbb), "__cid__").selectExpr(
                "__cid__ as __bcid__", "__v__ as __bv__",
                "__bpos__ - __cbb__ + 1 as __dr__", "__cnd__")
            s = s.join(
                b, F.expr("__cid__ = __bcid__ AND __v__ <=> __bv__"), "inner"
            ).drop("__bcid__", "__bv__")
            r_sql = "__dr__"
            # pandas dense+pct divides by the DISTINCT-value count per column
            den_sql = "__cnd__"
        elif method in ("average", "min", "max"):
            # deterministic value-bucket path: __pid__ is a pure function of
            # (cid, value), so a (cid, v) tie group never spans pids —
            # including __pid__ in the partition keys lets the window reuse
            # the existing hashpartitioning(__pid__) (subset rule) instead of
            # inserting a second full exchange on (cid, v). The string/range
            # path keeps the plain keys: its pid is a range-partition id and
            # ties CAN span partitions there.
            tie_keys = ("__pid__, __cid__, __v__" if vb is not None
                        else "__cid__, __v__")
            lo = f"min({_POS}) OVER (PARTITION BY {tie_keys}) - __cbase__ + 1"
            hi = f"max({_POS}) OVER (PARTITION BY {tie_keys}) - __cbase__ + 1"
            r_sql = {"average": f"(({lo}) + ({hi})) / 2",
                     "min": lo, "max": hi}[method]
        else:
            raise NotImplementedError(f"rank method {method!r}")
        r_sql = f"cast({r_sql} as double)"
        if pct:
            r_sql = f"({r_sql}) / {den_sql}"
        res = s.selectExpr("__gp__ as __gpr__", "__cid__", f"({r_sql}) as __rank__")
        rp = fresh_names(k)
        if k == 1:
            # one ranked column: rows are already unique per __gp__ — no pivot
            piv = res.selectExpr("__gpr__", f"__rank__ as {sql_name(rp[0])}")
        else:
            piv = res.groupBy("__gpr__").pivot("__cid__", list(range(k))).agg(F.first("__rank__"))
            piv = piv.selectExpr(
                "__gpr__", *[f"`{ci}` as {sql_name(rp[ci])}" for ci in range(k)])
        sdf = sdf.join(piv, sdf[ORDER_COL] == piv["__gpr__"], "left").drop("__gpr__")
        for ci, i in enumerate(pos_group):
            rank_for_pos[i] = rp[ci]

    return fr._same_rows(sdf).project(out_labels, [F.col(rank_for_pos[i]) for i in positions])


def rolling_time_agg(
    frame: SparkFrame,
    positions: Sequence[int],
    duration_us: int,
    agg: str,
    min_periods: int = 1,
    closed: str = "right",
) -> SparkFrame:
    """Offset-window rolling (pandas ``rolling("2s")``) over a datetime index.

    Scale shape: a BUCKETIZED self-join, never a global range window. Each
    row is assigned bucket = floor(epoch/duration); as a window contributor
    it is emitted into its own bucket and the next one (a trailing window of
    length d can only reach back into the previous bucket). The join is a
    plain equi-join on bucket (shuffle-parallel, ~2x row duplication), the
    residual time predicate filters inside the bucket pair, and one hash
    aggregate per anchor row produces the result — the same plan family as
    operators.joins.range_join.
    """
    fr = frame.ensure_order()
    if not fr.index_cols:
        raise TypeError("time-based rolling requires a DatetimeIndex")
    ts = fr.index_cols[0]
    epoch = F.unix_micros(F.col(ts).cast("timestamp"))
    d = int(duration_us)
    phys = [fr.data_cols[i] for i in positions]

    # exact integer floor division: epoch/d as doubles rounds for |epoch|
    # near 2^53 µs and can assign a row to the wrong bucket. pmod is always
    # in [0, d), so (epoch - pmod) is an exact multiple of d; dividing as
    # decimals keeps the quotient exact at any bigint magnitude.
    def _bucket(e):
        return ((e - F.pmod(e, F.lit(d))).cast("decimal(38,0)") / F.lit(d)).cast("long")

    anchors = fr.sdf.select(
        F.col(ORDER_COL).alias("__ao__"), epoch.alias("__at__"),
        _bucket(epoch).alias("__ab__"),
    )
    contrib = fr.sdf.select(
        epoch.alias("__ct__"),
        F.explode(F.array(_bucket(epoch), _bucket(epoch) + 1)).alias("__cb__"),
        *[F.col(p) for p in phys],
    )
    lo = F.col("__ct__") >= F.col("__at__") - F.lit(d) if closed in ("both", "left") \
        else F.col("__ct__") > F.col("__at__") - F.lit(d)
    hi = F.col("__ct__") <= F.col("__at__") if closed in ("both", "right") \
        else F.col("__ct__") < F.col("__at__")
    j = anchors.join(contrib, anchors["__ab__"] == contrib["__cb__"], "inner").where(lo & hi)

    out_phys = fresh_names(len(phys))
    aggs = [qc.agg_expr(agg, F.col(p), min_count=int(min_periods), moving=True).alias(op)
            for p, op in zip(phys, out_phys)]
    agged = j.groupBy("__ao__").agg(*aggs).withColumnRenamed("__ao__", ORDER_COL)
    # rows whose window had no contributor at all (possible with closed=
    # 'left'/'neither') fall out of the inner join: restore them with NULLs
    base = fr.sdf.select(F.col(ORDER_COL), F.col(ts))
    sdf = base.join(agged, ORDER_COL, "left")
    labels = [fr.columns[i] for i in positions]
    return SparkFrame(sdf, pd.Index(labels), out_phys, [ts], [fr.index_names[0]])


def grouped_rolling_time_agg(
    frame: SparkFrame,
    positions: Sequence[int],
    duration_us: int,
    agg: str,
    min_periods: int = 1,
    group_phys: list[str] | None = None,
    closed: str = "right",
    ts_phys: str | None = None,
) -> SparkFrame:
    """groupby().rolling("2h") — offset window WITHIN each group (r11).

    Scale shape: unlike the ungrouped case (bucketized self-join — no
    natural partitions), the group keys already partition the window, so
    this is ONE key-partitioned range window (shuffle-parallel, one task
    per key range, no row duplication). pandas closed= maps to the range
    bounds in µs: 'right' (t-d, t] -> [-(d-1), 0], 'both' [t-d, t] ->
    [-d, 0], 'left' [t-d, t) -> [-d, -1], 'neither' -> [-(d-1), -1].
    ``ts_phys``: the physical timestamp column (rolling ``on=``); defaults
    to the frame's datetime index."""
    fr = frame.ensure_order()
    if ts_phys is None and not fr.index_cols:
        raise TypeError("time-based rolling requires a DatetimeIndex (or on=)")
    ts = ts_phys if ts_phys is not None else fr.index_cols[0]
    d = int(duration_us)
    lo, hi = {
        "right": (-(d - 1), 0),
        "both": (-d, 0),
        "left": (-d, -1),
        "neither": (-(d - 1), -1),
    }[closed]
    epoch_col = fresh_names(1)[0]
    sdf = fr.sdf.withColumn(epoch_col, F.unix_micros(F.col(ts).cast("timestamp")))
    w = (
        Window.partitionBy(*(group_phys or []))
        .orderBy(epoch_col)
        .rangeBetween(lo, hi)
    )
    phys = [fr.data_cols[i] for i in positions]
    labels = [fr.columns[i] for i in positions]
    out_phys = fresh_names(len(phys))
    for p, op in zip(phys, out_phys):
        sdf = sdf.withColumn(op, qc.agg_expr(agg, F.col(p), over=w, min_count=int(min_periods),
                                             moving=True))
    out = fr._same_rows(sdf.drop(epoch_col))
    return out.project(labels, [F.col(op) for op in out_phys])
