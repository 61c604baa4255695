"""As-of, ordered, and range joins.

The reference only has default-to-pandas merge_asof
(/root/reference/modin/core/storage_formats/base/query_compiler.py:1713).
Distributed strategy here: union both sides tagged, then carry the nearest
right row to each left row with *partitioned* windows only:

- with ``by``: windows hash-partitioned on the by-keys (one shuffle; AQE
  handles skew).
- without ``by``: the same block+halo decomposition as core/windows.py —
  range-partition the union on the full sort key, pick within each block
  with a block-partitioned window, then join per-block carries computed
  from a (#blocks)-row prefix/suffix pass. No single-task global window
  at any scale.

Supports direction backward/forward/nearest, allow_exact_matches, and
numeric or datetime tolerance (datetime keys are normalized to epoch
micros so distance math stays in long arithmetic).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from modin_spark.core.frame import ORDER_COL, SparkFrame, fresh_names

_BLK = "__ablk__"


def _pick_direction(u, direction: str, allow_exact: bool, by_cols: list[str], out_col: str):
    """Attach ``out_col``: the matched right-row struct for each row of the
    tagged union ``u`` (columns __k__ numeric key, __il__ 0=right/1=left,
    __ro__ right tiebreak, __rs__ right struct or null, *by_cols).

    Exactness is encoded in the sort tiebreak: rights sort before lefts at
    equal keys when equal keys should be visible to the backward frame /
    hidden from the forward frame, and after lefts otherwise.
    """
    rights_first = (direction == "backward") == allow_exact
    tb_sql = "__il__" if rights_first else "(1 - __il__)"
    ord_sql = f"__k__ ASC, {tb_sql} ASC, __ro__ ASC"

    if by_cols:
        part = ", ".join(by_cols)
        if direction == "backward":
            pick = (f"last(__rs__, true) OVER (PARTITION BY {part} ORDER BY {ord_sql}"
                    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        else:
            pick = (f"first(__rs__, true) OVER (PARTITION BY {part} ORDER BY {ord_sql}"
                    " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        return u.selectExpr("*", f"{pick} as {out_col}")

    # no by: block + carry. Block ids must be a DETERMINISTIC function of
    # the key: spark_partition_id over a range shuffle re-SAMPLES its
    # boundaries in the carries branch vs the stream branch of the same
    # query, and rows near block edges then read a misaligned carry
    # (observed: ~5 stale matches per boundary at 300k rows). The value-
    # derived bucket costs no build-time pass; equal keys always share a
    # block (hot-key bound, same as groupby).
    from modin_spark.core.frame import (
        CARRY_BWD, CARRY_FWD, ORDER_BUCKET_LO, carry_join, carry_key, carry_table, order_bucket_sql)

    _np = int(u.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    blk = order_bucket_sql(u, "__k__")  # __k__ is always numeric here
    u_blk = u.selectExpr("*", f"coalesce({blk}, {ORDER_BUCKET_LO}) as {_BLK}")
    u2 = u_blk.repartition(_np, _BLK)
    r_ord = "CASE WHEN __il__ = 0 THEN struct(__k__, __ro__) END"
    r_val = "CASE WHEN __il__ = 0 THEN __rs__ END"
    if direction == "backward":
        within = (f"last(__rs__, true) OVER (PARTITION BY {_BLK} ORDER BY {ord_sql}"
                  " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        cand = f"max_by({r_val}, {r_ord})"
        carry = ("__carry__", "last(__cand__, true)", CARRY_FWD)
    else:
        within = (f"first(__rs__, true) OVER (PARTITION BY {_BLK} ORDER BY {ord_sql}"
                  " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        cand = f"min_by({r_val}, {r_ord})"
        carry = ("__carry__", "first(__cand__, true)", CARRY_BWD)
    u2 = u2.selectExpr("*", f"{within} as __win__")
    # per-block candidates -> cross-block carry (tiny: #blocks rows). The
    # candidate aggregate is order-independent, so it runs on the
    # PRE-repartition union — map-side partial agg on the scans instead of
    # replaying the block exchange in this branch (guide §2.3/§2.4)
    carries = carry_table(u_blk.groupBy(_BLK).agg(F.expr(f"{cand} as __cand__")), _BLK, [carry])
    u2 = carry_join(u2, carries, _BLK)
    return u2.selectExpr("*", f"coalesce(__win__, __carry__) as {out_col}").drop(
        "__win__", "__carry__", carry_key(_BLK), _BLK
    )


def merge_asof(
    left,
    right,
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
):
    from modin_spark.pandas.dataframe import DataFrame

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")
    lf: SparkFrame = left._frame.ensure_order()
    rf: SparkFrame = right._frame.ensure_order()
    lo, ro = (on, on) if on is not None else (left_on, right_on)
    if lo is None or ro is None:
        raise ValueError("merge_asof needs on= or left_on=/right_on=")
    on_l = lf.data_cols[lf.positions_of([lo])[0]]
    on_r = rf.data_cols[rf.positions_of([ro])[0]]
    lby, rby = (by, by) if by is not None else (left_by, right_by)
    lby = [lby] if isinstance(lby, str) else (lby or [])
    rby = [rby] if isinstance(rby, str) else (rby or [])
    by_l = [lf.data_cols[i] for i in lf.positions_of(lby)] if lby else []
    by_r = [rf.data_cols[i] for i in rf.positions_of(rby)] if rby else []

    # with on= the shared key appears once (pandas); with left_on/right_on the
    # right key column is kept as payload (pandas keeps both). Same contract
    # for the by-columns: symmetric by= surfaces one copy, asymmetric
    # left_by/right_by keeps the right column as payload too.
    drop_key = {on_r} if on is not None else set()
    drop_by = set(by_r) if by is not None else set()
    r_payload = [
        (rf.columns[j], rf.data_cols[j])
        for j in range(len(rf.columns))
        if rf.data_cols[j] not in drop_key and rf.data_cols[j] not in drop_by
    ]

    key_t = lf.schema_map[on_l].simpleString()
    is_ts = key_t.startswith("timestamp")

    def _q(n):
        return "`%s`" % str(n).replace("`", "``")

    # cast(... as timestamp) is a no-op for TIMESTAMP and, under the session's
    # fixed UTC timezone, an exact wall-clock->epoch mapping for TIMESTAMP_NTZ
    # (unix_micros only accepts TIMESTAMP). SQL-string select lists keep the
    # whole tagged-union build at ~one py4j round trip per side.
    knum = (lambda c: f"unix_micros(cast({c} as timestamp))") if is_ts else (lambda c: c)
    mk_t = "bigint" if is_ts else key_t
    tol = None
    if tolerance is not None:
        tol = int(pd.Timedelta(tolerance).value // 1000) if is_ts else tolerance

    # right-row struct: numeric key + payload fields
    rs_fields = ",".join(
        [f"__mk__:{mk_t}"] + [f"__f{i}__:{rf.schema_map[p].simpleString()}" for i, (_, p) in enumerate(r_payload)]
    )
    rs_type = f"struct<{rs_fields}>"

    # right's order tiebreak must be a plain long (post-merge rights carry a
    # struct ORDER_COL; use a contiguous position instead)
    if rf.schema_map[ORDER_COL].simpleString() != "bigint":
        rf = rf.with_global_position("__aro__")
        r_ord_col = "__aro__"
    else:
        r_ord_col = ORDER_COL

    l_sel = [
        f"{_q(ORDER_COL)} as __lorder__",
        f"{knum(_q(on_l))} as __k__",
        "1 as __il__",
        "cast(null as bigint) as __ro__",
        f"cast(null as {rs_type}) as __rs__",
    ]
    l_sel += [f"{_q(b)} as __by{i}__" for i, b in enumerate(by_l)]
    l_sel += [_q(c) for c in lf.data_cols]
    lu = lf.sdf.selectExpr(*l_sel)

    rs_struct = ", ".join(
        [f"'__mk__', {knum(_q(on_r))}"]
        + [f"'__f{i}__', {_q(p)}" for i, (_, p) in enumerate(r_payload)])
    r_sel = [
        f"cast(null as {lf.schema_map[ORDER_COL].simpleString()}) as __lorder__",
        f"{knum(_q(on_r))} as __k__",
        "0 as __il__",
        f"cast({_q(r_ord_col)} as bigint) as __ro__",
        f"named_struct({rs_struct}) as __rs__",
    ]
    r_sel += [f"{_q(b)} as __by{i}__" for i, b in enumerate(by_r)]
    r_sel += [f"cast(null as {lf.schema_map[c].simpleString()}) as {_q(c)}" for c in lf.data_cols]
    ru = rf.sdf.selectExpr(*r_sel)

    u = lu.unionByName(ru)
    by_cols = [f"__by{i}__" for i in range(len(by_l))]

    if direction in ("backward", "forward"):
        picked = _pick_direction(u, direction, allow_exact_matches, by_cols, "__pick__")
    else:  # nearest: backward + forward passes, choose smaller distance.
        # Forward is always strict: exact matches are distance-0 hits of the
        # backward pass (or forbidden entirely when allow_exact_matches=False).
        picked = _pick_direction(u, "backward", allow_exact_matches, by_cols, "__pb__")
        picked = _pick_direction(picked, "forward", False, by_cols, "__pf__")
        picked = picked.selectExpr(
            "*",
            "CASE WHEN __pb__ IS NULL THEN __pf__"
            " WHEN __pf__ IS NULL THEN __pb__"
            " WHEN (__pf__.__mk__ - __k__) < (__k__ - __pb__.__mk__) THEN __pf__"
            " ELSE __pb__ END as __pick__",
        ).drop("__pb__", "__pf__")

    out_rows = picked.where("__il__ = 1")
    if tol is not None:
        # Column form: tol may be any numeric python/numpy scalar — F.lit
        # handles the typing that a string literal embed would get wrong
        dist = F.abs(F.col("__k__") - F.col("__pick__.__mk__"))
        out_rows = out_rows.withColumn("__pick__", F.when(dist <= F.lit(tol), F.col("__pick__")))

    # pandas suffixes BOTH sides of a shared non-key column (k -> k_x, k_y)
    rshared = {lbl for lbl, _p in r_payload}
    out_labels = [f"{c}{suffixes[0]}" if c in rshared else c for c in left.columns]
    out_phys = list(lf.data_cols)
    new_phys = fresh_names(len(r_payload))
    sel = [f"__lorder__ as {_q(ORDER_COL)}"] + [_q(c) for c in out_phys]
    lset = set(left.columns)
    for i, ((lbl, _p), np_) in enumerate(zip(r_payload, new_phys)):
        name = f"{lbl}{suffixes[1]}" if lbl in lset else lbl
        out_labels.append(name)
        out_phys.append(np_)
        sel.append(f"__pick__.__f{i}__ as {_q(np_)}")
    out = SparkFrame(out_rows.selectExpr(*sel), pd.Index(out_labels), out_phys)
    return DataFrame(_frame=out)


def merge_ordered(left, right, on=None, how="outer", suffixes=("_x", "_y"),
                  fill_method=None):
    """pandas.merge_ordered: outer join + sort by key.
    ``fill_method='ffill'`` forward-fills the join-introduced gaps along the
    merged order (the engine's block+halo ffill — no global window)."""
    out = left.merge(right, on=on, how=how, suffixes=suffixes, sort=True)
    if fill_method is None:
        return out
    if fill_method != "ffill":
        raise NotImplementedError(f"merge_ordered(fill_method={fill_method!r})")
    return out.ffill()


def range_join(left, right, left_on, right_lo, right_hi, how="inner", bucket_width=None):
    """Interval join: left.key BETWEEN right.lo AND right.hi.

    With ``bucket_width`` (the scale path): each right interval explodes over
    the integer buckets it covers, the join becomes an equi-join on bucket id
    plus a residual BETWEEN filter — shuffle-parallel, never a nested-loop /
    cartesian. Without it: plain theta-join (Catalyst picks
    BroadcastNestedLoopJoin; only sane when one side is tiny).
    """
    from modin_spark.pandas.dataframe import DataFrame

    lf, rf = left._frame, right._frame
    lk = lf.data_cols[lf.positions_of([left_on])[0]]
    lo = rf.data_cols[rf.positions_of([right_lo])[0]]
    hi = rf.data_cols[rf.positions_of([right_hi])[0]]
    lsdf = lf.sdf.withColumnRenamed(ORDER_COL, "__lo__") if ORDER_COL in lf.sdf.columns else lf.sdf
    rsdf = rf.sdf.select(*rf.data_cols)
    if bucket_width is not None:
        w = float(bucket_width)
        # right side: one row per covered bucket (sequence is tiny for
        # well-chosen width ~ median interval length)
        rsdf = rsdf.withColumn(
            "__bkt__",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(w)).cast("long"),
                    F.floor(F.col(hi) / F.lit(w)).cast("long"),
                )
            ),
        )
        lb = lsdf.withColumn("__bkt__", F.floor(F.col(lk) / F.lit(w)).cast("long"))
        joined = lb.join(rsdf, "__bkt__", how).where(
            (F.col(lk) >= F.col(lo)) & (F.col(lk) <= F.col(hi))
        ).drop("__bkt__")
    else:
        joined = lsdf.join(rsdf, (lsdf[lk] >= rsdf[lo]) & (lsdf[lk] <= rsdf[hi]), how)
    if "__lo__" in joined.columns:
        joined = joined.withColumnRenamed("__lo__", ORDER_COL)
    labels = list(lf.columns) + list(rf.columns)
    phys = list(lf.data_cols) + list(rf.data_cols)
    return DataFrame(_frame=SparkFrame(joined, pd.Index(labels), phys))
