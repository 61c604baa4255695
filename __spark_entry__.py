"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      -- flagship query (TPC-H Q1 style) through the modin_spark
                     pandas API on sf0.001.
queries()         -- one entry per implemented operator family from
                     SURVEY.md §2, each running through modin_spark and
                     returning a Spark DataFrame with oracle-matched aliases.
oracle_sql()      -- DuckDB ANSI-SQL equivalents (same aliases). Omitted for
                     non-SQL-expressible ops (LSH dedup, stubs) -> rows-only.

Float policy: every floating aggregate is rounded identically on both sides
(ROUND half-away-from-zero on positives == Spark F.round) so order-of-
addition noise cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



_RP_SPREAD_CACHE: dict[str, DataFrame] = {}


def _rp(spark, path, spread: bool = False):
    """Cached parquet scan (modin_spark.pandas.io._parquet_scan): repeated
    reads of the same table skip re-listing + footer/schema jobs.

    ``spread=True``: single-ROW-GROUP local files scan as ONE task no
    matter what minPartitionNum says (splits can't cross row-group
    boundaries), which serializes every downstream explode/regex stage onto
    one core — guide §2.5 input skew. For pipelines whose per-row expression
    work dominates (n-gram explodes, fingerprint/langid regex), round-robin
    the scan to the session's parallelism once per table (measured at sf0.1:
    decontaminate 2.09->1.63s, clean_corpus 1.01->0.71s). Left OFF for
    cheap-scan shapes (tiny tables, range-cumsum/window pipelines), where
    the extra exchange only adds latency; at real scale inputs carry >=
    cores splits and the repartition is skipped either way."""
    if not spread:
        from modin_spark.pandas.io import _parquet_scan
        return _parquet_scan(path)
    df = _RP_SPREAD_CACHE.get(path)
    if df is None:
        import os as _os

        from modin_spark.pandas.io import _parquet_scan
        from modin_spark.session import spread_target
        df = _parquet_scan(path)
        # size-adaptive target (guide §2.2): ~96 KiB of input per task
        # rather than one task per core — a tiny local corpus at 32 spreads
        # is pure scheduling overhead (measured: the docs family ran FASTER
        # at 8 cores than 32 on the quiet r16 host), while at real scale the
        # byte rule saturates the cap anyway.
        try:
            nbytes = _os.path.getsize(path)
        except OSError:
            nbytes = None
        target = spread_target(df.sparkSession, nbytes)
        # target 1 = "don't spread" (repartition(1) would be a
        # SinglePartition exchange over raw rows — the scale-safety smell)
        if target > 1 and df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        _RP_SPREAD_CACHE[path] = df
    return df


def _mpd():
    import modin_spark.pandas as mpd

    return mpd


def _lit_df(spark, schema: str, rows: list[tuple]) -> DataFrame:
    """Tiny literal result frame as a pure-JVM local relation. The
    list-of-tuples createDataFrame path parallelizes a Python RDD — every
    downstream action schedules defaultParallelism Python tasks (~0.4s for
    a ONE-ROW frame, measured); a SQL literal SELECT is a LocalRelation.
    Doubles are embedded as repr() strings (shortest round-trip form,
    re-parsed by Java's correctly-rounding Double.parseDouble), so values
    are bit-identical to the tuple path."""
    import math

    cols = [c.strip().rsplit(" ", 1) for c in schema.split(",")]
    selects = []
    for r in rows:
        parts = []
        for (name, typ), v in zip(cols, r):
            t = typ.upper()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                parts.append(f"CAST(NULL AS {t}) AS `{name}`")
            elif t in ("DOUBLE", "FLOAT"):
                fv = float(v)
                lit = ("'Infinity'" if fv > 0 else "'-Infinity'") if math.isinf(fv) else f"'{fv!r}'"
                parts.append(f"CAST({lit} AS {t}) AS `{name}`")
            elif t in ("BIGINT", "INT"):
                parts.append(f"CAST({int(v)} AS {t}) AS `{name}`")
            elif t == "STRING":
                esc = str(v).replace("\\", "\\\\").replace("'", "\\'")
                parts.append(f"'{esc}' AS `{name}`")
            else:
                raise ValueError(f"_lit_df: unsupported type {typ}")
        selects.append("SELECT " + ", ".join(parts))
    return spark.sql(" UNION ALL ".join(selects))


def _lit_df_pdf(spark, pdf) -> DataFrame:
    """_lit_df for a small pandas frame (schema from dtypes: int->bigint,
    float->double, else string — exactly what createDataFrame would infer
    for these result frames)."""
    def t(d):
        if str(d).startswith("int"):
            return "bigint"
        if str(d).startswith("float"):
            return "double"
        return "string"

    schema = ", ".join(f"{c} {t(pdf[c].dtype)}" for c in pdf.columns)
    return _lit_df(spark, schema, [tuple(r) for r in pdf.itertuples(index=False)])


def _r(col, n=2):
    """Round to n decimals, bit-identical to the DuckDB oracle's ROUND.

    DuckDB rounds a DOUBLE as std::round(x * 10^n) / 10^n — the multiply's
    last-ulp error decides values within ~1e-15 of an exact half (e.g.
    8648.15/160 at sf0.001: exact quotient 54.05093749999999630, but
    x*1e6 rounds up to ..7.5 so DuckDB emits 54.050938 while a direct
    HALF_UP of the exact value emits ..937). Replaying the same multiply,
    rounding the product at scale 0 (Spark's HALF_UP == half-away-from-zero
    there), and dividing back makes the engine's boundary behavior identical
    instead of coin-flip. Applied only to float/double inputs so integer
    columns keep their dtype.
    """
    from pyspark.sql import types as T
    from modin_spark.pandas.series import Series

    m = float(10**n)

    def duck(c):
        return F.round(c * F.lit(m), 0) / F.lit(m)

    if isinstance(col, Series):
        if isinstance(col.spark_type, (T.DoubleType, T.FloatType)):
            return col._map1(duck)
        return col._map1(lambda c: F.round(c, n))
    return F.round(col, n)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary via the pandas API on sf0.001."""
    return _q1(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# query implementations (engine side)
# ---------------------------------------------------------------------------

def _q1(spark, sf):
    mpd = _mpd()
    import pandas as pd

    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    f = li[li.l_shipdate <= pd.Timestamp("1998-09-02")]
    f["disc_price"] = f.l_extendedprice * (1 - f.l_discount)
    f["charge"] = f.l_extendedprice * (1 - f.l_discount) * (1 + f.l_tax)
    out = (
        f.groupby(["l_returnflag", "l_linestatus"])
        .agg(
            sum_qty=("l_quantity", "sum"),
            sum_base_price=("l_extendedprice", "sum"),
            sum_disc_price=("disc_price", "sum"),
            sum_charge=("charge", "sum"),
            avg_qty=("l_quantity", "mean"),
            avg_price=("l_extendedprice", "mean"),
            avg_disc=("l_discount", "mean"),
            count_order=("l_quantity", "count"),
        )
        .reset_index()
    )
    for c in ["sum_qty", "sum_base_price", "sum_charge"]:
        out[c] = _r(out[c], 2)
    out["sum_disc_price"] = _r(out["sum_disc_price"], 4)
    for c in ["avg_qty", "avg_price", "avg_disc"]:
        out[c] = _r(out[c], 4)
    return out.to_spark(ordered=False)


def _q3(spark, sf):
    mpd = _mpd()
    import pandas as pd

    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    c = cust[cust.c_mktsegment == "BUILDING"]
    o = orders[orders.o_orderdate < pd.Timestamp("1995-03-15")]
    l = li[li.l_shipdate > pd.Timestamp("1995-03-15")]
    j = l.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        c, left_on="o_custkey", right_on="c_custkey", broadcast=True
    )
    j["revenue"] = j.l_extendedprice * (1 - j.l_discount)
    out = j.groupby(["l_orderkey"]).agg(revenue=("revenue", "sum")).reset_index()
    out = out.nlargest(10, "revenue")
    out["revenue"] = _r(out.revenue, 4)
    return out.to_spark(ordered=False)


def _q5(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    reg = mpd.read_parquet(f"{sf}/region.parquet")
    j = (
        li.merge(sup, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey", broadcast=True)
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey", broadcast=True)
    )
    j["revenue"] = j.l_extendedprice * (1 - j.l_discount)
    out = j[j.r_name == "ASIA"].groupby(["n_name"]).agg(revenue=("revenue", "sum")).reset_index()
    out["revenue"] = _r(out.revenue, 4)
    return out.to_spark(ordered=False)


def _q6(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    f = li[(li.l_discount >= 0.05) & (li.l_discount <= 0.07) & (li.l_quantity < 24)]
    f["rev"] = f.l_extendedprice * f.l_discount
    total = f["rev"].sum()
    return _lit_df(spark, "revenue double", [(round(float(total), 4),)])


def _filter_project(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    f = li[li.l_quantity > 45][["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]]
    # round at 4: price*0.95 terminates within 4 decimals, so no cross-engine
    # tie-breaking ambiguity (at 2 decimals exact .5 ties are common)
    f["disc_price"] = _r(f.l_extendedprice * (1 - 0.05), 4)
    return f.to_spark(ordered=False)


def _merge_left_fillna(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    big = orders[orders.o_totalprice > 300000][["o_orderkey", "o_totalprice"]]
    j = li.merge(big, left_on="l_orderkey", right_on="o_orderkey", how="left")
    j["o_totalprice"] = j["o_totalprice"].fillna(0.0)
    out = j.groupby(["l_returnflag"]).agg(
        total=("o_totalprice", "sum"), n_null=("o_orderkey", "count")
    ).reset_index()
    out["total"] = _r(out.total, 2)
    return out.to_spark(ordered=False)


def _sort_topk(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    out = orders.nlargest(20, "o_totalprice")[["o_orderkey", "o_totalprice"]]
    return out.to_spark(ordered=False)


def _distinct_dedup(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    d = orders.drop_duplicates(subset=["o_custkey", "o_orderpriority"])
    out = d.groupby(["o_orderpriority"]).agg(n=("o_custkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _value_counts(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    vc = orders["o_orderpriority"].value_counts()
    out = vc.to_frame("n").reset_index()
    return out.to_spark(ordered=False)


def _frame_value_counts(spark, sf):
    """DataFrame.value_counts (round-10 fix): ONE distributed hash aggregate
    over the subset columns returning an engine Series — no driver
    materialization of the distinct row combinations (reference:
    modin/pandas/dataframe.py value_counts -> groupby size)."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    vc = orders[["o_orderpriority", "o_orderstatus"]].value_counts()
    out = vc.to_frame("n").reset_index()
    return out.to_spark(ordered=False)


def _reset_index_roundtrip(spark, sf):
    """reset_index() on a DEFAULT RangeIndex adds the positional-label
    column (round-10 fix; reference semantics
    modin/core/dataframe/pandas/dataframe/dataframe.py:1451 from_labels),
    round-tripped through a filter + groupby so the aggregated labels prove
    the gaps pandas keeps survive the engine's blocked position machinery."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")[["c_custkey", "c_mktsegment", "c_acctbal"]]
    base = cust.sort_values("c_custkey").reset_index(drop=True)
    flat = base[base.c_acctbal > 500].reset_index()
    out = flat.groupby(["c_mktsegment"]).agg(
        n=("index", "count"), min_lbl=("index", "min"),
        max_lbl=("index", "max"), sum_lbl=("index", "sum"),
    ).reset_index()
    return out.to_spark(ordered=False)


def _numpy_zscore(spark, sf):
    """modin_spark.numpy end-to-end (round-10 module, reference surface
    modin/numpy/arr.py): a 2-D distributed array from lineitem numeric
    columns, z-scored with (n,k)-(k,) broadcast arithmetic, reduced along
    axis 0 — the whole chain is Catalyst projections + one aggregate."""
    import modin_spark.numpy as mnp

    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    a = mnp.array(li[["l_quantity", "l_extendedprice"]])
    mu = a.mean(axis=0)
    sd = a.std(axis=0, ddof=1)
    z = (a - mu) / sd
    abs_max = mnp.abs(z).max(axis=0)._to_numpy().tolist()
    sq_sum = (z * z).sum(axis=0)._to_numpy().tolist()
    return _lit_df(
        spark, "col string, abs_z_max double, z_sq_sum double",
        [("l_extendedprice", round(abs_max[1], 6), round(sq_sum[1], 2)),
         ("l_quantity", round(abs_max[0], 6), round(sq_sum[0], 2))])


def _sort_labels_roundtrip(spark, sf):
    """Labels through sorts (round-10 labels_col machinery): sort_values
    keeps the PERMUTED pandas labels; reset_index surfaces them; the
    checksum sum(label * new_position) pins the exact permutation."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")[["c_custkey", "c_acctbal"]]
    base = cust.sort_values("c_custkey").reset_index(drop=True)
    s = base.sort_values("c_acctbal").reset_index().rename(columns={"index": "lbl"})
    out = s.reset_index()  # 'index' = 0..n-1 in acctbal order
    n = int(out["lbl"].count())
    checksum = int((out["lbl"] * out["index"]).sum())
    return _lit_df(spark, "n bigint, checksum bigint", [(n, checksum)])


def _ngroup_labels(spark, sf):
    """groupby.ngroup (round-10 rework): distinct keys numbered with the
    blocked global-position scheme, join strategy left to AQE — equivalent
    to DENSE_RANK over sorted keys minus one."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    orders["ng"] = orders.groupby("o_orderpriority").ngroup()
    out = orders.groupby(["o_orderpriority"]).agg(
        ng=("ng", "min"), n=("o_orderkey", "count")
    ).reset_index()
    return out.to_spark(ordered=False)


def _groupby_multi_agg(spark, sf):
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    out = cust.groupby(["c_mktsegment"]).agg(
        n=("c_custkey", "count"),
        total_bal=("c_acctbal", "sum"),
        avg_bal=("c_acctbal", "mean"),
        min_bal=("c_acctbal", "min"),
        max_bal=("c_acctbal", "max"),
        std_bal=("c_acctbal", "std"),
    ).reset_index()
    for c, n in [("total_bal", 2), ("avg_bal", 4), ("min_bal", 2), ("max_bal", 2), ("std_bal", 4)]:
        out[c] = _r(out[c], n)
    return out.to_spark(ordered=False)


def _groupby_nunique(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    out = li.groupby(["l_returnflag"]).agg(
        n_parts=("l_partkey", "nunique"), n_supps=("l_suppkey", "nunique")
    ).reset_index()
    return out.to_spark(ordered=False)


def _groupby_median_quantile(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    g = li.groupby(["l_returnflag"])
    med = g.agg(med_qty=("l_quantity", "median")).reset_index()
    q90 = g.quantile(0.9)[["l_extendedprice"]].reset_index().rename(columns={"l_extendedprice": "p90_price"})
    out = med.merge(q90, on="l_returnflag")
    out["med_qty"] = _r(out.med_qty, 4)
    out["p90_price"] = _r(out.p90_price, 4)
    return out.to_spark(ordered=False)


def _groupby_idxmax(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    out = orders.groupby(["o_orderpriority"]).agg(
        max_price=("o_totalprice", "max")
    ).reset_index()
    # orderkey achieving the max: max_by via merge back on (priority, price)
    j = out.merge(
        orders[["o_orderpriority", "o_totalprice", "o_orderkey"]],
        left_on=["o_orderpriority", "max_price"],
        right_on=["o_orderpriority", "o_totalprice"],
    )[["o_orderpriority", "max_price", "o_orderkey"]]
    j["max_price"] = _r(j.max_price, 2)
    return j.to_spark(ordered=False)


def _cumsum_by_group(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet").sort_values("o_orderkey")
    g = orders.groupby("o_custkey")[["o_totalprice"]].cumsum()
    orders["cum_price"] = g["o_totalprice"]
    out = orders[["o_orderkey", "cum_price"]]
    out["cum_price"] = _r(out.cum_price, 2)
    return out.to_spark(ordered=False)


def _nullkey_group_transform(spark, sf):
    """Null-key groupby transforms (r15): rows whose grouping key is SQL
    NULL belong to NO group under pandas' default dropna=True — transform /
    cumsum / rank must emit NaN there, not treat NULL as an ordinary group
    (Spark windows would). Key synthesized deterministically (testdata has
    no nulls); NaN collapsed to a -1.0 sentinel so the value-hash compare
    still detects an engine that wrongly emits group values. Reference
    semantics: modin/pandas/groupby.py dropna plumbing."""
    mpd = _mpd()
    o = mpd.read_parquet(f"{sf}/orders.parquet").sort_values("o_orderkey")
    o["k"] = o.o_orderpriority.where(o.o_custkey % 7 != 0)
    g = o.groupby("k")
    out = o[["o_orderkey"]]
    out["grp_mean"] = _r(g.o_totalprice.transform("mean"), 2).fillna(-1.0)
    out["grp_cumsum"] = _r(g.o_totalprice.cumsum(), 2).fillna(-1.0)
    out["grp_rank"] = g.o_totalprice.rank(method="min").fillna(-1.0)
    return out.to_spark(ordered=False)


def _shift_diff(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet").sort_values("event_id")
    d = ev["value"].diff()
    out = ev[["event_id"]]
    out["value_diff"] = _r(d.fillna(0.0), 4)
    return out.to_spark(ordered=False)


def _rolling_mean(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet").sort_values("event_id")
    r = ev["value"].rolling(7).mean()
    out = ev[["event_id"]]
    out["roll_mean"] = _r(r.fillna(-1.0), 4)
    return out.to_spark(ordered=False)


def _rolling_pair_corr(spark, sf):
    """rolling(7).corr(other) pair — k F.corr window aggregates in ONE
    block+halo pass (core.windows.rolling_pair), pairwise-complete
    min_periods gating (pandas semantics; r12 wave 39)."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet").sort_values("event_id")
    x = ev["value"]
    y = x.shift(1)
    r = x.rolling(7).corr(y)
    out = ev[["event_id"]]
    out["pair_corr"] = _r(r.fillna(-9.0), 4)
    return out.to_spark(ordered=False)


def _expanding_pair_cov(spark, sf):
    """expanding().cov(other) — algebraic pairwise carries over blocks
    (core.windows.expanding_pair), no global window."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet").sort_values("event_id")
    x = ev["value"]
    y = x.shift(2)
    r = x.expanding(min_periods=3).cov(y)
    out = ev[["event_id"]]
    # + 0.0 collapses IEEE -0.0 (tiny-negative cov rounded to 3dp) to +0.0 so
    # the driver's sign-bit-sensitive value hash agrees with the oracle's
    # identically-normalized ROUND(...) + 0.0 (r13 root cause: event_id=7631
    # rounds to -0.0 in DuckDB vs +0.0 here; values compare equal).
    out["exp_cov"] = _r(r.fillna(-9.0), 3) + 0.0
    return out.to_spark(ordered=False)


def _rank_min(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    rk = orders["o_totalprice"].rank(method="min")
    out = orders[["o_orderkey"]]
    out["price_rank"] = rk.astype("int64")
    return out.to_spark(ordered=False)


def _concat_cols_aligned(spark, sf):
    """pd.concat(axis=1) of two index-aligned per-nation aggregates."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    a = cust.groupby(["c_nationkey"]).agg(n_cust=("c_custkey", "count")).reset_index().set_index("c_nationkey")
    b = sup.groupby(["s_nationkey"]).agg(n_supp=("s_suppkey", "count")).reset_index().set_index("s_nationkey")
    out = mpd.concat([a, b], axis=1).reset_index()
    out = out.rename(columns={out.columns[0]: "nationkey"})
    out["n_cust"] = out["n_cust"].fillna(0).astype("int64")
    out["n_supp"] = out["n_supp"].fillna(0).astype("int64")
    return out.to_spark(ordered=False)


def _query_eval(spark, sf):
    """df.query + df.eval string expressions."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    f = orders.query("o_totalprice > 250000 and o_orderstatus == 'O'")
    # *2 keeps 2-decimal values (a /2 would mint exact .xx5 halves, where
    # Spark's BigDecimal HALF_UP and DuckDB's raw-double rounding disagree)
    f = f.eval("dbl = o_totalprice * 2")
    out = f[["o_orderkey"]]
    out["dbl"] = _r(f["dbl"], 2)
    return out.to_spark(ordered=False)


def _dot_product(spark, sf):
    """Series dot product — one distributed SUM(a*b)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    d = li.l_quantity.dot(li.l_discount)
    return _lit_df(spark, "dotp double", [(round(float(d), 4),)])


def _iloc_slice(spark, sf):
    """Positional slice through the global-position machinery."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet").sort_values("o_orderkey")
    out = orders.iloc[1000:1010][["o_orderkey", "o_totalprice"]]
    out["o_totalprice"] = _r(out["o_totalprice"], 2)
    return out.to_spark(ordered=False)


def _sql_interface(spark, sf):
    """mpd.sql: frames registered as temp views + Spark SQL (net-new)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    out = mpd.sql(
        """
        SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM li GROUP BY l_returnflag
        """,
        li=li,
    )
    return out.to_spark(ordered=False)


def _docs_jaccard_pairs(spark, sf):
    """Near-dup PAIRS with exact word-5-shingle Jaccard >= 0.9 on a 500-doc
    slice, found via MinHash-LSH candidates + exact verify. The oracle
    computes ALL-pairs exact Jaccard in DuckDB — equality therefore PROVES
    LSH recall = 1.0 and precision = 1.0 on this slice (the planted
    near-dups sit at J ~ 0.96-0.99 where banded-LSH miss probability is
    ~1e-26 with 32 bands x 4 rows)."""
    from modin_spark.operators.dedup import ngram_jaccard_pairs

    docs = _rp(spark, f"{sf}/documents.parquet").where(F.col("doc_id") < 500)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.9)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jac"))


def _clustered_corpus(spark, sf):
    """Embeddings + deterministic jittered near-copies of the first 20
    vectors (8 copies each, near-1 cosine to their source). The raw
    embeddings table is pure noise (no pair above cosine 0.6), so recall@k
    against it measures nothing; the planted clusters give ANN a real
    retrieval task while keeping everything derived from the sf data.
    Jitter is EXACT-RATIONAL (integer pmod + IEEE double mul/div — no libm
    sin whose last ulp differs across engines), so the DuckDB recall
    oracles rebuild this corpus bit-identically."""
    emb = _rp(spark, f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 20)
    copies = base.join(spark.range(1, 9).select(F.col("id").alias("__c__")), how="cross")
    jit = copies.select(
        (F.col("vec_id") + F.col("__c__") * 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> float(x + (0.05 * (pmod(vec_id * 31 + __c__ * 7 + i, 97) - 48)) / 97.0))"
        ).alias("embedding"),
    )
    return emb.unionByName(jit)


# DuckDB rebuild of _clustered_corpus, bit-identical (same IEEE double ops,
# float32 rounding last; i is 0-based in both)
_CORPUS_SQL = """
    corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT e.vec_id + c.c * 1000000 AS vec_id,
               list_transform(range(64), i -> CAST(
                   embedding[i + 1] +
                   (0.05 * ((e.vec_id * 31 + c.c * 7 + i) % 97 - 48)) / 97.0
                   AS REAL)) AS embedding
        FROM embeddings e, (SELECT UNNEST(range(1, 9)) AS c) c
        WHERE e.vec_id < 20
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 20
    ),
    brute AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id
                       ORDER BY LIST_COSINE_SIMILARITY(c.embedding, q.q_vec) DESC,
                                c.vec_id) AS rk
            FROM corpus c, q
        ) WHERE rk <= 5
    )
"""


def _emb_lsh_recall(spark, sf):
    """recall@5 of multi-probe hyperplane-LSH vs exact brute force over the
    planted clustered corpus — one metric row, FULLY ORACLE-BACKED (r6):
    the DuckDB side rebuilds the jittered corpus bit-identically, recomputes
    the seeded hyperplane codes from the literal matrix, replays the
    Hamming-radius-2 probe as bit_count(xor(...)) <= 2, and re-ranks — so
    the recall value itself is exact-checked, not just pytest-gated. With
    planes=8, radius=2 each query scans ~14% of buckets."""
    from modin_spark.operators.similarity import brute_force_topk, lsh_topk

    corpus = _clustered_corpus(spark, sf)
    emb = _rp(spark, f"{sf}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    brute = brute_force_topk(corpus, q, k=5).select("q_id", "vec_id")
    lsh = lsh_topk(corpus, q, k=5, planes=8, probe_radius=2).select("q_id", "vec_id")
    hits = brute.join(lsh, ["q_id", "vec_id"], "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("hits")).select(
        F.lit(20).alias("n_queries"),
        F.round(F.col("hits") / F.lit(100.0), 3).alias("recall_at_5"),
    )


def _emb_ivf_recall(spark, sf):
    """recall@5 of IVF (FIXED quantizer: the first 16 raw embeddings,
    normalized — SQL-reproducible, so the whole probe/re-rank machinery sits
    under an exact DuckDB oracle (r6); the k-means quantizer itself stays
    covered by emb_ivf_exhaustive + the pytest objective gate) with
    nprobe=4 of 16 cells => 25% scanned, vs brute force over the planted
    clustered corpus."""
    from modin_spark.operators.similarity import brute_force_topk, ivf_topk

    corpus = _clustered_corpus(spark, sf)
    emb = _rp(spark, f"{sf}/embeddings.parquet")
    cents = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    ]
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    brute = brute_force_topk(corpus, q, k=5).select("q_id", "vec_id")
    ivf = ivf_topk(corpus, q, k=5, nprobe=4, centroids=cents).select("q_id", "vec_id")
    hits = brute.join(ivf, ["q_id", "vec_id"], "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("hits")).select(
        F.lit(20).alias("n_queries"),
        F.round(F.col("hits") / F.lit(100.0), 3).alias("recall_at_5"),
    )


def _multiindex_regroup(spark, sf):
    """2-level groupby kept as a MultiIndex through a second op
    (groupby(level=0) re-aggregation) before reset_index."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    g = li.groupby(["l_returnflag", "l_linestatus"]).agg(sum_qty=("l_quantity", "sum"))
    l0 = g.groupby(level=0).agg(total=("sum_qty", "sum"), parts=("sum_qty", "count")).reset_index()
    l0["total"] = _r(l0["total"], 2)
    return l0.to_spark(ordered=False)


def _rank_frame(spark, sf):
    """Multi-column df.rank(): all columns batched through one sort per dtype."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    rk = orders[["o_totalprice", "o_custkey", "o_orderkey"]].rank(method="min")
    out = orders[["o_orderkey"]]
    out["r_price"] = rk["o_totalprice"]
    out["r_cust"] = rk["o_custkey"]
    out["r_key"] = rk["o_orderkey"]
    return out.to_spark(ordered=False)


def _str_funcs(spark, sf):
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    out = cust[["c_custkey"]]
    s = cust["c_name"]
    out["upper_name"] = s.str.upper()
    out["name_len"] = s.str.len()
    out["prefix5"] = s.str.slice(0, 5)
    out["has_1"] = s.str.contains("1", regex=False)
    out["no_hash"] = s.str.replace("#", "-", regex=False)
    return out.to_spark(ordered=False)


def _dt_funcs(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    out = orders[["o_orderkey"]]
    d = orders["o_orderdate"]
    out["yr"] = d.dt.year.astype("int64")
    out["mo"] = d.dt.month.astype("int64")
    out["dom"] = d.dt.day.astype("int64")
    out["dow"] = d.dt.dayofweek.astype("int64")
    out["qtr"] = d.dt.quarter.astype("int64")
    return out.to_spark(ordered=False)


def _resample_hourly(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    out = ev[["ts", "value"]].resample("1h", on="ts").sum().reset_index().rename(columns={"ts": "hour_start"})
    out["value"] = _r(out.value, 2)
    return out.to_spark(ordered=False)


def _pivot_flag_status(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    p = li.pivot_table(values="l_quantity", index=["l_returnflag"], columns="l_linestatus", aggfunc="mean")
    out = p.reset_index()
    for c in out.columns:
        if c != "l_returnflag":
            out[c] = _r(out[c], 4)
    return out.to_spark(ordered=False)


def _pivot_typed_keys(spark, sf):
    """r9: pivot keys keep their NATIVE dtype (int l_linenumber labels, not
    '1' strings) and the columns Index carries the key's name — one
    composite pivot shuffle (pandas/dataframe.py pivot_table single-key)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    p = li.pivot_table(values="l_quantity", index=["l_returnflag"], columns="l_linenumber", aggfunc="sum")
    assert all(isinstance(c, int) for c in p.columns), "typed int pivot labels"
    out = p.reset_index()
    for c in out.columns:
        if c != "l_returnflag":
            out[c] = _r(out[c], 2)
    return out.to_spark(ordered=False)


def _unstack_fill(spark, sf):
    """r9: unstack(fill_value=) fills only ABSENT (index, key) combos via a
    (presence, value) struct riding the single pivot; present-but-NaN stays
    NaN (pandas exact; pandas/dataframe.py unstack)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    s = li.groupby(["l_returnflag", "l_linestatus"])["l_quantity"].sum()
    out = s.unstack(fill_value=-1).reset_index()
    for c in out.columns:
        if c != "l_returnflag":
            out[c] = _r(out[c], 2)
    return out.to_spark(ordered=False)


def _concat_union(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    hi = li[li.l_quantity >= 49][["l_returnflag", "l_quantity"]]
    lo = li[li.l_quantity <= 2][["l_returnflag", "l_quantity"]]
    u = mpd.concat([hi, lo])
    out = u.groupby(["l_returnflag"]).agg(n=("l_quantity", "count"), s=("l_quantity", "sum")).reset_index()
    out["s"] = _r(out.s, 2)
    return out.to_spark(ordered=False)


def _isin_filter(spark, sf):
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    f = cust[cust.c_nationkey.isin([0, 5, 10, 15, 20])]
    out = f.groupby(["c_nationkey"]).agg(n=("c_custkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _cut_buckets(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    b = mpd.cut(orders["o_totalprice"], [0, 100000, 200000, 300000, 400000, 10_000_000],
                labels=["b0", "b1", "b2", "b3", "b4"])
    orders["bucket"] = b
    out = orders.groupby(["bucket"]).agg(n=("o_orderkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _get_dummies_sum(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    d = mpd.get_dummies(li[["l_returnflag"]], columns=["l_returnflag"], prefix="rf")
    s = d.sum()
    import pandas as pd

    pdf = pd.DataFrame([s.values.tolist()], columns=list(s.index))
    return _lit_df_pdf(spark, pdf)


def _case_when(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    big = orders["o_totalprice"] >= 200000
    orders["size_class"] = big.map({True: "big", False: "small"})
    out = orders.groupby(["size_class"]).agg(n=("o_orderkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _corr_cov(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sdf = li._frame.sdf.agg(
        F.round(F.corr(F.col(li._frame.phys_of_label("l_quantity")), F.col(li._frame.phys_of_label("l_extendedprice"))), 6).alias("corr_qp"),
        F.round(F.covar_samp(F.col(li._frame.phys_of_label("l_quantity")), F.col(li._frame.phys_of_label("l_discount"))), 6).alias("cov_qd"),
    )
    return sdf


def _cube_agg(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    out = li.cube(["l_returnflag", "l_linestatus"], {"sum_qty": ("l_quantity", "sum"), "n": ("l_quantity", "count")})
    df = out.to_spark(ordered=False)
    return df.withColumn("sum_qty", F.round("sum_qty", 2))


def _asof_join(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    trades = ev[ev.event_type == "purchase"][["event_id", "ts", "value"]].sort_values("ts")
    quotes = ev[ev.event_type == "view"][["ts", "user_id"]].sort_values("ts")
    out = mpd.merge_asof(trades, quotes, on="ts", direction="backward")
    out = out[["event_id", "user_id"]]
    return out.to_spark(ordered=False)


def _asof_nearest(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    trades = ev[ev.event_type == "purchase"][["event_id", "ts"]].sort_values("ts")
    quotes = ev[ev.event_type == "view"][["ts", "user_id"]].sort_values("ts")
    out = mpd.merge_asof(trades, quotes, on="ts", direction="nearest")
    out = out[["event_id", "user_id"]]
    return out.to_spark(ordered=False)


def _docs_exact_dedup(spark, sf):
    mpd = _mpd()
    docs = mpd.read_parquet(f"{sf}/documents.parquet")
    d = docs.drop_duplicates(subset=["text"])
    out = d.groupby(["lang"]).agg(n=("doc_id", "count")).reset_index()
    return out.to_spark(ordered=False)



def _docs_clean_corpus(spark, sf):
    """Capstone training-data pipeline: language filter + quality filter +
    token-length band + exact near-dup removal (normalized-content
    fingerprint, min-id representative), then corpus stats — the standard
    pretraining-corpus cleaning recipe as ONE declarative plan (single scan,
    one groupBy-fingerprint shuffle, one tiny aggregate)."""
    from modin_spark.operators.text import fingerprint, lang_id, quality_score, token_count

    docs = _rp(spark, f"{sf}/documents.parquet", spread=True)
    t = F.col("text")
    stats = docs.select(
        F.col("doc_id"),
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("q"),
        token_count(t, "whitespace").alias("n_tokens"),
        fingerprint(t).alias("fp"),
    )
    rep = (
        stats.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "lang_pred", "q", "n_tokens"), F.col("doc_id")).alias("r"))
        .select("r.*")
    )
    clean = rep.where((F.col("lang_pred") == "en") & (F.col("q") >= 0.5)
                      & F.col("n_tokens").between(10, 10000))
    return clean.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("q"), 4).alias("avg_quality"),
    )



def _rolling_time_sum(spark, sf):
    """Time-offset rolling sum over the event stream — bucketized self-join
    plan (see core/windows.py:rolling_time_agg), oracled by DuckDB's RANGE
    window. closed='both' matches RANGE ... PRECEDING inclusive bounds."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values("ts").set_index("ts")
    r = ev["value"].rolling("10min", closed="both").sum()
    out = r.to_frame("r_sum").reset_index()
    df = out.to_spark(ordered=False)
    return df.select("ts", F.round("r_sum", 2).alias("r_sum"))


def _polars_pipeline(spark, sf):
    """Polars-veneer pipeline (modin_spark.polars — reference surface
    modin/polars/dataframe.py:40): scan -> filter -> group_by -> agg -> join
    -> sort, all expression-compiled to ONE Catalyst plan (the veneer maps
    polars exprs straight to Spark Columns; no UDF, no driver loop)."""
    import modin_spark.polars as pl

    orders = pl.scan_parquet(f"{sf}/orders.parquet")
    cust = pl.scan_parquet(f"{sf}/customer.parquet")
    agg = (orders.filter(pl.col("o_totalprice") > 100_000)
           .group_by("o_custkey")
           .agg(pl.col("o_totalprice").sum().alias("spend"),
                pl.len().alias("n_orders"))
           .collect())
    top = (agg.join(cust.collect(), left_on="o_custkey", right_on="c_custkey", how="inner")
           .select("c_name", "c_mktsegment",
                   pl.col("spend").round(2).alias("spend"), "n_orders")
           .sort(["spend", "c_name"], descending=[True, False]).head(25))
    return top._frame.to_spark(include_index=False, ordered=False)


def _grouped_rolling_time(spark, sf):
    """groupby().rolling("30min", on=) — offset window WITHIN each group
    (r11, core/windows.py:grouped_rolling_time_agg). Unlike the ungrouped
    bucketized self-join, this is ONE key-partitioned range window: the
    group keys partition the data, so it's shuffle-parallel with no row
    duplication. closed='both' matches DuckDB's RANGE inclusive bounds."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    r = ev.groupby("event_type").rolling("30min", on="ts", closed="both")["value"].sum()
    out = r.to_frame("r_sum").reset_index()
    df = out.to_spark(ordered=False)
    return df.select("event_type", "ts", F.round("r_sum", 2).alias("r_sum"))


def _docs_token_stats(spark, sf):
    from modin_spark.operators.text import token_count

    docs = _rp(spark, f"{sf}/documents.parquet")
    return docs.select("doc_id", token_count(F.col("text"), "whitespace").alias("n_tokens"))


def _docs_normalize_text(spark, sf):
    """Corpus text normalization (operators/text.py normalize_text): control
    strip + whitespace collapse, pure codegen — per-doc normalized length
    and changed flag."""
    from modin_spark.operators.text import normalize_text

    docs = _rp(spark, f"{sf}/documents.parquet")
    out = normalize_text(docs, "text")
    return out.select("doc_id", F.length(F.col("text_norm")).alias("norm_len"),
                      F.col("changed"))


def _docs_norm_distinct(spark, sf):
    docs = _rp(spark, f"{sf}/documents.parquet")
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "), r"\s+", " "))
    return docs.select(norm.alias("norm")).distinct().agg(F.count(F.lit(1)).alias("n_distinct"))


def _docs_minhash_dedup(spark, sf):
    """Full MinHash-LSH dedup pipeline (shingle -> 128-perm signature -> 32
    value-banded buckets -> candidate pairs -> signature verify -> keep-min)
    on the SQL-replayable md5 base hash (dedup.md5_hash60), so every stage
    sits under an EXACT DuckDB oracle (r7). The production siphash default
    keeps its planted-duplicate recall/precision pytest gate."""
    from modin_spark.operators.dedup import minhash_lsh_dedup

    docs = _rp(spark, f"{sf}/documents.parquet")
    out = minhash_lsh_dedup(docs, threshold=0.8, base_hash="md5")
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.sum("n_chars").cast("long").alias("chars_after"),
    )


def _docs_simhash_dedup(spark, sf):
    """SimHash near-dup dedup (3-shingle 64-bit word -> 4x16-bit bands ->
    Hamming<=3 verify -> keep-min) on the md5 base hash — EXACT DuckDB
    oracle replays the bit votes and banding (r7); the xxhash64 production
    default stays pytest-gated."""
    from modin_spark.operators.dedup import simhash_dedup

    docs = _rp(spark, f"{sf}/documents.parquet")
    return simhash_dedup(docs, hamming_threshold=3, base_hash="md5").agg(
        F.count(F.lit(1)).cast("long").alias("n_after")
    )


def _docs_langid_quality(spark, sf):
    from modin_spark.operators.text import lang_id, quality_score

    docs = _rp(spark, f"{sf}/documents.parquet")
    return (
        docs.select(lang_id(F.col("text")).alias("lang_pred"), quality_score(F.col("text")).alias("q"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("q"), 4).alias("avg_quality"))
    )


def _emb_brute_topk(spark, sf):
    from modin_spark.operators.similarity import brute_force_topk

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk(emb, q, k=5)
    return out.select("q_id", "vec_id", F.round("cosine", 4).alias("cos_sim"), "rank")


def _emb_ivf_exhaustive(spark, sf):
    """IVF with nprobe = n_centroids probes EVERY cell, so the result must
    EXACTLY equal brute-force top-k (deterministic id tie-break) — this puts
    the whole IVF machinery (distributed k-means, cell assignment, probe
    join, windowed re-rank) under the same DuckDB oracle as emb_brute_topk.
    The approximate operating point (nprobe << cells) is measured separately
    by the pytest-gated emb_ivf_recall metric."""
    from modin_spark.operators.similarity import ivf_topk

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8)
    return out.select("q_id", "vec_id", F.round("cosine", 4).alias("cos_sim"), "rank")


_QF_WEIGHTS = [((i * 37) % 13 - 6) / 10.0 for i in range(64)]


def _emb_quality_filter(spark, sf):
    """Model-based quality filtering: linear classifier inference
    (sigmoid(w.x + b)) over the embedding column as a pure scan-stage
    fold — the fasttext-style quality-filter pass of a training pipeline.
    Deterministic weights are replicated in the DuckDB oracle."""
    from modin_spark.operators.corpus import classifier_score

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    scored = classifier_score(emb, _QF_WEIGHTS, bias=0.1)
    kept = scored.where(F.col("score") >= 0.5)
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("vec_id").cast("long").alias("id_sum"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    )


def _emb_cosine_dedup(spark, sf):
    """Cosine near-dup dedup with EXACT duplicate copies planted under new
    ids. Identical vectors produce identical hyperplane-LSH bucket keys, so
    LSH recall on the planted pairs is exactly 1.0 — the DuckDB all-pairs
    exact-cosine oracle must therefore agree on BOTH the survivor count and
    the survivor id-sum (no false positives from bucket collisions, every
    planted duplicate dropped). Approximate near-dup recall is measured
    separately by the pytest-gated emb_lsh_recall metric."""
    from modin_spark.operators.dedup import embedding_cosine_dedup

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 500).select(
        "vec_id", "embedding"
    )
    copies = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    out = embedding_cosine_dedup(corpus, threshold=0.98)
    return out.agg(
        F.count(F.lit(1)).alias("n_after"), F.sum("vec_id").alias("id_sum")
    )


def _multimodal_features(spark, sf):
    """mapInPandas media plumbing: every input column (payload bytes) carried
    through the Arrow batches, a 16-dim stub feature vector appended per row.
    The oracle checks the SQL-computable invariants — id set, UTF-8 payload
    byte length round-tripped through the binary column, feature dimension —
    while the feature VALUES remain the declared deterministic stub."""
    from modin_spark.operators.multimodal import image_features

    docs = _rp(spark, f"{sf}/documents.parquet").where(F.col("doc_id") < 200)
    media = docs.select(F.col("doc_id").alias("media_id"), F.encode(F.col("text"), "utf-8").alias("payload"))
    out = image_features(media, dim=16)
    return out.select(
        "media_id",
        F.length(F.col("payload")).alias("payload_len"),
        F.size("features").alias("feat_dim"),
    )


def _multimodal_png_stats(spark, sf):
    """REAL image decode (r7, no media libs): deterministic 16x16 grayscale
    PNGs are ENCODED executor-side with the stdlib PNG writer
    (media_codecs.encode_png — zlib deflate, CRC chunks), decoded back by
    the real decoder inside image_features(decode_stub=False), and the
    extracted width/height/mean-brightness must match the oracle's replay
    of the same pixel arithmetic: pixel(k) = (vec_id*7 + 3k) % 251. The
    mean of 256 sub-2^8 ints is exactly dyadic, so float32 carries it
    exactly — an EXACT oracle over a genuine PNG encode->decode round
    trip."""
    import numpy as np

    from modin_spark.operators.media_codecs import encode_png
    from modin_spark.operators.multimodal import image_features

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 12).select("vec_id")

    def mk(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                arr = ((int(i) * 7 + 3 * np.arange(256)) % 251).reshape(16, 16).astype(np.uint8)
                payloads.append(encode_png(arr))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    feats = image_features(media, dim=16, decode_stub=False)
    return feats.select(
        "vec_id",
        F.element_at("features", 1).cast("int").alias("width"),
        F.element_at("features", 2).cast("int").alias("height"),
        F.element_at("features", 4).cast("double").alias("mean_lum"),
    )


def _multimodal_jpeg_stats(spark, sf):
    """REAL baseline-JPEG decode (r14, no media libs): 16x16 grayscale
    JPEGs are ENCODED executor-side from deterministic QUANTIZED
    coefficients (media_codecs.encode_jpeg_baseline — Annex-K Huffman, DC
    DPCM, zigzag run-length), then decoded back by the full T.81 pipeline
    (media_codecs.decode_jpeg_baseline: canonical Huffman -> dequant ->
    inverse zigzag -> IDCT -> level shift) inside operators.multimodal.
    image_stats. Coefficients sit at (0,0) and (0,4) with qstep 8, whose
    IDCT basis products are EXACTLY ±1/8 — every decoded pixel is the
    integer 128 + dc ± ac, so mean and population variance are dyadic
    rationals that float64 carries exactly, and the oracle replays the
    same block arithmetic in SQL. An EXACT oracle over a genuine lossy-
    format entropy decode. Scale shape: mapInPandas, per-row independent,
    zero shuffle."""
    import numpy as np

    from modin_spark.operators.multimodal import image_stats

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 16).select("vec_id")

    def mk(batches):
        from modin_spark.operators.media_codecs import encode_jpeg_baseline

        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                i = int(i)
                coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for b in range(4):
                    r, c = divmod(b, 2)
                    coeffs[r, c, 0, 0] = (i * 5 + b * 3) % 41 - 20
                    coeffs[r, c, 0, 4] = (i * 3 + b * 7) % 31 - 15
                q = np.full((8, 8), 8, dtype=np.int64)
                payloads.append(encode_jpeg_baseline(coeffs, 16, 16, q))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    return image_stats(media).select("vec_id", "width", "height", "mean_lum", "var_lum")


def _multimodal_jpeg420_stats(spark, sf):
    """REAL 4:2:0 chroma-subsampled JPEG decode (r15) — the dominant
    camera/web layout. 16x16 color JPEGs are ENCODED executor-side from
    deterministic quantized coefficients (media_codecs.encode_jpeg_color420:
    4 Y blocks + 1 Cb + 1 Cr per MCU, Y sampling 2x2), then decoded by the
    generalized T.81 pipeline (sampling-factor MCU walk + nearest-neighbor
    chroma doubling) inside operators.multimodal.image_channel_stats.
    Exactness: Y coefficients sit at (0,0)/(0,4) with qstep 8 (pixel values
    128+dc±ac, integers); chroma is DC-only, so after 2x upsampling each
    chroma plane is the CONSTANT 128+c — the RGB conversion is then an
    affine shift whose round() the oracle replays in SQL (verified: zero
    round-boundary collisions over the whole coefficient domain). Scale
    shape: mapInPandas, per-row independent, zero shuffle."""
    import numpy as np

    from modin_spark.operators.multimodal import image_channel_stats

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 16).select("vec_id")

    def mk(batches):
        from modin_spark.operators.media_codecs import encode_jpeg_color420

        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                i = int(i)
                cy = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for b in range(4):
                    r, c = divmod(b, 2)
                    cy[r, c, 0, 0] = (i * 5 + b * 3) % 41 - 20
                    cy[r, c, 0, 4] = (i * 3 + b * 7) % 31 - 15
                cb = np.zeros((1, 1, 8, 8), dtype=np.int64)
                cr = np.zeros((1, 1, 8, 8), dtype=np.int64)
                cb[0, 0, 0, 0] = i % 21 - 10
                cr[0, 0, 0, 0] = (i * 7) % 21 - 10
                q = np.full((8, 8), 8, dtype=np.int64)
                payloads.append(encode_jpeg_color420(cy, cb, cr, 16, 16, q, q))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    return image_channel_stats(media).select(
        "vec_id", "width", "height", "mean_r", "mean_g", "mean_b")


def _cat_unobserved_counts(spark, sf):
    """Categorical value_counts with a DECLARED unobserved category (r15):
    lang astype'd to a CategoricalDtype that adds 'xx' — the count table
    must emit the zero-count row (pandas), which requires the wrapper-
    carried category metadata to survive the astype + value_counts chain
    (wave-52 machinery). The oracle left-joins the declared category list
    against the group counts. Scale shape: one hash aggregate; the
    zero-fill is a driver-side reindex over the bounded category set."""
    import pandas as _pd

    mpd = _mpd()
    docs = mpd.read_parquet(f"{sf}/documents.parquet")
    cd = _pd.CategoricalDtype(["de", "en", "es", "fr", "xx", "zh"])
    vc = docs["lang"].astype(cd).value_counts()
    out = vc.reset_index()
    out.columns = ["lang", "n"]
    return out.to_spark(ordered=False).selectExpr("CAST(lang AS STRING) AS lang",
                                                  "CAST(n AS BIGINT) AS n")


def _td_format_cumsum(spark, sf):
    """Timedelta rendering + accumulation (r15 wave-51 machinery): per-user
    event gaps (ts.diff() -> DayTimeInterval) cumulate with the interval-
    legal blocked cumsum and render with pandas' '{d} days {HH:MM:SS}
    [.ffffff]' repr — the oracle replays both from lag()ed epoch
    microseconds. Scale shape: one sort + the two-pass blocked cumsum,
    no driver loop."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev[ev.user_id == 1][["event_id", "ts"]].sort_values(
        ["ts", "event_id"]).reset_index(drop=True)
    d = ev["ts"].diff()
    out = ev.assign(td_str=d.astype(str),
                    cs_sec=d.cumsum().dt.total_seconds())
    return out[["event_id", "td_str", "cs_sec"]].to_spark(ordered=False)


def _multimodal_jpeg_prog_stats(spark, sf):
    """REAL progressive-JPEG decode (r15, T.81 Annex G): 16x16 grayscale
    SOF2 streams are ENCODED executor-side as FOUR scans — DC first at
    Al=1, DC refinement, AC first at Al=1 with aggregated EOB runs, AC
    refinement with correction bits (media_codecs.encode_jpeg_progressive)
    — then decoded by the full progressive pipeline (decode_jpeg's marker
    sniff routes SOF2 to decode_jpeg_progressive: per-scan coefficient
    accumulation, successive-approximation bit merges, EOBRUN skips, then
    dequant + IDCT). Same dyadic-exact coefficient design as the baseline
    multimodal_jpeg_stats query ((0,0)/(0,4) with qstep 8 — every pixel is
    the integer 128 + dc ± ac), odd values forcing nonzero refinement bits;
    the oracle replays the block arithmetic in SQL. Scale shape:
    mapInPandas, per-row independent, zero shuffle."""
    import numpy as np

    from modin_spark.operators.multimodal import image_stats

    emb = (_rp(spark, f"{sf}/embeddings.parquet")
           .where((F.col("vec_id") >= 16) & (F.col("vec_id") < 32))
           .select("vec_id"))

    def mk(batches):
        from modin_spark.operators.media_codecs import encode_jpeg_progressive

        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                i = int(i)
                coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                for b in range(4):
                    r, c = divmod(b, 2)
                    coeffs[r, c, 0, 0] = (i * 5 + b * 3) % 41 - 20
                    coeffs[r, c, 0, 4] = (i * 3 + b * 7) % 31 - 15
                q = np.full((8, 8), 8, dtype=np.int64)
                payloads.append(encode_jpeg_progressive(coeffs, 16, 16, q))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    return image_stats(media).select("vec_id", "width", "height", "mean_lum", "var_lum")


def _multimodal_video_frames(spark, sf):
    """REAL video sample decode (r15): MJPEG-in-AVI payloads are ENCODED
    executor-side — each video holds 3 + vec_id%4 frames of 16x16 grayscale
    JPEG, alternating baseline (SOF0) and progressive (SOF2) frames to
    exercise the per-frame marker sniff — then operators.multimodal.
    video_frame_stats walks the RIFF 'movi' list (media_codecs.
    decode_avi_frames), samples every 2nd frame, runs the full T.81 decode
    per sampled frame, and reports container dims + frame counts + the
    exact mean luminance over sampled pixels. Coefficients at (0,0)/(0,4)
    with qstep 8, so per-frame means are 128 + avg(dc) exactly; frame
    counts are 4 or 8 so the sampled pixel count stays a power of two and
    every division on both sides is float64-EXACT (same invariant the
    jpeg_stats oracles rely on). The oracle replays the frame/block
    arithmetic in SQL. Scale shape:
    mapInPandas, per-row independent, zero shuffle — frame fan-out stays
    inside the executor."""
    import numpy as np

    from modin_spark.operators.multimodal import video_frame_stats

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 12).select("vec_id")

    def mk(batches):
        from modin_spark.operators.media_codecs import (
            encode_avi_mjpeg, encode_jpeg_baseline, encode_jpeg_progressive)

        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                i = int(i)
                frames = []
                for f in range(4 * (1 + i % 2)):
                    coeffs = np.zeros((2, 2, 8, 8), dtype=np.int64)
                    for b in range(4):
                        r, c = divmod(b, 2)
                        coeffs[r, c, 0, 0] = (i * 7 + f * 5 + b * 3) % 41 - 20
                        coeffs[r, c, 0, 4] = (i + f * 11 + b) % 31 - 15
                    q = np.full((8, 8), 8, dtype=np.int64)
                    enc = encode_jpeg_baseline if f % 2 == 0 else encode_jpeg_progressive
                    frames.append(enc(coeffs, 16, 16, q))
                payloads.append(encode_avi_mjpeg(frames, 16, 16, fps=10))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    return video_frame_stats(media, every_n=2).select(
        "vec_id", "width", "height", "n_frames", "sampled", "mean_lum")


def _multimodal_media_meta(spark, sf):
    """REAL JPEG/MP3/MP4 HEADER parsing (r11, no media libs): deterministic
    payloads — structurally valid JPEG marker streams, MPEG1 Layer-III CBR
    frame chains behind ID3v2 tags, and ISO-BMFF box trees — are encoded
    executor-side from vec_id arithmetic (media_codecs.encode_jpeg_header /
    encode_mp3 / encode_mp4_header), then parsed back by the real header
    parsers inside ONE vectorized attach_media_meta pass that sniffs magic
    bytes per row. The oracle replays the same field arithmetic in SQL, so
    every extracted dimension / sample-rate / channel-count / duration is
    exact. Scale shape: header parse only (no pixel/sample decode), narrow,
    scan-speed, zero shuffle."""
    from modin_spark.operators.multimodal import attach_media_meta

    emb = _rp(spark, f"{sf}/embeddings.parquet").where(F.col("vec_id") < 60).select("vec_id")

    def mk(batches):
        from modin_spark.operators.media_codecs import (
            encode_jpeg_header, encode_mp3, encode_mp4_header,
        )

        for pdf in batches:
            payloads = []
            for i in pdf["vec_id"]:
                i = int(i)
                k = i % 3
                if k == 0:
                    payloads.append(encode_jpeg_header(
                        32 + i * 3, 16 + i * 2, components=3,
                        progressive=(i // 3) % 2 == 1, comment=b"c" * (i % 19)))
                elif k == 1:
                    payloads.append(encode_mp3(
                        5 + (i // 3) % 7, sr_idx=(i // 3) % 3, br_idx=9,
                        mono=(i // 3) % 2 == 0, id3_pad=(i * 13) % 97))
                else:
                    payloads.append(encode_mp4_header(
                        1000 + i * 137, 64 + i % 256, 48 + i % 32,
                        video_codec="avc1",
                        audio_codec="mp4a" if (i // 3) % 2 == 0 else None))
            yield pdf.assign(payload=payloads)

    media = emb.mapInPandas(mk, "vec_id long, payload binary")
    out = attach_media_meta(media)
    return out.select(
        "vec_id",
        F.col("media_meta.kind").alias("kind"),
        F.col("media_meta.format").alias("fmt"),
        F.col("media_meta.codec").alias("codec"),
        F.col("media_meta.width").cast("int").alias("width"),
        F.col("media_meta.height").cast("int").alias("height"),
        F.col("media_meta.sample_rate").cast("int").alias("sample_rate"),
        F.col("media_meta.channels").cast("int").alias("channels"),
        F.round(F.col("media_meta.duration_s"), 4).alias("dur_s"),
    )


def _q4_priority_returned(spark, sf):
    """Semi-join: orders having >=1 returned lineitem, counted by priority."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    returned = li[li.l_returnflag == "R"]["l_orderkey"]
    f = orders[orders.o_orderkey.isin(returned)]
    out = f.groupby(["o_orderpriority"]).agg(n=("o_orderkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _q10_returned_revenue(spark, sf):
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    l = li[li.l_returnflag == "R"]
    j = l.merge(orders, left_on="l_orderkey", right_on="o_orderkey").merge(
        cust, left_on="o_custkey", right_on="c_custkey"
    )
    j["revenue"] = j.l_extendedprice * (1 - j.l_discount)
    out = j.groupby(["c_custkey", "c_name"]).agg(revenue=("revenue", "sum")).reset_index()
    out = out.nlargest(20, "revenue")
    out["revenue"] = _r(out.revenue, 4)
    return out.to_spark(ordered=False)


def _q14_promo_revenue(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    j["rev"] = j.l_extendedprice * (1 - j.l_discount)
    j["promo_rev"] = j["rev"].where(j.p_type == "PROMO", 0.0)
    promo, total = j["promo_rev"].sum(), j["rev"].sum()
    return _lit_df(spark, "promo_pct double", [(round(100.0 * float(promo) / float(total), 6),)])


def _q19_brand_filter(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    # pre-push the part-side brand filter: shrinks the broadcast table ~25x
    # before the join (the cross-side quantity disjunction still runs after)
    part = part[part.p_brand.isin(["Brand#1", "Brand#3"])]
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    cond = ((j.p_brand == "Brand#1") & (j.l_quantity >= 1) & (j.l_quantity <= 20)) | (
        (j.p_brand == "Brand#3") & (j.l_quantity >= 20) & (j.l_quantity <= 40)
    )
    f = j[cond]
    f["rev"] = f.l_extendedprice * (1 - f.l_discount)
    out = f.groupby(["p_brand"]).agg(revenue=("rev", "sum"), n=("rev", "count")).reset_index()
    out["revenue"] = _r(out.revenue, 4)
    return out.to_spark(ordered=False)


def _anti_join_customers(spark, sf):
    """Customers with no orders — left_anti via ~isin."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    big = orders[orders.o_totalprice > 300000]
    f = cust[~cust.c_custkey.isin(big["o_custkey"])]
    out = f.groupby(["c_mktsegment"]).agg(n=("c_custkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _melt_unpivot(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    m = li[["l_returnflag", "l_quantity", "l_extendedprice"]].melt(
        id_vars=["l_returnflag"], var_name="measure", value_name="val"
    )
    out = m.groupby(["l_returnflag", "measure"]).agg(total=("val", "sum"), n=("val", "count")).reset_index()
    out["total"] = _r(out.total, 2)
    return out.to_spark(ordered=False)


def _explode_words(spark, sf):
    """split + explode + count: top-20 words in documents."""
    mpd = _mpd()
    docs = mpd.read_parquet(f"{sf}/documents.parquet")
    docs["words"] = docs["text"].str.lower().str.findall(r"[a-z0-9]+")
    w = docs[["doc_id", "words"]].explode("words").rename(columns={"words": "word"})
    w = w[w.word.notna()]
    out = w.groupby(["word"]).agg(n=("doc_id", "count")).reset_index()
    out = out.sort_values(["n", "word"], ascending=[False, True]).head(20)
    return out.to_spark(ordered=False)


def _crosstab_counts(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    ct = mpd.crosstab(li["l_returnflag"], li["l_linestatus"]).reset_index()
    return ct.to_spark(ordered=False)


def _qcut_quartiles(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    orders["q4"] = mpd.qcut(orders["o_totalprice"], 4, labels=["q1", "q2", "q3", "q4"])
    out = orders.groupby(["q4"]).agg(
        n=("o_orderkey", "count"), total=("o_totalprice", "sum")
    ).reset_index()
    out["total"] = _r(out.total, 2)
    return out.to_spark(ordered=False)


def _expanding_rank_pct(spark, sf):
    """expanding().rank(pct=True) — the exact DISTRIBUTED rank path
    (core.windows.expanding_rank: value-bucket x pos-block dominance
    counting, O(n) shipping, no whole-prefix task)."""
    mpd = _mpd()
    from modin_spark.core import windows as _win
    from modin_spark.pandas.series import Series as _S

    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values("event_id").set_index("event_id")
    ev["v"] = _r(ev["value"], 0)  # coarse rounding forces heavy ties
    # call the distributed kernel DIRECTLY (the public API routes small
    # frames onto the single-block pandas pass; the driver should score
    # the bucketed machinery itself)
    rk = _S._from_frame(_win.expanding_rank(
        ev["v"]._to_frame(), [0], method="average", pct=True, min_periods=1))
    e = rk.reset_index()
    e.columns = ["event_id", "exp_rank"]
    e["exp_rank"] = _r(e["exp_rank"], 6)
    return e.head(10000).to_spark(ordered=False)


def _expanding_median_exact(spark, sf):
    """expanding().median() via the exact DISTRIBUTED selection kernel
    (core.windows.expanding_quantile: value-bucket x pos-block + per-bucket
    Fenwick select) — called directly so the driver scores the kernel (the
    public API routes sub-4-block frames onto the single-task pandas pass)."""
    mpd = _mpd()
    from modin_spark.core import windows as _win
    from modin_spark.pandas.series import Series as _S

    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values("event_id").set_index("event_id")
    med = _S._from_frame(_win.expanding_quantile(
        ev["value"]._to_frame(), [0], 0.5, min_periods=1))
    e = med.reset_index()
    e.columns = ["event_id", "exp_med"]
    e["exp_med"] = _r(e["exp_med"], 6)
    return e.head(10000).to_spark(ordered=False)


def _expanding_stats(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values("event_id").set_index("event_id")
    # one expanding pass for both aggs (single block sort + carry broadcast),
    # then pure same-lineage projections — one parquet scan in the plan
    e = ev["value"].expanding(min_periods=1).agg(["sum", "count"]).reset_index()
    # mean from the ROUNDED sum: both engines then divide identical doubles,
    # so the final round can't disagree on summation-order noise
    e["exp_sum"] = _r(e["sum"], 2)
    e["exp_mean"] = _r(e["exp_sum"] / e["count"], 6)
    out = e[["event_id", "exp_mean", "exp_sum"]]
    return out.head(10000).to_spark(ordered=False)


def _expanding_median_p90(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev2 = ev.sort_values("event_id").head(4000).set_index("event_id")
    m = ev2[["value"]].expanding(min_periods=1).median().reset_index().rename(columns={"value": "exp_med"})
    q = ev2[["value"]].expanding(min_periods=1).quantile(0.9).reset_index().rename(columns={"value": "exp_p90"})
    out = m.merge(q, on="event_id")
    out["exp_med"] = _r(out["exp_med"], 6)
    out["exp_p90"] = _r(out["exp_p90"], 6)
    return out.to_spark(ordered=False)


def _ewm_mean(spark, sf):
    """Exponentially weighted mean (span=9) over the event stream — decay-
    truncation halo blocks, no sequential scan."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev2 = ev.sort_values("event_id").head(4000).set_index("event_id")
    m = ev2[["value"]].ewm(span=9).mean().reset_index().rename(columns={"value": "ewm_v"})
    m["ewm_v"] = _r(m["ewm_v"], 6)
    return m.to_spark(ordered=False)


def _docs_pii_scrub(spark, sf):
    """PII scrubbing at scan speed (chained regexp_replace, no UDF). The
    corpus plants deterministic PII by doc_id (replicated identically in the
    oracle SQL), so hit counts AND the scrubbed-text checksum are exact."""
    from modin_spark.operators.text import pii_scrub

    docs = _rp(spark, f"{sf}/documents.parquet")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" contact agent007@example.com now")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" or call 555-123-4567")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" from host 192.168.10.42")).otherwise(F.lit("")),
    )
    corpus = docs.select("doc_id", t.alias("text"))
    out = pii_scrub(corpus)
    return out.agg(
        F.sum("email_hits").cast("long").alias("emails"),
        F.sum("phone_hits").cast("long").alias("phones"),
        F.sum("ipv4_hits").cast("long").alias("ips"),
        F.sum("ssn_hits").cast("long").alias("ssns"),
        F.sum((F.col("text_scrubbed") != F.col("text")).cast("long")).alias("docs_scrubbed"),
        F.sum(F.length("text_scrubbed")).cast("long").alias("scrubbed_chars"),
    )


def _docs_repetition(spark, sf):
    """Per-doc repetition signals (unique-word ratio) — corpus filtering
    staple, pure array expressions."""
    from modin_spark.operators.text import repetition_stats

    docs = _rp(spark, f"{sf}/documents.parquet")
    out = repetition_stats(docs)
    return out.select(
        "doc_id", F.col("n_words").cast("int").alias("n_words"),
        F.round("unique_word_ratio", 6).alias("uniq_ratio"),
    )


def _docs_paragraph_dedup(spark, sf):
    """Corpus-wide paragraph dedup (shared-boilerplate removal): every doc
    gets a common footer paragraph plus a duplicate of its own body; the
    operator must keep each distinct paragraph exactly once corpus-wide.
    Checked via the reassembled output's normalized-paragraph count and
    char sum (first-occurrence raw text normalizes to the same string)."""
    from modin_spark.operators.dedup import paragraph_dedup

    docs = _rp(spark, f"{sf}/documents.parquet", spread=True)
    corpus = docs.select(
        "doc_id",
        F.concat_ws("\n\n", F.col("text"), F.lit("COMMON FOOTER BOILERPLATE"), F.col("text")).alias("text"),
    )
    res = paragraph_dedup(corpus, "doc_id", "text")
    ex = res.select(F.explode(F.split(F.col("text"), r"\n\n")).alias("para"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " "))
    return ex.agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.length(norm)).cast("long").alias("norm_chars"),
    )


_DECON_SENTINEL = "zebra quantum falcon mirror anchor velvet"


def _docs_decontaminate(spark, sf):
    """Eval-set decontamination (GPT-3 appendix-C style n-gram overlap):
    docs with doc_id%10==0 form the eval split; a sentinel 6-gram is planted
    in every eval doc and in train docs with doc_id%17==0, so those train
    docs (plus any natural 6-gram collisions) must be removed. Plan: eval
    n-grams distinct+broadcast, train side explodes and semi-joins — the
    train text never shuffles."""
    from modin_spark.operators.corpus import decontaminate

    docs = _rp(spark, f"{sf}/documents.parquet", spread=True)
    is_eval = F.col("doc_id") % 10 == 0
    planted = is_eval | (F.col("doc_id") % 17 == 0)
    corpus = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.when(planted, F.lit(" " + _DECON_SENTINEL)).otherwise(F.lit(""))).alias("text"),
    )
    train = corpus.where(~is_eval)
    ev = corpus.where(is_eval)
    clean = decontaminate(train, ev, "doc_id", "text", n=6)
    n_train = train.agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    stats = clean.agg(
        F.count(F.lit(1)).cast("long").alias("n_clean"),
        F.sum("doc_id").cast("long").alias("id_sum_clean"),
        F.sum(F.length("text")).cast("long").alias("chars_clean"),
    )
    return n_train.crossJoin(stats)


def _docs_chunk_windows(spark, sf):
    """Sliding-window token chunking (corpus.chunk_documents, the RAG/
    embedding chunker): 64-token chunks, 8-token overlap. Per-chunk rows
    (id, chunk_id, n_tokens, md5(chunk_text)) hash-compare the exact chunk
    contents against DuckDB's list-slice replication. Plan: split/sequence/
    posexplode/slice in ONE scan stage — no shuffle, no UDF."""
    from modin_spark.operators.corpus import chunk_documents

    docs = _rp(spark, f"{sf}/documents.parquet")
    ch = chunk_documents(docs, "doc_id", "text", chunk_size=64, overlap=8)
    return ch.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_id"),
        F.col("n_tokens"),
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    )


def _docs_pack_sequences(spark, sf):
    """Concatenate-and-split sequence packing into 2048-token bins; checks
    the full global token layout via an order-sensitive bin*id checksum.
    The running sum is a two-phase blocked cumsum (range shuffle + broadcast
    offsets) — no single-task global window."""
    from modin_spark.operators.corpus import pack_sequences

    docs = _rp(spark, f"{sf}/documents.parquet")
    toks = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""))
    t = docs.select("doc_id", toks.cast("long").alias("tokens")).where(F.col("tokens") > 0)
    packed = pack_sequences(t, "doc_id", "tokens", 2048)
    return packed.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        (F.max("last_bin") + 1).cast("long").alias("n_bins"),
        F.sum(F.col("straddles").cast("long")).cast("long").alias("n_straddle"),
        F.sum(F.col("first_bin") * F.col("doc_id")).cast("long").alias("bin_id_checksum"),
    )


def _docs_shard_layout(spark, sf):
    """Token-balanced output sharding (corpus.assign_shards — the writer's
    layout step): docs in id order, shard = floor(token_start/4096). Checks
    the complete layout per shard: doc count, token sum, id span. Same
    two-phase blocked cumsum as packing; one range shuffle total."""
    from modin_spark.operators.corpus import assign_shards

    docs = _rp(spark, f"{sf}/documents.parquet")
    toks = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""))
    t = docs.select("doc_id", toks.cast("long").alias("tokens")).where(F.col("tokens") > 0)
    sh = assign_shards(t, "doc_id", "tokens", 4096)
    return (
        sh.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tokens").cast("long").alias("tok_sum"),
            F.min("doc_id").cast("long").alias("id_min"),
            F.max("doc_id").cast("long").alias("id_max"),
        )
    )


def _docs_stratified_sample(spark, sf):
    """Deterministic language-stratified downsampling (md5-hash fraction per
    stratum — the corpus-mixing primitive). Pure per-row filter, no RNG, no
    shuffle before the reporting agg; bit-identical in any md5-capable
    engine."""
    from modin_spark.operators.corpus import stratified_sample

    docs = _rp(spark, f"{sf}/documents.parquet")
    samp = stratified_sample(docs, "lang", {"en": 0.75, "de": 0.5, "zh": 0.25}, "doc_id", default_frac=0.125)
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def _docs_mixture_sample(spark, sf):
    """Token-budgeted mixture sampling (corpus.mixture_sample — pretraining
    data mixing): per-domain keep rate = min(1, weight*budget/domain_tokens)
    under the deterministic md5 predicate. One k-row token aggregate
    broadcast back; the corpus never shuffles. Weighted src4 exceeds its
    pool at sf0.01 (rate=1 path) while src0-3 downsample."""
    from modin_spark.operators.corpus import mixture_sample

    docs = _rp(spark, f"{sf}/documents.parquet")
    w = {"src0": 0.5, "src1": 0.3, "src2": 0.15, "src3": 0.05, "src4": 0.8}
    samp = mixture_sample(docs, "source", w, total_tokens=2000, key_col="doc_id")
    toks = F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""))
    return samp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(toks.cast("long")).cast("long").alias("tok_kept"),
    )


def _docs_domain_cap(spark, sf):
    """Per-domain document cap (keep <=15 per source by deterministic md5
    order): bounds any one domain's share of the corpus. One shuffle on the
    domain key; survivors are a rerun-stable unbiased sample."""
    from modin_spark.operators.corpus import domain_cap

    docs = _rp(spark, f"{sf}/documents.parquet")
    capped = domain_cap(docs, "source", 15, "doc_id")
    return capped.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.length("text")).cast("long").alias("chars_kept"),
    )


def _docs_topk_ngrams(spark, sf):
    """Corpus-wide top-20 bigrams (vocabulary/boilerplate discovery).
    Map-side partial counts make the shuffle one row per distinct bigram
    per task; deterministic (count desc, ngram asc) tie-break."""
    from modin_spark.operators.corpus import topk_ngrams

    docs = _rp(spark, f"{sf}/documents.parquet", spread=True)
    return topk_ngrams(docs, "text", n=2, k=20).select("ngram", F.col("cnt").cast("long").alias("cnt"))


def _excel_ingest(spark, sf):
    """Parallel xlsx ingestion (sources/excel.py — worksheet XML cut into
    row-aligned byte chunks on the driver, parsed/typed in executor tasks;
    reference: modin/core/io/text/excel_dispatcher.py). nation is exported
    once to a deterministic OOXML file by the stdlib writer, read back
    through the chunked parser, then aggregated per region. Oracle = the
    same aggregate straight off the parquet."""
    import os

    mpd = _mpd()
    cache = "/root/repo/.cache"
    os.makedirs(cache, exist_ok=True)
    path = f"{cache}/nation_ingest.xlsx"
    if not os.path.exists(path):
        from modin_spark.sources.excel import write_xlsx

        pdf = (
            _rp(spark, f"{sf}/nation.parquet")
            .orderBy("n_nationkey")
            .select("n_nationkey", "n_name", "n_regionkey")
            .toPandas()
        )
        write_xlsx(pdf, path)
    df = mpd.read_excel(path)
    g = (
        df.groupby("n_regionkey")
        .agg(n_nations=("n_nationkey", "count"), key_sum=("n_nationkey", "sum"))
        .reset_index()
        .sort_values("n_regionkey")
    )
    out = g.to_spark(ordered=False)
    return out.select(
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.col("n_nations").cast("long").alias("n_nations"),
        F.col("key_sum").cast("long").alias("key_sum"),
    )


def _transpose_wide_roundtrip(spark, sf):
    """Double transpose at 500 columns (r7): orders' first 500 rows
    transpose to a 500-wide frame (map-collect + element_at projection —
    the r7 plan that replaced the w-aggregate pivot) and back, then
    aggregate; the oracle checks the same sums straight off the parquet, so
    every cell must survive both melts exactly."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    sl = orders.sort_values("o_orderkey").head(500)[["o_orderkey", "o_custkey", "o_totalprice"]]
    rt = sl.T.T  # 500-wide intermediate, narrow again
    agg = rt.sum()
    import pandas as pd

    out = pd.DataFrame({
        "col": [str(c) for c in agg.index],
        "total": [round(float(v), 2) for v in agg.values],
    })
    return _lit_df_pdf(spark, out)


def _fwf_ingest(spark, sf):
    """Parallel fixed-width ingestion (r7, sources/fwf.py — native
    distributed csv line scan + substring/trim/cast codegen projections;
    reference: text_file_dispatcher chunking). nation is exported once to a
    deterministic fwf file, read back through the parallel reader (colspec
    inference from the driver sample), then aggregated per region. Oracle =
    the same aggregate straight off the parquet."""
    import os

    mpd = _mpd()
    cache = "/root/repo/.cache"
    os.makedirs(cache, exist_ok=True)
    path = f"{cache}/nation_ingest.fwf"
    if not os.path.exists(path):
        pdf = (
            _rp(spark, f"{sf}/nation.parquet")
            .orderBy("n_nationkey")
            .select("n_nationkey", "n_name", "n_regionkey")
            .toPandas()
        )
        with open(path, "w") as fh:
            fh.write("{:<12}{:<20}{:<12}\n".format("n_nationkey", "n_name", "n_regionkey"))
            for r in pdf.itertuples(index=False):
                fh.write("{:<12}{:<20}{:<12}\n".format(r.n_nationkey, r.n_name, r.n_regionkey))
    df = mpd.read_fwf(path)
    g = (
        df.groupby("n_regionkey")
        .agg(n_nations=("n_nationkey", "count"), key_sum=("n_nationkey", "sum"))
        .reset_index()
        .sort_values("n_regionkey")
    )
    out = g.to_spark(ordered=False)
    return out.select(
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
        F.col("n_nations").cast("long").alias("n_nations"),
        F.col("key_sum").cast("long").alias("key_sum"),
    )


def _apply_axis0_strings(spark, sf):
    """Non-numeric df.apply(axis=0) DISTRIBUTED (r6): string columns melt
    stringified with per-column dtype tags, each column is rebuilt typed
    inside its own applyInPandas task, outputs retype from the sampled
    dtypes — no driver materialization (DataFrame._apply_axis0)."""
    mpd = _mpd()
    d = mpd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "lang"]]
    out = d.apply(
        lambda s: s.str.upper() if s.dtype == object else s + 1000, axis=0
    )
    sdf = out.to_spark(ordered=False)
    return sdf.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("lang").alias("lang_up")
    )


def _apply_axis0_vcounts(spark, sf):
    """SHAPE-CHANGING df.apply(axis=0): per-column value_counts results,
    labeled by their own indexes and aligned pandas-style (union sort).
    value_counts is a decomposable kernel (DataFrame._apply_axis0,
    pandas/kernels.py): one Spark partial aggregate per (column, value) —
    count and first position — whose few rows (at most
    MODIN_SPARK_NATIVE_MAX_ROWS, default 5000) pandas merges on the driver,
    Modin's TreeReduce. With the threshold at 0, or more distinct values
    than it, the r7 reshape branch runs: one applyInPandas task per column,
    aligned in one label-grouped conditional aggregation. Reference runs
    shape-changers through apply_full_axis column partitions
    (modin/core/dataframe/pandas/dataframe/dataframe.py:2956)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")[["l_returnflag", "l_linestatus"]]
    out = li.apply(lambda s: s.value_counts(), axis=0).reset_index()
    out = out.rename(columns={"index": "val"})
    return out.to_spark(ordered=False).select(
        "val",
        F.col("l_returnflag").cast("double").alias("rf_count"),
        F.col("l_linestatus").cast("double").alias("ls_count"),
    )


def _apply_axis0_mi_reshape(spark, sf):
    """SHAPE-CHANGING df.apply(axis=0) over a 2-level MultiIndex-ed frame,
    DISTRIBUTED (r8: the last driver fallback closed): the index levels ride
    the melt as __ilbl columns, each column's task sees its Series with the
    real MultiIndex, and the per-column value_counts results union-align on
    their own labels — no driver materialization. Reference runs these
    through apply_full_axis column partitions
    (modin/core/dataframe/pandas/dataframe/dataframe.py:2956)."""
    mpd = _mpd()
    d = mpd.read_parquet(f"{sf}/documents.parquet")
    d["len_bucket"] = (d["n_chars"] // 200).astype(str)
    d = d.set_index(["lang", "doc_id"])[["source", "len_bucket"]]
    out = d.apply(lambda s: s.value_counts(), axis=0).reset_index()
    out = out.rename(columns={"index": "val"})
    return out.to_spark(ordered=False).select(
        "val",
        F.col("source").cast("double").alias("src_count"),
        F.col("len_bucket").cast("double").alias("lb_count"),
    )


def _transpose_mixed(spark, sf):
    """Distributed transpose of a MIXED str/int frame (r6: stringified
    melt + pivot + per-header retype probe — no driver materialization;
    DataFrame._transpose_distributed). Each transposed column holds a
    comment string and a region key, so the retype probe resolves every
    output column to string."""
    mpd = _mpd()
    r = mpd.read_parquet(f"{sf}/region.parquet")
    r["name_lc"] = r["r_name"].str.lower()
    r = r.sort_values("r_regionkey").set_index("r_name")[["name_lc", "r_regionkey"]]
    t = r.T.reset_index().rename(columns={"index": "stat"})
    return t.to_spark(ordered=False)


def _emb_label_centroids(spark, sf):
    """Per-label embedding centroids as (label, pos, c) rows: posexplode +
    groupBy(label,pos) — partial aggregation keeps the shuffle at
    n_labels*dim rows regardless of corpus size."""
    from modin_spark.operators.corpus import label_centroids

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    out = label_centroids(emb, "label", "embedding")
    return out.select("label", "pos", F.round("c", 5).alias("c"))


def _multiindex_cols_agg(spark, sf):
    """2-level COLUMN MultiIndex: groupby().agg([...]) emits (col, agg)
    columns; values selected via column tuples then flattened for the
    oracle compare."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    g = li[["l_returnflag", "l_quantity", "l_extendedprice"]].groupby("l_returnflag").agg(["sum", "mean"])
    sel = g[[("l_quantity", "sum"), ("l_extendedprice", "mean")]]
    flat = sel.rename(columns={("l_quantity", "sum"): "sum_qty", ("l_extendedprice", "mean"): "avg_price"})
    out = flat.reset_index()
    out["sum_qty"] = _r(out["sum_qty"], 2)
    out["avg_price"] = _r(out["avg_price"], 4)
    return out.to_spark(ordered=False)


# all (l_returnflag, l_linestatus) combos in the synthetic TPC-H-ish data
_LI_COMBOS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]


def _multiindex3_cols_agg(spark, sf):
    """3-level COLUMN MultiIndex round-trip (r7): multi-key pivot_table
    (columns=['l_returnflag','l_linestatus'], aggfunc list) emits
    (fn, flag, status) 3-level columns over the 2-level (l_linenumber,
    l_tax) row MultiIndex; groupby(level=0).agg('sum') re-aggregates,
    dropping the non-grouped index level (pandas parity); tuple-keyed
    rename flattens for the oracle."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    pt = li.pivot_table(
        index=["l_linenumber", "l_tax"],
        columns=["l_returnflag", "l_linestatus"],
        values="l_quantity", aggfunc=["sum", "count"],
    )
    g = pt.groupby(level=0).agg("sum")
    out = g.reset_index()
    ren = {(fn, f, s): f"{fn}_{f}_{s}" for fn in ("sum", "count") for f, s in _LI_COMBOS}
    out = out.rename(columns=ren)
    for f, s in _LI_COMBOS:
        out[f"sum_{f}_{s}"] = _r(out[f"sum_{f}_{s}"], 2)
    return out.to_spark(ordered=False)


def _concat_dup_labels(spark, sf):
    """concat(axis=1) with COLLIDING column labels (r7): the duplicate-label
    frame stays fully computable (positional physical names); a positional
    columns= assignment renames for the oracle compare."""
    mpd = _mpd()
    n = mpd.read_parquet(f"{sf}/nation.parquet")
    a = n[["n_nationkey", "n_regionkey"]]
    b = n[["n_nationkey"]]
    c = mpd.concat([a, b], axis=1)  # columns: n_nationkey, n_regionkey, n_nationkey
    c = c[c["n_regionkey"] < 3]  # filter THROUGH the dup-label frame
    c.columns = ["k1", "r", "k2"]
    return c.to_spark(ordered=False)


def _win_weighted_var(spark, sf):
    """Weighted-window variance (win_type='triang', w=4, exact binary-fraction
    weights [.25,.75,.75,.25]): two lag-unrolled accumulations in whole-stage
    codegen (core.windows.rolling_weighted; ref window_var qc:1668-1691)."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev2 = ev.sort_values("event_id").head(4000).set_index("event_id")
    v = ev2["value"].rolling(4, win_type="triang").var()
    out = ev2[["value"]]
    out["wvar"] = _r(v.fillna(-1.0), 6) + 0.0  # collapse IEEE -0.0
    return out.reset_index()[["event_id", "wvar"]].to_spark(ordered=False)


def _rolling_corr_pair(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev2 = ev.sort_values("event_id").head(10000).set_index("event_id")
    c = ev2["value"].rolling(24).corr(ev2["user_id"])
    out = ev2[["value"]]
    # + 0.0 collapses IEEE -0.0 (tiny-negative corr rounded to 4dp) to +0.0 so
    # the driver's value hash agrees with the oracle's identically-normalized
    # ROUND(...) + 0 -- values already compare equal, only the sign bit differed.
    out["rcorr"] = _r(c.fillna(0.0), 4) + 0.0
    return out.reset_index()[["event_id", "rcorr"]].to_spark(ordered=False)


def _pct_change_value(spark, sf):
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    ev = ev.sort_values("event_id").head(10000)
    pc = ev[["value"]].pct_change()
    out = ev[["event_id"]]
    out["pct"] = _r(pc["value"].fillna(0.0), 6)
    return out.to_spark(ordered=False)


def _groupby_transform_demean(spark, sf):
    """transform('sum') broadcast back, then re-grouped: (group_sum, n rows)."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    t = orders.groupby("o_orderpriority")[["o_totalprice"]].transform("sum")
    t["grp_sum"] = _r(t["o_totalprice"], 2)
    out = t.groupby(["grp_sum"]).agg(n=("o_totalprice", "count")).reset_index()
    return out.to_spark(ordered=False)


def _groupby_filter_large(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    f = orders.groupby("o_orderstatus").filter(lambda g: g["o_totalprice"].mean() > 150000)
    out = f.groupby(["o_orderstatus"]).agg(n=("o_orderkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _groupby_head2(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    f = orders.sort_values("o_orderkey").groupby("o_orderpriority").head(2)
    out = f[["o_orderpriority", "o_orderkey"]]
    return out.to_spark(ordered=False)


def _groupby_first_last(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    g = orders.sort_values("o_orderkey").groupby("o_orderpriority")[["o_totalprice"]]
    first = g.first().reset_index().rename(columns={"o_totalprice": "first_price"})
    last = g.last().reset_index().rename(columns={"o_totalprice": "last_price"})
    out = first.merge(last, on="o_orderpriority")
    out["first_price"] = _r(out.first_price, 2)
    out["last_price"] = _r(out.last_price, 2)
    return out.to_spark(ordered=False)


def _describe_stats(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    d = li[["l_quantity"]].describe()["l_quantity"]
    vals = [
        float(d["count"]), round(float(d["mean"]), 6), round(float(d["std"]), 6),
        float(d["min"]), round(float(d["25%"]), 4), round(float(d["50%"]), 4),
        round(float(d["75%"]), 4), float(d["max"]),
    ]
    return _lit_df(
        spark,
        "cnt double, mean double, std double, mn double, p25 double, p50 double, p75 double, mx double",
        [tuple(vals)])


def _mode_quantity(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    m = li[["l_quantity"]].mode().to_pandas()
    return _lit_df(spark, "mode_qty bigint", [(int(m["l_quantity"].iloc[0]),)])


def _rollup_agg(spark, sf):
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    out = li.rollup(["l_returnflag", "l_linestatus"], {"sum_qty": ("l_quantity", "sum"), "n": ("l_quantity", "count")})
    df = out.to_spark(ordered=False)
    return df.withColumn("sum_qty", F.round("sum_qty", 2))


def _range_join_buckets(spark, sf):
    """Interval join: quantity BETWEEN bucket lo/hi."""
    import pandas as pd

    from modin_spark.operators.joins import range_join

    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")[["l_orderkey", "l_quantity"]]
    ranges = mpd.from_pandas(pd.DataFrame({
        "lo": [1, 11, 21, 31, 41], "hi": [10, 20, 30, 40, 50],
        "bucket": ["b1", "b2", "b3", "b4", "b5"],
    }))
    j = range_join(li, ranges, "l_quantity", "lo", "hi", bucket_width=10.0)
    out = j.groupby(["bucket"]).agg(n=("l_orderkey", "count")).reset_index()
    return out.to_spark(ordered=False)


def _where_clip(spark, sf):
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    clipped = orders["o_totalprice"].clip(50000, 400000)
    orders["clipped"] = _r(clipped, 2)
    orders["masked"] = _r(orders["o_totalprice"].where(orders["o_orderstatus"] == "F", 0.0), 2)
    out = orders[["o_orderkey", "clipped", "masked"]]
    return out.to_spark(ordered=False)


def _docs_fingerprint(spark, sf):
    """Rolling-hash fingerprint over the normalized word sequence; distinct
    fingerprints == distinct normalized word sequences (oracle-checkable)."""
    from modin_spark.operators.text import fingerprint

    docs = _rp(spark, f"{sf}/documents.parquet")
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "), r"\s+", " "))
    return docs.select(fingerprint(norm).alias("fp")).agg(
        F.count_distinct(F.col("fp")).alias("n_distinct_fp")
    )


def _docs_ngram_dedup(spark, sf):
    """Exact word-5-shingle Jaccard dedup (keep-min-id) on a 500-doc slice.
    Oracle = DuckDB ALL-pairs exact Jaccard: agreement proves LSH candidate
    recall 1.0 on every pair at J >= 0.8 (banded-minhash miss probability
    ~5e-8 there) plus exact verify + keep-min correctness."""
    from modin_spark.operators.dedup import ngram_jaccard_dedup

    docs = _rp(spark, f"{sf}/documents.parquet").where(F.col("doc_id") < 500)
    out = ngram_jaccard_dedup(docs, threshold=0.8)
    return out.agg(
        F.count(F.lit(1)).alias("n_after"), F.sum("doc_id").alias("id_sum")
    )


def _apply_axis0_zscore(spark, sf):
    """Distributed df.apply(func, axis=0): every column is handed WHOLE to
    the UDF in its own applyInPandas task (melt -> column-group -> pivot
    back; no driver materialization of the data — see
    DataFrame._apply_axis0, plan-asserted in tests/test_plans.py)."""
    mpd = _mpd()
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    df = orders[["o_orderkey", "o_custkey", "o_totalprice"]]
    z = df.apply(lambda s: (s - s.mean()) / s.std())
    for c in ["o_orderkey", "o_custkey", "o_totalprice"]:
        z[c] = _r(z[c], 4)
    out = z.rename(columns={"o_orderkey": "z_key", "o_custkey": "z_cust", "o_totalprice": "z_price"})
    return out.to_spark(ordered=False)


def _transpose_agg(spark, sf):
    """Distributed transpose (melt + one pivot shuffle, no driver data
    materialization — DataFrame._transpose_distributed) of a grouped
    aggregate: stat names become rows, return-flag groups become columns."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    g = li.groupby("l_returnflag").agg(
        sq=("l_quantity", "sum"), sp=("l_extendedprice", "sum"), n=("l_orderkey", "count")
    )
    t = g.T.reset_index()
    for c in ["A", "N", "R"]:
        t[c] = _r(t[c], 2)
    out = t.rename(columns={"index": "stat"})
    return out.to_spark(ordered=False)


def _transpose_multiindex_roundtrip(spark, sf):
    """r7 transpose capability: a 2-level-index aggregate transposes into
    MultiIndex COLUMNS, then transposes BACK (MultiIndex columns -> 2-level
    index); values must survive the round trip exactly. The aggregate has
    far fewer rows and columns than MODIN_SPARK_NATIVE_MAX_ROWS (default
    5000), so the first transpose is one ordered collect plus a driver
    transpose, and the second transpose and reset_index run on its native
    result with no Spark job. With the threshold at 0 both directions run
    DISTRIBUTED (position-keyed melt/map — DataFrame._transpose_distributed).
    Reference carries column MultiIndexes natively in its partition metadata
    (modin/core/dataframe/pandas/dataframe/dataframe.py:161)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    g = li.groupby(["l_returnflag", "l_linestatus"]).agg(
        sq=("l_quantity", "sum"), ap=("l_extendedprice", "sum")
    )
    back = g.T.T.reset_index()  # T: (rf,ls)-index -> 2-level columns; T back
    back["sq"] = _r(back["sq"], 2)
    back["ap"] = _r(back["ap"], 2)
    return back.to_spark(ordered=False)


def _emb_lsh_topk(spark, sf):
    """Multi-probe hyperplane-LSH top-k. The hyperplanes are the seeded
    deterministic ±1 matrix (similarity.hyperplane_bucket), so the DuckDB
    oracle replays the codes from the literal matrix and the radius-2 probe
    as bit_count(xor) <= 2 — EXACT oracle row (r7, same replay as
    emb_lsh_recall)."""
    from modin_spark.operators.similarity import lsh_topk

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = lsh_topk(emb, q, k=5, planes=8, probe_radius=2)
    return out.select("q_id", "vec_id", F.round("cosine", 4).alias("cos_sim"), "rank")


def _emb_ivf_topk(spark, sf):
    """IVF top-k at the approximate operating point (nprobe=4 of 16 cells)
    with a FIXED quantizer (first 16 embeddings, normalized — same
    centroids= pin as emb_ivf_recall), so the assign/probe/re-rank pipeline
    is EXACT-oracle-backed (r7). The k-means quantizer stays covered by
    emb_ivf_exhaustive; recall quality by emb_ivf_recall."""
    from modin_spark.operators.similarity import ivf_topk

    emb = _rp(spark, f"{sf}/embeddings.parquet")
    cents = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    ]
    q = emb.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = ivf_topk(emb, q, k=5, nprobe=4, centroids=cents)
    return out.select("q_id", "vec_id", F.round("cosine", 4).alias("cos_sim"), "rank")


def _resample_ffill(spark, sf):
    """Timeline completion: at each hourly boundary, the last error sample
    at-or-before it (pandas Resampler.ffill reindex semantics, via the
    block+halo merge_asof machinery)."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    errs = ev[ev.event_type == "error"][["ts", "value"]]
    out = errs.resample("1h", on="ts").ffill().reset_index().rename(columns={"ts": "hour_start"})
    out["value"] = _r(out["value"], 4)
    return out.to_spark(ordered=False)


def _resample_interp(spark, sf):
    """Hourly mean of sparse error events, timeline-completed and linearly
    interpolated across the gap hours (resample -> asfreq -> interpolate)."""
    mpd = _mpd()
    ev = mpd.read_parquet(f"{sf}/events.parquet")
    errs = ev[ev.event_type == "error"][["ts", "value"]]
    m = errs.resample("1h", on="ts").mean()
    full = m.resample("1h").asfreq()
    interp = full.interpolate()
    out = interp.reset_index().rename(columns={"ts": "hour_start"})
    out["value"] = _r(out["value"].fillna(-1.0), 4)
    return out.to_spark(ordered=False)


# ---------------------------------------------------------------------------
# TPC-H tail (adapted to the available schema: lineitem's distinct
# (l_partkey, l_suppkey) pairs stand in for partsupp; date/priority columns
# replace the missing commitdate/shipmode/phone fields). Every query runs
# through the modin_spark pandas API; reference semantics per TPC-H spec.
# ---------------------------------------------------------------------------

def _q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 adapted: for size-15 parts, the EUROPE supplier with the
    minimum account balance among suppliers that have shipped that part
    (correlated-min via groupby + equality join-back)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    reg = mpd.read_parquet(f"{sf}/region.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    # broadcast-join the highly selective part filter (p_size == 15, ~2% of
    # parts; p_partkey is unique so the join never duplicates pairs) BEFORE
    # the pair-distinct: the aggregation exchange then carries only the
    # matching pairs instead of every (partkey, suppkey) pair in lineitem —
    # guide §2.3 shuffle-fewer-bytes / §3.2 pre-filter the big side. Same
    # distinct pairs reach the window, so the result is unchanged
    # (oracle-verified).
    p15 = part[part.p_size == 15][["p_partkey", "p_name"]]
    ps = (
        li[["l_partkey", "l_suppkey"]]
        .merge(p15, left_on="l_partkey", right_on="p_partkey", broadcast=True)
        .drop_duplicates()
    )
    j = (
        ps.merge(sup, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey", broadcast=True)
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey", broadcast=True)
    )
    j = j[j.r_name == "EUROPE"]
    # correlated min as a key-window transform: one shuffle, and j's lineage
    # is planned once (a groupby+merge-back would replay the whole join tree
    # on both sides of the self-merge)
    j["min_bal"] = j.groupby("p_partkey")["s_acctbal"].transform("min")
    out = j[j.s_acctbal == j.min_bal][
        ["p_partkey", "p_name", "s_name", "s_acctbal", "n_name"]
    ]
    return out.sort_values(["s_acctbal", "p_partkey", "s_name"]).head(20).to_spark(ordered=False)


def _q7_volume_shipping(spark, sf):
    """TPC-H Q7: bilateral shipping volume between two nations by year."""
    mpd = _mpd()
    import pandas as pd

    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    sn = nat.rename(columns={"n_nationkey": "sn_key", "n_name": "supp_nation"})[["sn_key", "supp_nation"]]
    cn = nat.rename(columns={"n_nationkey": "cn_key", "n_name": "cust_nation"})[["cn_key", "cust_nation"]]
    j = (
        li.merge(orders[["o_orderkey", "o_custkey"]], left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust[["c_custkey", "c_nationkey"]], left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(sup[["s_suppkey", "s_nationkey"]], left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(sn, left_on="s_nationkey", right_on="sn_key", broadcast=True)
        .merge(cn, left_on="c_nationkey", right_on="cn_key", broadcast=True)
    )
    f = j[
        ((j.supp_nation == "NATION_1") & (j.cust_nation == "NATION_2"))
        | ((j.supp_nation == "NATION_2") & (j.cust_nation == "NATION_1"))
    ]
    f = f[(f.l_shipdate >= pd.Timestamp("1995-01-01")) & (f.l_shipdate <= pd.Timestamp("1996-12-31"))]
    f["l_year"] = f.l_shipdate.dt.year
    f["volume"] = f.l_extendedprice * (1 - f.l_discount)
    out = f.groupby(["supp_nation", "cust_nation", "l_year"]).agg(revenue=("volume", "sum")).reset_index()
    out["revenue"] = _r(out.revenue, 2)
    return out.to_spark(ordered=False)


def _q8_market_share(spark, sf):
    """TPC-H Q8: NATION_5's share of PROMO-part volume sold into ASIA, by
    order year. Ratio derived from identically-rounded numerator/denominator
    so both engines divide the same doubles."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    reg = mpd.read_parquet(f"{sf}/region.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    promo = part[part.p_type == "PROMO"][["p_partkey"]]
    sn = nat.rename(columns={"n_nationkey": "sn_key", "n_name": "supp_nation"})[["sn_key", "supp_nation"]]
    j = (
        li.merge(promo, left_on="l_partkey", right_on="p_partkey", broadcast=True)
        .merge(orders[["o_orderkey", "o_custkey", "o_orderdate"]], left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust[["c_custkey", "c_nationkey"]], left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(nat[["n_nationkey", "n_regionkey"]], left_on="c_nationkey", right_on="n_nationkey", broadcast=True)
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey", broadcast=True)
        .merge(sup[["s_suppkey", "s_nationkey"]], left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(sn, left_on="s_nationkey", right_on="sn_key", broadcast=True)
    )
    f = j[j.r_name == "ASIA"]
    f["o_year"] = f.o_orderdate.dt.year
    f["volume"] = f.l_extendedprice * (1 - f.l_discount)
    f["nation_volume"] = f.volume.where(f.supp_nation == "NATION_5", 0.0)
    out = f.groupby(["o_year"]).agg(num=("nation_volume", "sum"), den=("volume", "sum")).reset_index()
    out["mkt_share"] = _r(_r(out.num, 2) / _r(out.den, 2), 6)
    return out[["o_year", "mkt_share"]].to_spark(ordered=False)


def _q9_profit_by_nation(spark, sf):
    """TPC-H Q9 adapted: profit on red parts by supplier nation and ship
    year; p_retailprice*qty*0.1 stands in for ps_supplycost."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    red = part[part.p_name.str.contains("red")][["p_partkey", "p_retailprice"]]
    j = (
        li.merge(red, left_on="l_partkey", right_on="p_partkey", broadcast=True)
        .merge(sup[["s_suppkey", "s_nationkey"]], left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(nat[["n_nationkey", "n_name"]], left_on="s_nationkey", right_on="n_nationkey", broadcast=True)
    )
    j["amount"] = j.l_extendedprice * (1 - j.l_discount) - j.p_retailprice * j.l_quantity * 0.1
    j["o_year"] = j.l_shipdate.dt.year
    out = j.groupby(["n_name", "o_year"]).agg(sum_profit=("amount", "sum")).reset_index()
    out["sum_profit"] = _r(out.sum_profit, 2)
    return out.to_spark(ordered=False)


def _q11_important_parts(spark, sf):
    """TPC-H Q11 adapted: parts whose NATION_3-supplied lineitem value
    exceeds 2x the mean per-part value (scalar threshold from a driver
    reduction, scale-free unlike the spec's fixed fraction)."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    s3 = sup[sup.s_nationkey == 3][["s_suppkey"]]
    j = li.merge(s3, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
    v = j.groupby(["l_partkey"]).agg(val=("l_extendedprice", "sum")).reset_index()
    v["val"] = _r(v.val, 2)
    total = float(v.val.sum())
    n = int(v.val.count())
    out = v[v.val > 2.0 * (total / n)]
    return out.sort_values(["val", "l_partkey"], ascending=[False, True]).head(50).to_spark(ordered=False)


def _q12_priority_lines(spark, sf):
    """TPC-H Q12 adapted: high/low-priority line counts by line status for
    1997 shipments (o_orderpriority stands in for shipmode+commitdate)."""
    mpd = _mpd()
    import pandas as pd

    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    f = li[(li.l_shipdate >= pd.Timestamp("1997-01-01")) & (li.l_shipdate <= pd.Timestamp("1997-12-31"))]
    j = f.merge(orders[["o_orderkey", "o_orderpriority"]], left_on="l_orderkey", right_on="o_orderkey")
    j["is_high"] = j.o_orderpriority.isin(["1-URGENT", "2-HIGH"]).astype("int64")
    j["is_low"] = 1 - j.is_high
    out = (
        j.groupby(["l_linestatus"])
        .agg(high_line_count=("is_high", "sum"), low_line_count=("is_low", "sum"))
        .reset_index()
    )
    return out.to_spark(ordered=False)


def _q13_order_distribution(spark, sf):
    """TPC-H Q13: distribution of per-customer order counts (left join keeps
    zero-order customers; non-null count semantics)."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    o = orders[orders.o_orderpriority != "5-LOW"][["o_orderkey", "o_custkey"]]
    j = cust[["c_custkey"]].merge(o, left_on="c_custkey", right_on="o_custkey", how="left")
    cnt = j.groupby(["c_custkey"]).agg(c_count=("o_orderkey", "count")).reset_index()
    dist = cnt.groupby(["c_count"]).agg(custdist=("c_custkey", "count")).reset_index()
    return dist.to_spark(ordered=False)


def _q15_top_supplier(spark, sf):
    """TPC-H Q15: supplier(s) with max revenue in 1996Q1 (scalar max over an
    identically-rounded per-supplier revenue view)."""
    mpd = _mpd()
    import pandas as pd

    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    f = li[(li.l_shipdate >= pd.Timestamp("1996-01-01")) & (li.l_shipdate < pd.Timestamp("1996-04-01"))]
    f["volume"] = f.l_extendedprice * (1 - f.l_discount)
    rev = f.groupby(["l_suppkey"]).agg(total_revenue=("volume", "sum")).reset_index()
    rev["total_revenue"] = _r(rev.total_revenue, 2)
    mx = float(rev.total_revenue.max())
    out = rev[rev.total_revenue == mx].merge(
        sup[["s_suppkey", "s_name"]], left_on="l_suppkey", right_on="s_suppkey", broadcast=True
    )[["s_suppkey", "s_name", "total_revenue"]]
    return out.to_spark(ordered=False)


def _q16_supplier_count(spark, sf):
    """TPC-H Q16 adapted: distinct positive-balance suppliers per
    (brand, type, size) over lineitem's part-supplier pairs."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    ps = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    p = part[(part.p_brand != "Brand#2") & (part.p_type != "PROMO") & part.p_size.isin([3, 9, 14, 19, 23, 36, 45, 49])]
    good = sup[sup.s_acctbal > 0][["s_suppkey"]]
    j = ps.merge(p[["p_partkey", "p_brand", "p_type", "p_size"]], left_on="l_partkey", right_on="p_partkey", broadcast=True)
    j = j.merge(good, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
    out = j.groupby(["p_brand", "p_type", "p_size"]).agg(supplier_cnt=("l_suppkey", "nunique")).reset_index()
    return (
        out.sort_values(["supplier_cnt", "p_brand", "p_type", "p_size"], ascending=[False, True, True, True])
        .head(40)
        .to_spark(ordered=False)
    )


def _q17_small_quantity(spark, sf):
    """TPC-H Q17: revenue from Brand#23 small-part orders below half the
    per-part average quantity. Integer quantities keep the correlated mean
    exact in both engines, so the < comparison cannot tie-break differently."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    p = part[(part.p_brand == "Brand#23") & (part.p_size < 15)][["p_partkey"]]
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    avg = j.groupby(["p_partkey"]).agg(avg_qty=("l_quantity", "mean")).reset_index()
    j2 = j.merge(avg, on="p_partkey")
    f = j2[j2.l_quantity < 0.5 * j2.avg_qty]
    total = float(f.l_extendedprice.sum())
    avg_yearly = round(round(total, 2) / 7.0, 6)
    return _lit_df(spark, "avg_yearly double", [(avg_yearly,)])


def _q18_large_volume(spark, sf):
    """TPC-H Q18: customers with orders totalling > 300 units."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    big = li.groupby(["l_orderkey"]).agg(sum_qty=("l_quantity", "sum")).reset_index()
    big = big[big.sum_qty > 300]
    j = big.merge(orders, left_on="l_orderkey", right_on="o_orderkey").merge(
        cust[["c_custkey", "c_name"]], left_on="o_custkey", right_on="c_custkey", broadcast=True
    )
    out = j[["c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"]]
    return out.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True]).head(20).to_spark(ordered=False)


def _q20_part_promotion(spark, sf):
    """TPC-H Q20 adapted: EUROPE suppliers that shipped > 400 units of
    small-named parts during 1996."""
    mpd = _mpd()
    import pandas as pd

    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    nat = mpd.read_parquet(f"{sf}/nation.parquet")
    reg = mpd.read_parquet(f"{sf}/region.parquet")
    part = mpd.read_parquet(f"{sf}/part.parquet")
    p = part[part.p_name.str.startswith("small")][["p_partkey"]]
    f = li[(li.l_shipdate >= pd.Timestamp("1996-01-01")) & (li.l_shipdate < pd.Timestamp("1997-01-01"))]
    f = f.merge(p, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    qty = f.groupby(["l_suppkey"]).agg(total_qty=("l_quantity", "sum")).reset_index()
    qty = qty[qty.total_qty > 400]
    j = (
        qty.merge(sup, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey", broadcast=True)
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey", broadcast=True)
    )
    out = j[j.r_name == "EUROPE"][["s_name", "s_acctbal", "total_qty"]]
    out["s_acctbal"] = _r(out.s_acctbal, 2)
    return out.sort_values(["s_name"]).to_spark(ordered=False)


def _q21_waiting_supplier(spark, sf):
    """TPC-H Q21 adapted: in finished multi-supplier orders, suppliers that
    were the sole returner (l_returnflag='R' stands in for late receipt);
    exists/not-exists expressed as per-order distinct-supplier counts."""
    mpd = _mpd()
    li = mpd.read_parquet(f"{sf}/lineitem.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    sup = mpd.read_parquet(f"{sf}/supplier.parquet")
    # two-stage aggregation instead of a double count-distinct: two nunique
    # columns make Catalyst EXPAND the 60M-row scan x3 before the partial
    # agg; pre-aggregating to distinct (order, supplier) pairs first (one
    # map-combined shuffle) then counting pairs per order avoids the expand
    # entirely — measured 31.6s -> 8.3s at the sf10 rung (ratio 10.1x -> 3.2x).
    # r15: _repartition(by=l_orderkey) pre-clusters the rows so BOTH groupbys
    # ((orderkey,suppkey) then (orderkey)) run partition-local off that one
    # exchange — 2 full-size lineitem exchanges -> 1 (partial agg saved
    # nothing: (orderkey,suppkey) is nearly unique in lineitem)
    li2 = li[["l_orderkey", "l_suppkey", "l_returnflag"]]
    li2["fail_supp"] = li2.l_suppkey.where(li2.l_returnflag == "R")
    li2 = li2._repartition(by="l_orderkey")
    pairs = li2.groupby(["l_orderkey", "l_suppkey"]).agg(r=("fail_supp", "max")).reset_index()
    st = (
        pairs.groupby(["l_orderkey"])
        .agg(ns=("l_suppkey", "count"), nf=("r", "count"), fs=("r", "max"))
        .reset_index()
    )
    j = st[(st.ns > 1) & (st.nf == 1)].merge(
        orders[orders.o_orderstatus == "F"][["o_orderkey"]], left_on="l_orderkey", right_on="o_orderkey"
    )
    w = j.groupby(["fs"]).agg(numwait=("l_orderkey", "count")).reset_index()
    out = w.merge(sup[["s_suppkey", "s_name"]], left_on="fs", right_on="s_suppkey", broadcast=True)[
        ["s_name", "numwait"]
    ]
    return out.sort_values(["numwait", "s_name"], ascending=[False, True]).head(20).to_spark(ordered=False)


def _q22_global_sales(spark, sf):
    """TPC-H Q22 adapted: rich customers (balance above the positive-balance
    mean, threshold rounded identically on both engines) with no URGENT
    orders, grouped by nationkey%5 (phone country code stand-in); anti-join
    via ~isin semi-join machinery."""
    mpd = _mpd()
    cust = mpd.read_parquet(f"{sf}/customer.parquet")
    orders = mpd.read_parquet(f"{sf}/orders.parquet")
    pos = cust[cust.c_acctbal > 0]
    total = float(pos.c_acctbal.sum())
    n = int(pos.c_acctbal.count())
    thr = round(round(total, 2) / n, 6)
    rich = cust[cust.c_acctbal > thr]
    urgent = orders[orders.o_orderpriority == "1-URGENT"]
    noord = rich[~rich.c_custkey.isin(urgent["o_custkey"])]
    noord["cntrycode"] = noord.c_nationkey % 5
    out = noord.groupby(["cntrycode"]).agg(numcust=("c_custkey", "count"), totacctbal=("c_acctbal", "sum")).reset_index()
    out["totacctbal"] = _r(out.totacctbal, 2)
    return out.to_spark(ordered=False)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# The driver scores a PREFIX of queries() (50 entries since r2). Ordering is
# therefore a rotation schedule. Round-13 prefix: (a) the 40 STALEST rows —
# everything last driver-scored in round 10, plus polars_pipeline which has
# NEVER been driver-scored (it was added in r12 after the prefix froze);
# then (b) 10 rows riding machinery changed in r13: the anchor-shifted
# expanding var/pair/pairwise accumulators, the batched-setitem projection
# buffer (str_funcs/rank_frame/dt_funcs-class build paths), the strict
# comparison-operator label check, and the non-poisoning Series type probes
# (dot_product: cross-series arithmetic). Everything r11/r12-scored is still
# checked locally every round via tools/check_entry.py (136/136).
# Round-14 prefix: (a) the one red r13 row (expanding_pair_cov — signed-zero
# collapse landed this round), the one never-driver-scored registry row
# (expanding_median_exact), and the new query (multimodal_jpeg_stats);
# (b) rows riding r14 machinery: the order_bucket_sql rewrite + selectExpr
# plan builds (rank/asof/sort/global-position/ngroup/packing), the
# vectorized expanding rank/quantile stage-2 kernels, the pct_change
# zero-division fix, the cut/value_counts label+guard fixes, and the image
# decode dispatch (PNG|JPEG sniff); (c) stalest fill — rows last driver-
# scored in round 11. Everything else stays verified each round by the full
# local sweep (tools/check_entry.py, 139/139 green at sf0.01).
# r15 rotation: (a) the two NEW rows (null-key transform gate, 4:2:0 JPEG);
# (b) rows riding r15 machinery — the order-bucket exponent clamp
# (rank/asof/sort), the groupby dropna guards (transform/filter/head/
# first_last/idxmax/median), the isin rewrite, corr(min_periods=), cum_op
# bool cast; (c) stalest fill — all 11 rows last scored in round 11, then
# round-12 rows. Everything else stays verified by the full local sweep
# (tools/check_entry.py, 141/141 green at sf0.01).
_R15_PREFIX = [
    # (a) must-score new
    "nullkey_group_transform", "multimodal_jpeg420_stats",
    "multimodal_jpeg_prog_stats", "multimodal_video_frames",
    "cat_unobserved_counts", "td_format_cumsum",
    # (b) r15 machinery
    "rank_min", "rank_frame", "asof_join", "asof_nearest", "sort_topk",
    "cumsum_by_group", "groupby_transform_demean", "groupby_filter_large",
    "groupby_head2", "groupby_first_last", "groupby_idxmax",
    "groupby_median_quantile", "isin_filter", "corr_cov", "ngroup_labels",
    # (c) stalest (last scored r11)
    "cube_agg", "docs_exact_dedup", "docs_norm_distinct", "docs_token_stats",
    "emb_ivf_recall", "emb_ivf_topk", "emb_lsh_recall", "emb_lsh_topk",
    "filter_project", "q1_pricing_summary", "q3_top_orders",
    # (c) stalest (last scored r12)
    "describe_stats", "docs_clean_corpus", "docs_fingerprint",
    "docs_langid_quality", "docs_minhash_dedup", "docs_ngram_dedup",
    "docs_simhash_dedup", "emb_cosine_dedup", "explode_words",
    "melt_unpivot", "multiindex3_cols_agg", "multiindex_cols_agg",
    "multiindex_regroup", "pivot_flag_status", "pivot_typed_keys",
    "q11_important_parts", "q12_priority_lines", "q15_top_supplier",
]

_R14_PREFIX = [
    # (a) must-score
    "expanding_pair_cov", "expanding_median_exact", "multimodal_jpeg_stats",
    # (b) r14 machinery
    "rank_min", "rank_frame", "asof_join", "asof_nearest", "sort_topk",
    "iloc_slice", "reset_index_roundtrip", "sort_labels_roundtrip",
    "ngroup_labels", "docs_pack_sequences", "range_join_buckets",
    "frame_value_counts", "concat_dup_labels", "expanding_rank_pct",
    "expanding_median_p90", "pct_change_value", "cut_buckets",
    "value_counts", "qcut_quartiles", "multimodal_png_stats",
    "multimodal_features", "multimodal_media_meta",
    # (c) stalest (last scored r11)
    "excel_ingest", "fwf_ingest", "transpose_wide_roundtrip",
    "transpose_mixed", "apply_axis0_strings", "apply_axis0_vcounts",
    "apply_axis0_mi_reshape", "apply_axis0_zscore", "transpose_agg",
    "transpose_multiindex_roundtrip", "rolling_mean", "rolling_time_sum",
    "grouped_rolling_time", "merge_left_fillna", "q5_nation_revenue",
    "q2_min_cost_supplier", "q9_profit_by_nation", "q10_returned_revenue",
    "q13_order_distribution", "distinct_dedup", "get_dummies_sum",
    "groupby_multi_agg", "groupby_nunique", "cumsum_by_group",
    "numpy_zscore",
]

_R13_PREFIX = [
    # (a) stalest: never scored / last scored round 10
    "polars_pipeline", "anti_join_customers", "asof_join", "asof_nearest",
    "concat_cols_aligned", "crosstab_counts", "docs_chunk_windows",
    "docs_decontaminate", "docs_domain_cap", "docs_jaccard_pairs",
    "docs_mixture_sample", "docs_pack_sequences", "docs_paragraph_dedup",
    "docs_pii_scrub", "docs_repetition", "docs_shard_layout",
    "docs_stratified_sample", "docs_topk_ngrams", "emb_brute_topk",
    "emb_ivf_exhaustive", "emb_label_centroids", "emb_quality_filter",
    "ewm_mean", "expanding_median_p90", "mode_quantity", "ngroup_labels",
    "pct_change_value", "q14_promo_revenue", "q6_forecast_revenue",
    "q8_market_share", "rank_frame", "rank_min", "resample_ffill",
    "resample_interp", "rolling_corr_pair", "shift_diff", "sql_interface",
    "str_funcs", "where_clip", "win_weighted_var",
    # (b) rows on machinery changed in r13
    "expanding_pair_cov", "rolling_pair_corr", "expanding_stats",
    "dt_funcs", "case_when", "groupby_filter_large", "dot_product",
    "concat_union", "docs_normalize_text", "expanding_rank_pct",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_q = {
        # (r10) new machinery: reset_index positional labels, distributed
        # frame value_counts, blocked ngroup numbering
        "reset_index_roundtrip": _reset_index_roundtrip,
        "frame_value_counts": _frame_value_counts,
        "ngroup_labels": _ngroup_labels,
        "numpy_zscore": _numpy_zscore,
        "sort_labels_roundtrip": _sort_labels_roundtrip,
        # (a) round-6 new machinery first, then never-scored
        "excel_ingest": _excel_ingest,
        "fwf_ingest": _fwf_ingest,
        "transpose_wide_roundtrip": _transpose_wide_roundtrip,
        "transpose_mixed": _transpose_mixed,
        "apply_axis0_strings": _apply_axis0_strings,
        "apply_axis0_vcounts": _apply_axis0_vcounts,
        "apply_axis0_mi_reshape": _apply_axis0_mi_reshape,
        "docs_decontaminate": _docs_decontaminate,
        "docs_pack_sequences": _docs_pack_sequences,
        "docs_shard_layout": _docs_shard_layout,
        "docs_chunk_windows": _docs_chunk_windows,
        "docs_stratified_sample": _docs_stratified_sample,
        "docs_mixture_sample": _docs_mixture_sample,
        "docs_domain_cap": _docs_domain_cap,
        "docs_topk_ngrams": _docs_topk_ngrams,
        "emb_label_centroids": _emb_label_centroids,
        "emb_ivf_exhaustive": _emb_ivf_exhaustive,
        "emb_quality_filter": _emb_quality_filter,
        "apply_axis0_zscore": _apply_axis0_zscore,
        "transpose_agg": _transpose_agg,
        "transpose_multiindex_roundtrip": _transpose_multiindex_roundtrip,
        "win_weighted_var": _win_weighted_var,
        "multiindex_cols_agg": _multiindex_cols_agg,
        "multiindex3_cols_agg": _multiindex3_cols_agg,
        "concat_dup_labels": _concat_dup_labels,
        "docs_pii_scrub": _docs_pii_scrub,
        "docs_repetition": _docs_repetition,
        "docs_paragraph_dedup": _docs_paragraph_dedup,
        # (b) newly oracled this round
        "emb_cosine_dedup": _emb_cosine_dedup,
        "docs_ngram_dedup": _docs_ngram_dedup,
        "multimodal_features": _multimodal_features,
        "multimodal_png_stats": _multimodal_png_stats,
        "multimodal_jpeg_stats": _multimodal_jpeg_stats,
        "multimodal_jpeg420_stats": _multimodal_jpeg420_stats,
        "multimodal_jpeg_prog_stats": _multimodal_jpeg_prog_stats,
        "multimodal_video_frames": _multimodal_video_frames,
        "cat_unobserved_counts": _cat_unobserved_counts,
        "td_format_cumsum": _td_format_cumsum,
        "multimodal_media_meta": _multimodal_media_meta,
        # (c) machinery touched this round
        "rolling_mean": _rolling_mean,
        "rolling_corr_pair": _rolling_corr_pair,
        "rolling_time_sum": _rolling_time_sum,
        "rolling_pair_corr": _rolling_pair_corr,
        "expanding_pair_cov": _expanding_pair_cov,
        "grouped_rolling_time": _grouped_rolling_time,
        "polars_pipeline": _polars_pipeline,
        "ewm_mean": _ewm_mean,
        "expanding_median_p90": _expanding_median_p90,
        "q8_market_share": _q8_market_share,
        "q14_promo_revenue": _q14_promo_revenue,
        # (c2) machinery touched in the continuation session (rank na_option
        # refactor, pct_change pad, resample closed/label plumbing, pivot
        # backtick quoting, crosstab margins path, mode tie handling, asof
        # suffixing, grouped-transform null ordering)
        "rank_min": _rank_min,
        "rank_frame": _rank_frame,
        "pct_change_value": _pct_change_value,
        "resample_hourly": _resample_hourly,
        "resample_ffill": _resample_ffill,
        "resample_interp": _resample_interp,
        "crosstab_counts": _crosstab_counts,
        "mode_quantity": _mode_quantity,
        "asof_join": _asof_join,
        "shift_diff": _shift_diff,
        "melt_unpivot": _melt_unpivot,
        # (d) stalest green rows (last scored r2), current relative order
        "asof_nearest": _asof_nearest,
        # ---- r5 machinery-changed: merge null-safe/statistics planning,
        # clip null guard, skipna reductions — re-queued for driver rows ----
        "merge_left_fillna": _merge_left_fillna,
        "q5_nation_revenue": _q5,
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q9_profit_by_nation": _q9_profit_by_nation,
        "q10_returned_revenue": _q10_returned_revenue,
        "q13_order_distribution": _q13_order_distribution,
        "anti_join_customers": _anti_join_customers,
        "where_clip": _where_clip,
        "q6_forecast_revenue": _q6,
        "corr_cov": _corr_cov,
        "cut_buckets": _cut_buckets,
        "distinct_dedup": _distinct_dedup,
        "get_dummies_sum": _get_dummies_sum,
        "pivot_flag_status": _pivot_flag_status,
        "pivot_typed_keys": _pivot_typed_keys,
        "unstack_fill": _unstack_fill,
        "groupby_multi_agg": _groupby_multi_agg,
        "groupby_nunique": _groupby_nunique,
        "cumsum_by_group": _cumsum_by_group,
        "nullkey_group_transform": _nullkey_group_transform,
        "q1_pricing_summary": _q1,
        "q3_top_orders": _q3,
        "concat_cols_aligned": _concat_cols_aligned,
        "docs_exact_dedup": _docs_exact_dedup,
        "filter_project": _filter_project,
        "groupby_idxmax": _groupby_idxmax,
        "groupby_median_quantile": _groupby_median_quantile,
        "iloc_slice": _iloc_slice,
        "isin_filter": _isin_filter,
        "multiindex_regroup": _multiindex_regroup,
        "sort_topk": _sort_topk,
        "str_funcs": _str_funcs,
        "case_when": _case_when,
        "concat_union": _concat_union,
        "cube_agg": _cube_agg,
        "docs_token_stats": _docs_token_stats,
        "docs_normalize_text": _docs_normalize_text,
        "dot_product": _dot_product,
        "query_eval": _query_eval,
        "sql_interface": _sql_interface,
        "value_counts": _value_counts,
        # ---- past the scored prefix: r3-green rows + rows-only ops ----
        "docs_norm_distinct": _docs_norm_distinct,
        "docs_minhash_dedup": _docs_minhash_dedup,
        "docs_simhash_dedup": _docs_simhash_dedup,
        "emb_lsh_topk": _emb_lsh_topk,
        "emb_ivf_topk": _emb_ivf_topk,
        "emb_lsh_recall": _emb_lsh_recall,
        "emb_ivf_recall": _emb_ivf_recall,
        "dt_funcs": _dt_funcs,
        "q4_priority_returned": _q4_priority_returned,
        "q7_volume_shipping": _q7_volume_shipping,
        "q11_important_parts": _q11_important_parts,
        "q12_priority_lines": _q12_priority_lines,
        "q15_top_supplier": _q15_top_supplier,
        "q16_supplier_count": _q16_supplier_count,
        "q17_small_quantity": _q17_small_quantity,
        "q18_large_volume": _q18_large_volume,
        "q19_brand_filter": _q19_brand_filter,
        "q20_part_promotion": _q20_part_promotion,
        "q21_waiting_supplier": _q21_waiting_supplier,
        "q22_global_sales": _q22_global_sales,
        "explode_words": _explode_words,
        "qcut_quartiles": _qcut_quartiles,
        "expanding_stats": _expanding_stats,
        "expanding_rank_pct": _expanding_rank_pct,
        "expanding_median_exact": _expanding_median_exact,
        "groupby_transform_demean": _groupby_transform_demean,
        "groupby_filter_large": _groupby_filter_large,
        "groupby_head2": _groupby_head2,
        "groupby_first_last": _groupby_first_last,
        "describe_stats": _describe_stats,
        "rollup_agg": _rollup_agg,
        "range_join_buckets": _range_join_buckets,
        "docs_fingerprint": _docs_fingerprint,
        "docs_langid_quality": _docs_langid_quality,
        "docs_clean_corpus": _docs_clean_corpus,
        "docs_jaccard_pairs": _docs_jaccard_pairs,
        "emb_brute_topk": _emb_brute_topk,
    }
    ordered = {k: all_q[k] for k in _R15_PREFIX}
    ordered.update({k: v for k, v in all_q.items() if k not in ordered})
    return ordered


def _lsh_code_sql(col: str) -> str:
    """DuckDB expression recomputing similarity.hyperplane_bucket's packed
    code from the SAME seeded matrix (numpy default_rng(_PLANE_SEED + dim),
    dim=64, planes=8), embedded as literal ±1 vectors."""
    import numpy as np

    rng = np.random.default_rng(1469598103 + 64)
    mat = rng.choice([-1.0, 1.0], size=(64, 8))
    terms = []
    for p in range(8):
        vec = ", ".join("1.0" if v > 0 else "-1.0" for v in mat[:, p])
        terms.append(
            f"(CASE WHEN LIST_DOT_PRODUCT({col}, [{vec}]) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _shingle_hash_cte(k: int) -> str:
    """DuckDB CTEs rebuilding dedup's word k-shingles and their md5_hash60
    base hashes (60-bit: first 15 hex digits of md5) — bit-identical to the
    Spark md5-mode pipeline (dedup.shingles + dedup.md5_hash60)."""
    return f"""
        w AS (
            SELECT doc_id, n_chars,
                   list_filter(
                       string_split_regex(
                           regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+'),
                       x -> x <> '') AS words
            FROM documents
        ),
        hv AS (
            SELECT doc_id, n_chars,
                   list_transform(
                       CASE WHEN len(words) >= {k}
                            THEN list_transform(range(len(words) - {k - 1}),
                                     i -> array_to_string(words[i+1:i+{k}], ' '))
                            ELSE [array_to_string(words, ' ')] END,
                       s -> CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT)
                   ) AS h
            FROM w
        )"""


def _minhash_sig_sql(num_perm: int = 128) -> str:
    """One SQL array expression per the 128 universal-hash permutations:
    lane_i = unsigned min over shingle hashes of (a_i*x + b_i) mod 2^64 —
    HUGEINT math replays numpy's wrapping uint64 exactly (dedup._perm_coeffs
    literals; x is the 60-bit md5 hash, so a*x+b < 2^123 fits HUGEINT)."""
    mh_a, mh_b = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F
    mask63 = (1 << 63) - 1
    terms = []
    for i in range(num_perm):
        a = (mh_a * (2 * i + 1)) & mask63
        b = (mh_b * (i + 1)) & mask63
        terms.append(
            f"list_min(list_transform(h, x -> ({a}::HUGEINT * x + {b}) % 18446744073709551616::HUGEINT))"
        )
    return "[" + ", ".join(terms) + "]"


def _simhash_word_sql() -> str:
    """SQL expression for the 64-bit SimHash word from the per-doc hash list
    ``h``: bit b set iff the majority of shingle hashes carry bit b. Hashes
    are 60-bit, so bits 60-63 never vote positive (identical in the Spark
    md5-mode word, dedup.text_simhash_md5)."""
    terms = [
        f"(CASE WHEN 2 * list_sum(list_transform(h, x -> (x >> {b}) & 1)) > len(h) "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(60)
    ]
    return "(" + " + ".join(terms) + ")"


def oracle_sql() -> dict[str, str]:
    lsh_recall_sql = f"""
        WITH {_CORPUS_SQL},
        codes AS (SELECT vec_id, embedding, {_lsh_code_sql('embedding')} AS code FROM corpus),
        qcodes AS (SELECT q_id, q_vec, {_lsh_code_sql('q_vec')} AS code FROM q),
        cand AS (
            SELECT qc.q_id, c.vec_id, c.embedding, qc.q_vec
            FROM qcodes qc JOIN codes c ON bit_count(xor(qc.code, c.code)) <= 2
        ),
        lsh AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY LIST_COSINE_SIMILARITY(embedding, q_vec) DESC, vec_id) rk
                FROM cand
            ) WHERE rk <= 5
        )
        SELECT 20 AS n_queries, ROUND(COUNT(*) / 100.0, 3) AS recall_at_5
        FROM brute b JOIN lsh l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
    """
    ivf_recall_sql = f"""
        WITH {_CORPUS_SQL},
        cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
        assign AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT c.vec_id, c.embedding, k.cid,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(c.embedding, k.cvec) DESC, k.cid) rk
                FROM corpus c, cents k
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT q_id, cid, q_vec FROM (
                SELECT q.q_id, k.cid, q.q_vec,
                       ROW_NUMBER() OVER (PARTITION BY q.q_id
                           ORDER BY LIST_COSINE_SIMILARITY(q.q_vec, k.cvec) DESC, k.cid) rk
                FROM q, cents k
            ) WHERE rk <= 4
        ),
        cand AS (
            SELECT qp.q_id, a.vec_id, a.embedding, qp.q_vec
            FROM qprobe qp JOIN assign a USING (cid)
        ),
        ivf AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                           ORDER BY LIST_COSINE_SIMILARITY(embedding, q_vec) DESC, vec_id) rk
                FROM cand
            ) WHERE rk <= 5
        )
        SELECT 20 AS n_queries, ROUND(COUNT(*) / 100.0, 3) AS recall_at_5
        FROM brute b JOIN ivf l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
    """
    # r7: the same hyperplane/quantizer replays promote the top-k queries
    # themselves (not just the recall metrics) to exact oracle rows
    lsh_topk_sql = f"""
        WITH codes AS (
            SELECT vec_id, embedding, {_lsh_code_sql('embedding')} AS code
            FROM embeddings
        ),
        qs AS (
            SELECT vec_id AS q_id, embedding AS q_vec, code AS qcode
            FROM codes WHERE vec_id < 3
        ),
        cand AS (
            SELECT q.q_id, c.vec_id, c.embedding, q.q_vec
            FROM qs q JOIN codes c ON bit_count(xor(q.qcode, c.code)) <= 2
        )
        SELECT q_id, vec_id, ROUND(cos_sim, 4) AS cos_sim, rank FROM (
            SELECT q_id, vec_id,
                   LIST_COSINE_SIMILARITY(embedding, q_vec) AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY LIST_COSINE_SIMILARITY(embedding, q_vec) DESC,
                                vec_id) AS rank
            FROM cand
        ) WHERE rank <= 5
    """
    ivf_topk_sql = """
        WITH cents AS (
            SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16
        ),
        assign AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT c.vec_id, c.embedding, k.cid,
                       ROW_NUMBER() OVER (PARTITION BY c.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(c.embedding, k.cvec) DESC, k.cid) rk
                FROM embeddings c, cents k
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT q_id, cid, q_vec FROM (
                SELECT q.vec_id AS q_id, k.cid, q.embedding AS q_vec,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(q.embedding, k.cvec) DESC, k.cid) rk
                FROM (SELECT * FROM embeddings WHERE vec_id < 3) q, cents k
            ) WHERE rk <= 4
        ),
        cand AS (
            SELECT qp.q_id, a.vec_id, a.embedding, qp.q_vec
            FROM qprobe qp JOIN assign a USING (cid)
        )
        SELECT q_id, vec_id, ROUND(cos_sim, 4) AS cos_sim, rank FROM (
            SELECT q_id, vec_id,
                   LIST_COSINE_SIMILARITY(embedding, q_vec) AS cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY LIST_COSINE_SIMILARITY(embedding, q_vec) DESC,
                                vec_id) AS rank
            FROM cand
        ) WHERE rank <= 5
    """
    # r7: full-pipeline replays of the md5-mode MinHash-LSH / SimHash dedups
    minhash_dedup_sql = f"""
        WITH {_shingle_hash_cte(5)},
        sig AS (
            SELECT doc_id, {_minhash_sig_sql(128)} AS sig FROM hv
        ),
        bk AS (
            SELECT doc_id, sig[band*4+1:band*4+4] AS key, band
            FROM (SELECT doc_id, sig, unnest(range(32)) AS band FROM sig)
        ),
        okkeys AS (
            SELECT band, key, count(*) AS m, min(doc_id) AS mn
            FROM bk GROUP BY band, key
            HAVING count(*) >= 2
        ),
        cand AS (
            -- over-cap buckets expand as a STAR against the bucket min
            -- (dedup.minhash_candidate_pairs max_bucket_size=1000), not
            -- all-pairs
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bk a JOIN okkeys o USING (band, key)
                 JOIN bk b ON a.band = b.band AND a.key = b.key
                          AND a.doc_id < b.doc_id
            WHERE o.m <= 1000 OR a.doc_id = o.mn
        ),
        ver AS (
            SELECT c.id_a, c.id_b
            FROM cand c
                 JOIN sig sa ON sa.doc_id = c.id_a
                 JOIN sig sb ON sb.doc_id = c.id_b
            WHERE list_sum(list_transform(range(128),
                      i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END
                  )) / 128.0 >= 0.8
        )
        SELECT CAST(count(*) AS BIGINT) AS n_after,
               CAST(sum(n_chars) AS BIGINT) AS chars_after
        FROM documents
        WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver)
    """
    simhash_dedup_sql = f"""
        WITH {_shingle_hash_cte(3)},
        sw AS (
            SELECT doc_id, {_simhash_word_sql()} AS word FROM hv
        ),
        bk AS (
            SELECT doc_id, word, band, (word >> (band*16)) & 65535 AS key
            FROM (SELECT doc_id, word, unnest(range(4)) AS band FROM sw)
        ),
        sizes AS (
            SELECT band, key, count(*) AS m, min(doc_id) AS mn
            FROM bk GROUP BY band, key
        ),
        ver AS (
            -- over-cap band buckets expand as a STAR against the bucket min
            -- (dedup.simhash_dedup max_bucket_size=1000), not all-pairs
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bk a JOIN sizes o ON a.band = o.band AND a.key = o.key
                 JOIN bk b ON a.band = b.band AND a.key = b.key
                          AND a.doc_id < b.doc_id
            WHERE (o.m <= 1000 OR a.doc_id = o.mn)
              AND bit_count(xor(a.word, b.word)) <= 3
        )
        SELECT CAST(count(*) AS BIGINT) AS n_after
        FROM documents
        WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver)
    """
    mi3_cols = ",\n".join(
        f"ROUND(SUM(CASE WHEN l_returnflag='{f}' AND l_linestatus='{s}' THEN l_quantity END), 2) AS sum_{f}_{s},\n"
        f"CAST(COUNT(CASE WHEN l_returnflag='{f}' AND l_linestatus='{s}' THEN 1 END) AS BIGINT) AS count_{f}_{s}"
        for f, s in _LI_COMBOS
    )
    multiindex3_sql = f"""
        SELECT l_linenumber, {mi3_cols}
        FROM lineitem GROUP BY l_linenumber
    """
    return {
        "emb_lsh_recall": lsh_recall_sql,
        "emb_ivf_recall": ivf_recall_sql,
        "emb_lsh_topk": lsh_topk_sql,
        "emb_ivf_topk": ivf_topk_sql,
        "docs_minhash_dedup": minhash_dedup_sql,
        "docs_simhash_dedup": simhash_dedup_sql,
        "multiindex3_cols_agg": multiindex3_sql,
        "concat_dup_labels": """
            SELECT n_nationkey AS k1, n_regionkey AS r, n_nationkey AS k2
            FROM nation WHERE n_regionkey < 3
        """,
        "fwf_ingest": """
            SELECT n_regionkey,
                   COUNT(*) AS n_nations,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        "transpose_wide_roundtrip": """
            WITH s AS (
                SELECT o_orderkey, o_custkey, o_totalprice
                FROM orders ORDER BY o_orderkey LIMIT 500
            )
            SELECT 'o_orderkey' AS col, ROUND(SUM(o_orderkey), 2) AS total FROM s
            UNION ALL
            SELECT 'o_custkey', ROUND(SUM(o_custkey), 2) FROM s
            UNION ALL
            SELECT 'o_totalprice', ROUND(SUM(o_totalprice), 2) FROM s
        """,
        "excel_ingest": """
            SELECT n_regionkey,
                   COUNT(*) AS n_nations,
                   CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
        """,
        "apply_axis0_strings": """
            SELECT CAST(doc_id + 1000 AS BIGINT) AS doc_id,
                   upper(lang) AS lang_up
            FROM documents
        """,
        "apply_axis0_vcounts": """
            WITH rf AS (SELECT l_returnflag AS v, COUNT(*) AS c FROM lineitem GROUP BY 1),
                 ls AS (SELECT l_linestatus AS v, COUNT(*) AS c FROM lineitem GROUP BY 1)
            SELECT COALESCE(rf.v, ls.v) AS val,
                   CAST(rf.c AS DOUBLE) AS rf_count,
                   CAST(ls.c AS DOUBLE) AS ls_count
            FROM rf FULL OUTER JOIN ls ON rf.v = ls.v
        """,
        "apply_axis0_mi_reshape": """
            WITH s AS (SELECT source AS v, COUNT(*) AS c FROM documents GROUP BY 1),
                 lb AS (SELECT CAST(n_chars // 200 AS VARCHAR) AS v, COUNT(*) AS c
                        FROM documents GROUP BY 1)
            SELECT COALESCE(s.v, lb.v) AS val,
                   CAST(s.c AS DOUBLE) AS src_count,
                   CAST(lb.c AS DOUBLE) AS lb_count
            FROM s FULL OUTER JOIN lb ON s.v = lb.v
        """,
        "transpose_mixed": """
            SELECT 'name_lc' AS stat,
                   MAX(CASE WHEN r_name='AFRICA' THEN lower(r_name) END) AS "AFRICA",
                   MAX(CASE WHEN r_name='AMERICA' THEN lower(r_name) END) AS "AMERICA",
                   MAX(CASE WHEN r_name='ASIA' THEN lower(r_name) END) AS "ASIA",
                   MAX(CASE WHEN r_name='EUROPE' THEN lower(r_name) END) AS "EUROPE",
                   MAX(CASE WHEN r_name='MIDDLE EAST' THEN lower(r_name) END) AS "MIDDLE EAST"
            FROM region
            UNION ALL
            SELECT 'r_regionkey',
                   MAX(CASE WHEN r_name='AFRICA' THEN CAST(r_regionkey AS VARCHAR) END),
                   MAX(CASE WHEN r_name='AMERICA' THEN CAST(r_regionkey AS VARCHAR) END),
                   MAX(CASE WHEN r_name='ASIA' THEN CAST(r_regionkey AS VARCHAR) END),
                   MAX(CASE WHEN r_name='EUROPE' THEN CAST(r_regionkey AS VARCHAR) END),
                   MAX(CASE WHEN r_name='MIDDLE EAST' THEN CAST(r_regionkey AS VARCHAR) END)
            FROM region
        """,
        "rolling_time_sum": """
            SELECT ts,
                   ROUND(SUM(value) OVER (ORDER BY ts
                     RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW), 2) AS r_sum
            FROM events
        """,
        "polars_pipeline": """
            SELECT c_name, c_mktsegment,
                   ROUND(spend, 2) AS spend, n_orders
            FROM (
              SELECT o_custkey, SUM(o_totalprice) AS spend,
                     COUNT(*) AS n_orders
              FROM orders WHERE o_totalprice > 100000
              GROUP BY o_custkey
            ) a JOIN customer ON o_custkey = c_custkey
            ORDER BY spend DESC, c_name ASC LIMIT 25
        """,
        "grouped_rolling_time": """
            SELECT event_type, ts,
                   ROUND(SUM(value) OVER (PARTITION BY event_type ORDER BY ts
                     RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW), 2) AS r_sum
            FROM events
            WHERE event_type IS NOT NULL
        """,
        "docs_clean_corpus": """
            WITH t AS (
              SELECT doc_id,
                (list_sort([
                  {'s': len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|in|is|that|for|with|was)\\b')), 'l': 'en'},
                  {'s': len(regexp_extract_all(lower(text), '\\b(?:der|die|und|das|ist|nicht|ein|mit|auf|f\u00fcr)\\b')), 'l': 'de'},
                  {'s': len(regexp_extract_all(lower(text), '\\b(?:le|la|les|et|des|est|dans|que|une|pour)\\b')), 'l': 'fr'},
                  {'s': len(regexp_extract_all(lower(text), '\\b(?:el|la|los|que|de|en|es|una|por|con)\\b')), 'l': 'es'},
                  {'s': 0, 'l': 'und'}])[5]).l AS lang_pred,
                least(greatest(
                  (0.3 * (CASE WHEN len(regexp_extract_all(text, '\\S+')) BETWEEN 10 AND 10000 THEN 1.0
                               WHEN len(regexp_extract_all(text, '\\S+')) >= 5 THEN 0.5 ELSE 0.0 END)
                   + 0.25 * (len(regexp_extract_all(text, '\\p{L}')) / greatest(length(text), 1))
                   + 0.2 * (CASE WHEN len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|in|is|that|for|with|was)\\b')) > 0 THEN 1.0 ELSE 0.0 END)
                   + 0.15 * (CASE WHEN (length(text) / greatest(len(regexp_extract_all(text, '\\S+')), 1)) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END))
                  * (CASE WHEN len(regexp_extract_all(text, '[!?.]{3,}')) > 0 THEN 0.5 ELSE 1.0 END) + 0.1,
                  0.0), 1.0) AS q,
                len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
                array_to_string(list_filter(string_split_regex(
                  regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r]', ' ', 'g'), '\\s+'), x -> x <> ''), ' ') AS norm
              FROM documents
            ), rep AS (
              SELECT arg_min(lang_pred, doc_id) AS lang_pred, arg_min(q, doc_id) AS q,
                     arg_min(n_tokens, doc_id) AS n_tokens
              FROM t GROUP BY norm
            )
            SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   ROUND(AVG(q), 4) AS avg_quality
            FROM rep
            WHERE lang_pred = 'en' AND q >= 0.5 AND n_tokens BETWEEN 10 AND 10000
        """,
        "docs_langid_quality": """
            WITH t AS (
              SELECT
                len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|in|is|that|for|with|was)\\b')) AS c_en,
                len(regexp_extract_all(lower(text), '\\b(?:der|die|und|das|ist|nicht|ein|mit|auf|f\u00fcr)\\b')) AS c_de,
                len(regexp_extract_all(lower(text), '\\b(?:le|la|les|et|des|est|dans|que|une|pour)\\b')) AS c_fr,
                len(regexp_extract_all(lower(text), '\\b(?:el|la|los|que|de|en|es|una|por|con)\\b')) AS c_es,
                length(text) AS n_chars,
                len(regexp_extract_all(text, '\\S+')) AS n_words,
                len(regexp_extract_all(text, '\\p{L}')) AS alpha_chars,
                len(regexp_extract_all(text, '[!?.]{3,}')) AS punct_runs
              FROM documents
            ), s AS (
              SELECT
                -- same argmax tie-break as Spark's greatest(struct(s,l)):
                -- max score, then lexicographically greatest language code
                (list_sort([
                  {'s': c_en, 'l': 'en'}, {'s': c_de, 'l': 'de'},
                  {'s': c_fr, 'l': 'fr'}, {'s': c_es, 'l': 'es'},
                  {'s': 0,    'l': 'und'}])[5]).l AS lang_pred,
                least(greatest(
                  (0.3 * (CASE WHEN n_words BETWEEN 10 AND 10000 THEN 1.0 WHEN n_words >= 5 THEN 0.5 ELSE 0.0 END)
                   + 0.25 * (alpha_chars / greatest(n_chars, 1))
                   + 0.2 * (CASE WHEN c_en > 0 THEN 1.0 ELSE 0.0 END)
                   + 0.15 * (CASE WHEN (n_chars / greatest(n_words, 1)) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.3 END))
                  * (CASE WHEN punct_runs > 0 THEN 0.5 ELSE 1.0 END) + 0.1,
                  0.0), 1.0) AS q
              FROM t
            )
            SELECT lang_pred, COUNT(*) AS n, ROUND(AVG(q), 4) AS avg_quality
            FROM s GROUP BY lang_pred
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 4) AS avg_price,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   ROUND(l_extendedprice * 0.95, 4) AS disc_price
            FROM lineitem WHERE l_quantity > 45
        """,
        "merge_left_fillna": """
            SELECT l_returnflag,
                   ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS total,
                   COUNT(o_orderkey) AS n_null
            FROM lineitem
            LEFT JOIN (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000) o
              ON l_orderkey = o_orderkey
            GROUP BY l_returnflag
        """,
        "sort_topk": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC LIMIT 20
        """,
        "distinct_dedup": """
            SELECT o_orderpriority, COUNT(*) AS n FROM (
                SELECT DISTINCT o_custkey, o_orderpriority FROM orders
            ) GROUP BY o_orderpriority
        """,
        "value_counts": """
            SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
        """,
        "frame_value_counts": """
            SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
            FROM orders GROUP BY o_orderpriority, o_orderstatus
        """,
        "reset_index_roundtrip": """
            WITH base AS (
                SELECT c_mktsegment, c_acctbal,
                       ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS lbl
                FROM customer
            )
            SELECT c_mktsegment, COUNT(*) AS n,
                   MIN(lbl) AS min_lbl, MAX(lbl) AS max_lbl,
                   CAST(SUM(lbl) AS BIGINT) AS sum_lbl
            FROM base WHERE c_acctbal > 500 GROUP BY c_mktsegment
        """,
        "sort_labels_roundtrip": """
            WITH base AS (
                SELECT c_acctbal,
                       ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS lbl
                FROM customer
            ),
            perm AS (
                SELECT lbl,
                       ROW_NUMBER() OVER (ORDER BY c_acctbal, lbl) - 1 AS pos
                FROM base
            )
            SELECT COUNT(*) AS n, CAST(SUM(lbl * pos) AS BIGINT) AS checksum
            FROM perm
        """,
        "numpy_zscore": """
            WITH s AS (
                SELECT AVG(l_quantity) mq, STDDEV_SAMP(l_quantity) sq,
                       AVG(l_extendedprice) mp, STDDEV_SAMP(l_extendedprice) sp
                FROM lineitem
            )
            SELECT 'l_extendedprice' AS col,
                   ROUND(MAX(ABS((l_extendedprice - mp) / sp)), 6) AS abs_z_max,
                   ROUND(SUM(POW((l_extendedprice - mp) / sp, 2)), 2) AS z_sq_sum
            FROM lineitem, s GROUP BY mp, sp
            UNION ALL
            SELECT 'l_quantity',
                   ROUND(MAX(ABS((l_quantity - mq) / sq)), 6),
                   ROUND(SUM(POW((l_quantity - mq) / sq, 2)), 2)
            FROM lineitem, s GROUP BY mq, sq
        """,
        "ngroup_labels": """
            WITH ng AS (
                SELECT o_orderpriority, o_orderkey,
                       DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS g
                FROM orders
            )
            SELECT o_orderpriority, MIN(g) AS ng, COUNT(o_orderkey) AS n
            FROM ng GROUP BY o_orderpriority
        """,
        "groupby_multi_agg": """
            SELECT c_mktsegment,
                   COUNT(c_custkey) AS n,
                   ROUND(SUM(c_acctbal), 2) AS total_bal,
                   ROUND(AVG(c_acctbal), 4) AS avg_bal,
                   ROUND(MIN(c_acctbal), 2) AS min_bal,
                   ROUND(MAX(c_acctbal), 2) AS max_bal,
                   ROUND(STDDEV_SAMP(c_acctbal), 4) AS std_bal
            FROM customer GROUP BY c_mktsegment
        """,
        "groupby_nunique": """
            SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS n_parts,
                   COUNT(DISTINCT l_suppkey) AS n_supps
            FROM lineitem GROUP BY l_returnflag
        """,
        "groupby_median_quantile": """
            SELECT l_returnflag,
                   ROUND(MEDIAN(l_quantity), 4) AS med_qty,
                   ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "groupby_idxmax": """
            WITH mx AS (
                SELECT o_orderpriority, MAX(o_totalprice) AS max_price
                FROM orders GROUP BY o_orderpriority
            )
            SELECT o.o_orderpriority, ROUND(mx.max_price, 2) AS max_price, o.o_orderkey
            FROM orders o JOIN mx
              ON o.o_orderpriority = mx.o_orderpriority AND o.o_totalprice = mx.max_price
        """,
        "cumsum_by_group": """
            SELECT o_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_price
            FROM orders
        """,
        "nullkey_group_transform": """
            WITH t AS (
                SELECT o_orderkey, o_totalprice,
                       CASE WHEN o_custkey % 7 = 0 THEN NULL
                            ELSE o_orderpriority END AS k
                FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN k IS NULL THEN -1.0
                        ELSE ROUND(AVG(o_totalprice) OVER (PARTITION BY k), 2)
                   END AS grp_mean,
                   CASE WHEN k IS NULL THEN -1.0
                        ELSE ROUND(SUM(o_totalprice) OVER (
                            PARTITION BY k ORDER BY o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   END AS grp_cumsum,
                   CASE WHEN k IS NULL THEN -1.0
                        ELSE CAST(RANK() OVER (
                            PARTITION BY k ORDER BY o_totalprice) AS DOUBLE)
                   END AS grp_rank
            FROM t
        """,
        "shift_diff": """
            SELECT event_id,
                   ROUND(COALESCE(value - LAG(value) OVER (ORDER BY event_id), 0), 4) AS value_diff
            FROM events
        """,
        "rolling_mean": """
            SELECT event_id,
                   ROUND(CASE WHEN ROW_NUMBER() OVER (ORDER BY event_id) >= 7
                         THEN AVG(value) OVER (ORDER BY event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                         ELSE -1.0 END, 4) AS roll_mean
            FROM events
        """,
        "rank_min": """
            SELECT o_orderkey,
                   RANK() OVER (ORDER BY o_totalprice) AS price_rank
            FROM orders
        """,
        "rolling_pair_corr": """
            WITH lagged AS (
                SELECT event_id, value,
                       LAG(value) OVER (ORDER BY event_id) AS lv
                FROM events
            )
            SELECT event_id,
                   ROUND(COALESCE(CASE WHEN SUM(CASE WHEN value IS NOT NULL AND lv IS NOT NULL THEN 1 ELSE 0 END)
                                        OVER (ORDER BY event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) >= 7
                         THEN CORR(value, lv) OVER (ORDER BY event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                         END, -9.0), 4) AS pair_corr
            FROM lagged
        """,
        "expanding_pair_cov": """
            WITH lagged AS (
                SELECT event_id, value,
                       LAG(value, 2) OVER (ORDER BY event_id) AS lv
                FROM events
            )
            SELECT event_id,
                   ROUND(COALESCE(CASE WHEN SUM(CASE WHEN value IS NOT NULL AND lv IS NOT NULL THEN 1 ELSE 0 END)
                                        OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) >= 3
                         THEN COVAR_SAMP(CASE WHEN lv IS NOT NULL THEN value END, lv)
                              OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                         END, -9.0), 3) + 0.0 AS exp_cov
            FROM lagged
        """,
        "str_funcs": """
            SELECT c_custkey,
                   UPPER(c_name) AS upper_name,
                   LENGTH(c_name) AS name_len,
                   SUBSTRING(c_name, 1, 5) AS prefix5,
                   CONTAINS(c_name, '1') AS has_1,
                   REPLACE(c_name, '#', '-') AS no_hash
            FROM customer
        """,
        "dt_funcs": """
            SELECT o_orderkey,
                   EXTRACT(year FROM o_orderdate) AS yr,
                   EXTRACT(month FROM o_orderdate) AS mo,
                   EXTRACT(day FROM o_orderdate) AS dom,
                   (EXTRACT(isodow FROM o_orderdate) - 1) AS dow,
                   EXTRACT(quarter FROM o_orderdate) AS qtr
            FROM orders
        """,
        "resample_hourly": """
            -- full hourly grid (pandas resample emits empty bins as sum=0);
            -- identical to the plain GROUP BY at sf>=0.01 where every hour
            -- is populated, but stays correct on sparse data
            WITH b AS (SELECT MIN(DATE_TRUNC('hour', ts)) AS lo,
                              MAX(DATE_TRUNC('hour', ts)) AS hi FROM events),
            grid AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM b)
            SELECT g.hour_start,
                   ROUND(COALESCE(SUM(e.value), 0), 2) AS value
            FROM grid g LEFT JOIN events e
              ON DATE_TRUNC('hour', e.ts) = g.hour_start
            GROUP BY 1
        """,
        "pivot_typed_keys": """
            SELECT l_returnflag,
                   ROUND(SUM(CASE WHEN l_linenumber = 1 THEN l_quantity END), 2) AS "1",
                   ROUND(SUM(CASE WHEN l_linenumber = 2 THEN l_quantity END), 2) AS "2",
                   ROUND(SUM(CASE WHEN l_linenumber = 3 THEN l_quantity END), 2) AS "3",
                   ROUND(SUM(CASE WHEN l_linenumber = 4 THEN l_quantity END), 2) AS "4",
                   ROUND(SUM(CASE WHEN l_linenumber = 5 THEN l_quantity END), 2) AS "5",
                   ROUND(SUM(CASE WHEN l_linenumber = 6 THEN l_quantity END), 2) AS "6",
                   ROUND(SUM(CASE WHEN l_linenumber = 7 THEN l_quantity END), 2) AS "7"
            FROM lineitem GROUP BY l_returnflag
        """,
        "unstack_fill": """
            SELECT l_returnflag,
                   ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), -1), 2) AS F,
                   ROUND(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), -1), 2) AS O
            FROM lineitem GROUP BY l_returnflag
        """,
        "pivot_flag_status": """
            SELECT l_returnflag,
                   ROUND(AVG(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS F,
                   ROUND(AVG(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS O
            FROM lineitem GROUP BY l_returnflag
        """,
        "concat_union": """
            SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS s FROM (
                SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity >= 49
                UNION ALL
                SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity <= 2
            ) GROUP BY l_returnflag
        """,
        "isin_filter": """
            SELECT c_nationkey, COUNT(*) AS n FROM customer
            WHERE c_nationkey IN (0, 5, 10, 15, 20)
            GROUP BY c_nationkey
        """,
        "cut_buckets": """
            SELECT CASE
                     WHEN o_totalprice > 0 AND o_totalprice <= 100000 THEN 'b0'
                     WHEN o_totalprice > 100000 AND o_totalprice <= 200000 THEN 'b1'
                     WHEN o_totalprice > 200000 AND o_totalprice <= 300000 THEN 'b2'
                     WHEN o_totalprice > 300000 AND o_totalprice <= 400000 THEN 'b3'
                     WHEN o_totalprice > 400000 AND o_totalprice <= 10000000 THEN 'b4'
                   END AS bucket,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        """,
        "get_dummies_sum": """
            SELECT CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS rf_A,
                   CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS rf_N,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS rf_R
            FROM lineitem
        """,
        "case_when": """
            SELECT CASE WHEN o_totalprice >= 200000 THEN 'big' ELSE 'small' END AS size_class,
                   COUNT(*) AS n
            FROM orders GROUP BY 1
        """,
        "corr_cov": """
            SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qp,
                   ROUND(COVAR_SAMP(l_quantity, l_discount), 6) AS cov_qd
            FROM lineitem
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(l_quantity) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "asof_join": """
            SELECT t.event_id, q.user_id
            FROM (SELECT event_id, ts, value FROM events WHERE event_type = 'purchase') t
            ASOF LEFT JOIN (SELECT ts, user_id FROM events WHERE event_type = 'view') q
              ON t.ts >= q.ts
        """,
        "asof_nearest": """
            WITH t AS (SELECT event_id, ts FROM events WHERE event_type = 'purchase'),
                 q AS (SELECT ts, user_id FROM events WHERE event_type = 'view'),
                 b AS (SELECT t.event_id, t.ts, q.ts AS qts, q.user_id AS u
                       FROM t ASOF LEFT JOIN q ON t.ts >= q.ts),
                 f AS (SELECT t.event_id, q.ts AS qts, q.user_id AS u
                       FROM t ASOF LEFT JOIN q ON t.ts < q.ts)
            SELECT b.event_id,
                   CASE WHEN b.qts IS NULL THEN f.u
                        WHEN f.qts IS NULL THEN b.u
                        WHEN (f.qts - b.ts) < (b.ts - b.qts) THEN f.u
                        ELSE b.u END AS user_id
            FROM b JOIN f ON b.event_id = f.event_id
        """,
        "concat_cols_aligned": """
            WITH a AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
                 b AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
            SELECT COALESCE(a.k, b.k) AS nationkey,
                   CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
                   CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp
            FROM a FULL OUTER JOIN b ON a.k = b.k
        """,
        "query_eval": """
            SELECT o_orderkey, ROUND(o_totalprice * 2, 2) AS dbl
            FROM orders WHERE o_totalprice > 250000 AND o_orderstatus = 'O'
        """,
        "dot_product": """
            SELECT ROUND(SUM(l_quantity * l_discount), 4) AS dotp FROM lineitem
        """,
        "iloc_slice": """
            SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 1000
        """,
        "sql_interface": """
            SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """,
        "docs_jaccard_pairs": """
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g') AS t
              FROM documents WHERE doc_id < 500
            ),
            w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS words
              FROM d
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(words) >= 5
                            THEN [array_to_string(words[i:i+4], ' ') for i in range(1, len(words) - 3)]
                            ELSE [array_to_string(words, ' ')] END
                     ) AS s
              FROM w
            ),
            e AS (SELECT doc_id, unnest(s) AS g FROM sh),
            pair AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            sz AS (SELECT doc_id, len(s) AS n FROM sh)
            SELECT id_a, id_b,
                   ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jac
            FROM pair
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.9
        """,
        "multiindex_regroup": """
            WITH g AS (
                SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sq
                FROM lineitem GROUP BY 1, 2
            )
            SELECT l_returnflag, ROUND(SUM(sq), 2) AS total,
                   CAST(COUNT(sq) AS BIGINT) AS parts
            FROM g GROUP BY 1
        """,
        "rank_frame": """
            SELECT o_orderkey,
                   CAST(RANK() OVER (ORDER BY o_totalprice) AS DOUBLE) AS r_price,
                   CAST(RANK() OVER (ORDER BY o_custkey) AS DOUBLE) AS r_cust,
                   CAST(RANK() OVER (ORDER BY o_orderkey) AS DOUBLE) AS r_key
            FROM orders
        """,
        "expanding_median_p90": """
            WITH e AS (SELECT event_id, value FROM events ORDER BY event_id LIMIT 4000)
            SELECT event_id,
                   ROUND(MEDIAN(value) OVER w, 6) AS exp_med,
                   ROUND(QUANTILE_CONT(value, 0.9) OVER w, 6) AS exp_p90
            FROM e
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "ewm_mean": """
            WITH e AS (
                SELECT event_id, value, ROW_NUMBER() OVER (ORDER BY event_id) AS rn
                FROM (SELECT event_id, value FROM events ORDER BY event_id LIMIT 4000)
            )
            SELECT t.event_id,
                   ROUND(SUM(s.value * POW(0.8, t.rn - s.rn))
                         / SUM(CASE WHEN s.value IS NOT NULL THEN POW(0.8, t.rn - s.rn) END), 6)
                       AS ewm_v
            FROM e t JOIN e s ON s.rn BETWEEN t.rn - 200 AND t.rn
            GROUP BY t.event_id
        """,
        "rolling_corr_pair": """
            WITH e AS (SELECT event_id, value, user_id FROM events ORDER BY event_id LIMIT 10000)
            SELECT event_id,
                   CASE WHEN COUNT(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL THEN 1 END)
                             OVER w >= 24
                        THEN ROUND(CORR(value, user_id) OVER w, 4) + 0 ELSE 0 END AS rcorr
            FROM e
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        """,
        "docs_exact_dedup": """
            SELECT d.lang, COUNT(*) AS n
            FROM documents d
            JOIN (SELECT text, MIN(doc_id) AS mid FROM documents GROUP BY text) k
              ON d.doc_id = k.mid
            GROUP BY d.lang
        """,
        "docs_token_stats": """
            SELECT doc_id,
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '')) AS n_tokens
            FROM documents
        """,
        "docs_normalize_text": """
            WITH n AS (
                SELECT doc_id, text,
                       TRIM(REGEXP_REPLACE(
                           REGEXP_REPLACE(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                           '[ \\t]+', ' ', 'g')) AS tn
                FROM documents
            )
            SELECT doc_id, LENGTH(tn) AS norm_len,
                   CASE WHEN tn <> text THEN 1 ELSE 0 END AS changed
            FROM n
        """,
        "docs_norm_distinct": """
            SELECT COUNT(*) AS n_distinct FROM (
                SELECT DISTINCT TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
                FROM documents
            )
        """,
        "emb_brute_topk": """
            SELECT q_id, vec_id, ROUND(cos_sim, 4) AS cos_sim, rank FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                       LIST_COSINE_SIMILARITY(c.embedding, q.embedding) AS cos_sim,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(c.embedding, q.embedding) DESC, c.vec_id
                       ) AS rank
                FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """,
        "q4_priority_returned": """
            SELECT o_orderpriority, COUNT(*) AS n
            FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "q2_min_cost_supplier": """
            WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            eur AS (
                SELECT ps.l_partkey, s_name, s_acctbal, n_name
                FROM ps
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ),
            j AS (
                SELECT p_partkey, p_name, s_name, s_acctbal, n_name
                FROM eur JOIN part ON l_partkey = p_partkey
                WHERE p_size = 15
            )
            SELECT p_partkey, p_name, s_name, s_acctbal, n_name
            FROM j
            WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM j j2 WHERE j2.p_partkey = j.p_partkey)
            ORDER BY s_acctbal, p_partkey, s_name LIMIT 20
        """,
        "q7_volume_shipping": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   YEAR(l_shipdate) AS l_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": """
            WITH vol AS (
                SELECT YEAR(o_orderdate) AS o_year,
                       l_extendedprice * (1 - l_discount) AS volume,
                       sn.n_name AS supp_nation
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN region ON cn.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                WHERE p_type = 'PROMO' AND r_name = 'ASIA'
            )
            SELECT o_year,
                   ROUND(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END), 2)
                         / ROUND(SUM(volume), 2), 6) AS mkt_share
            FROM vol GROUP BY o_year
        """,
        "q9_profit_by_nation": """
            SELECT n_name, YEAR(l_shipdate) AS o_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity * 0.1), 2) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, o_year
        """,
        "q11_important_parts": """
            WITH v AS (
                SELECT l_partkey, ROUND(SUM(l_extendedprice), 2) AS val
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE s_nationkey = 3
                GROUP BY l_partkey
            )
            SELECT l_partkey, val FROM v
            WHERE val > 2.0 * (SELECT SUM(val) / COUNT(*) FROM v)
            ORDER BY val DESC, l_partkey LIMIT 50
        """,
        "q12_priority_lines": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
            GROUP BY l_linestatus
        """,
        "q13_order_distribution": """
            WITH cnt AS (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
                           WHERE o_orderpriority <> '5-LOW') o
                  ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            SELECT c_count, COUNT(c_custkey) AS custdist FROM cnt GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """,
        "q16_supplier_count": """
            WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM ps
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO'
              AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
              AND s_acctbal > 0
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 40
        """,
        "q17_small_quantity": """
            WITH j AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#23' AND p_size < 15
            )
            SELECT ROUND(ROUND(SUM(l_extendedprice), 2) / 7.0, 6) AS avg_yearly
            FROM j
            WHERE l_quantity < 0.5 * (SELECT AVG(l_quantity) FROM j j2 WHERE j2.l_partkey = j.l_partkey)
        """,
        "q18_large_volume": """
            WITH big AS (
                SELECT l_orderkey, SUM(l_quantity) AS sum_qty
                FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
            )
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "q20_part_promotion": """
            WITH qty AS (
                SELECT l_suppkey, SUM(l_quantity) AS total_qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'small%'
                  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
                GROUP BY l_suppkey
                HAVING SUM(l_quantity) > 400
            )
            SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal, total_qty
            FROM qty
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
            ORDER BY s_name
        """,
        "q21_waiting_supplier": """
            WITH st AS (
                SELECT l_orderkey,
                       COUNT(DISTINCT l_suppkey) AS ns,
                       COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nf
                FROM lineitem GROUP BY l_orderkey
            ),
            fl AS (
                SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
            )
            SELECT s_name, COUNT(*) AS numwait
            FROM fl
            JOIN orders ON fl.l_orderkey = o_orderkey AND o_orderstatus = 'F'
            JOIN st ON st.l_orderkey = fl.l_orderkey
            JOIN supplier ON fl.l_suppkey = s_suppkey
            WHERE st.ns > 1 AND st.nf = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name LIMIT 20
        """,
        "q22_global_sales": """
            WITH thr AS (
                SELECT ROUND(ROUND(SUM(c_acctbal), 2) / COUNT(*), 6) AS t
                FROM customer WHERE c_acctbal > 0
            )
            SELECT c_nationkey % 5 AS cntrycode,
                   COUNT(c_custkey) AS numcust,
                   ROUND(SUM(c_acctbal), 2) AS totacctbal
            FROM customer, thr
            WHERE c_acctbal > thr.t
              AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            GROUP BY cntrycode
        """,
        "q10_returned_revenue": """
            SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q14_promo_revenue": """
            SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                   / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
        """,
        "q19_brand_filter": """
            SELECT p_brand,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 40)
            GROUP BY p_brand
        """,
        "anti_join_customers": """
            SELECT c_mktsegment, COUNT(*) AS n
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
            GROUP BY c_mktsegment
        """,
        "melt_unpivot": """
            SELECT l_returnflag, measure, ROUND(SUM(val), 2) AS total, COUNT(val) AS n FROM (
                SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
            ) GROUP BY l_returnflag, measure
        """,
        "explode_words": """
            SELECT word, COUNT(*) AS n FROM (
                SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z0-9]+')) AS word
                FROM documents
            ) GROUP BY word ORDER BY n DESC, word LIMIT 20
        """,
        "crosstab_counts": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
                   CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
            FROM lineitem GROUP BY l_returnflag
        """,
        "qcut_quartiles": """
            WITH b AS (
                SELECT QUANTILE_CONT(o_totalprice, 0.25) AS q1,
                       QUANTILE_CONT(o_totalprice, 0.50) AS q2,
                       QUANTILE_CONT(o_totalprice, 0.75) AS q3
                FROM orders
            )
            SELECT CASE WHEN o_totalprice <= q1 THEN 'q1'
                        WHEN o_totalprice <= q2 THEN 'q2'
                        WHEN o_totalprice <= q3 THEN 'q3'
                        ELSE 'q4' END AS q4,
                   COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
            FROM orders, b GROUP BY 1
        """,
        "expanding_median_exact": """
            SELECT a.event_id,
                   ROUND(MEDIAN(b.value), 6) AS exp_med
            FROM events a JOIN events b ON b.event_id <= a.event_id
            GROUP BY a.event_id
            ORDER BY a.event_id LIMIT 10000
        """,
        "expanding_rank_pct": """
            SELECT a.event_id,
                   ROUND((SUM(CASE WHEN ROUND(b.value, 0) < ROUND(a.value, 0) THEN 1 ELSE 0 END)
                          + (SUM(CASE WHEN ROUND(b.value, 0) = ROUND(a.value, 0) THEN 1 ELSE 0 END) + 1) / 2.0)
                         / COUNT(*), 6) AS exp_rank
            FROM events a JOIN events b ON b.event_id <= a.event_id
            GROUP BY a.event_id
            ORDER BY a.event_id LIMIT 10000
        """,
        "expanding_stats": """
            SELECT event_id,
                   ROUND(ROUND(SUM(value) OVER w, 2) / COUNT(value) OVER w, 6) AS exp_mean,
                   ROUND(SUM(value) OVER w, 2) AS exp_sum
            FROM events
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY event_id LIMIT 10000
        """,
        "pct_change_value": """
            SELECT event_id,
                   ROUND(COALESCE(value / LAG(value) OVER (ORDER BY event_id) - 1, 0), 6) AS pct
            FROM events ORDER BY event_id LIMIT 10000
        """,
        "groupby_transform_demean": """
            SELECT grp_sum, COUNT(*) AS n FROM (
                SELECT ROUND(SUM(o_totalprice) OVER (PARTITION BY o_orderpriority), 2) AS grp_sum
                FROM orders
            ) GROUP BY grp_sum
        """,
        "groupby_filter_large": """
            SELECT o_orderstatus, COUNT(*) AS n
            FROM orders
            WHERE o_orderstatus IN (
                SELECT o_orderstatus FROM orders GROUP BY o_orderstatus
                HAVING AVG(o_totalprice) > 150000
            )
            GROUP BY o_orderstatus
        """,
        "groupby_head2": """
            SELECT o_orderpriority, o_orderkey FROM (
                SELECT o_orderpriority, o_orderkey,
                       ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
                FROM orders
            ) WHERE rn <= 2
        """,
        "groupby_first_last": """
            SELECT o_orderpriority,
                   ROUND(ARG_MIN(o_totalprice, o_orderkey), 2) AS first_price,
                   ROUND(ARG_MAX(o_totalprice, o_orderkey), 2) AS last_price
            FROM orders GROUP BY o_orderpriority
        """,
        "describe_stats": """
            SELECT CAST(COUNT(l_quantity) AS DOUBLE) AS cnt,
                   ROUND(AVG(l_quantity), 6) AS mean,
                   ROUND(STDDEV_SAMP(l_quantity), 6) AS std,
                   CAST(MIN(l_quantity) AS DOUBLE) AS mn,
                   ROUND(QUANTILE_CONT(l_quantity, 0.25), 4) AS p25,
                   ROUND(QUANTILE_CONT(l_quantity, 0.50), 4) AS p50,
                   ROUND(QUANTILE_CONT(l_quantity, 0.75), 4) AS p75,
                   CAST(MAX(l_quantity) AS DOUBLE) AS mx
            FROM lineitem
        """,
        "mode_quantity": """
            SELECT CAST(l_quantity AS BIGINT) AS mode_qty FROM lineitem
            GROUP BY l_quantity ORDER BY COUNT(*) DESC, l_quantity ASC LIMIT 1
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(l_quantity) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "range_join_buckets": """
            SELECT bucket, COUNT(*) AS n
            FROM lineitem
            JOIN (VALUES (1, 10, 'b1'), (11, 20, 'b2'), (21, 30, 'b3'),
                         (31, 40, 'b4'), (41, 50, 'b5')) AS r(lo, hi, bucket)
              ON l_quantity BETWEEN lo AND hi
            GROUP BY bucket
        """,
        "where_clip": """
            SELECT o_orderkey,
                   ROUND(LEAST(GREATEST(o_totalprice, 50000), 400000), 2) AS clipped,
                   ROUND(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END, 2) AS masked
            FROM orders
        """,
        "docs_fingerprint": """
            SELECT COUNT(*) AS n_distinct_fp FROM (
                SELECT DISTINCT TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
                FROM documents
            )
        """,
        "resample_ffill": """
            WITH e AS (SELECT ts, value FROM events WHERE event_type = 'error'),
            bounds AS (
                SELECT DATE_TRUNC('hour', MIN(ts)) AS mn, DATE_TRUNC('hour', MAX(ts)) AS mx FROM e
            ),
            tl AS (
                SELECT UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds
            )
            SELECT tl.h AS hour_start, ROUND(e.value, 4) AS value
            FROM tl ASOF LEFT JOIN e ON tl.h >= e.ts
        """,
        "resample_interp": """
            WITH b AS (
                SELECT DATE_TRUNC('hour', ts) AS h, AVG(value) AS v
                FROM events WHERE event_type = 'error' GROUP BY 1
            ),
            bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM b),
            tl AS (SELECT UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds),
            j AS (SELECT tl.h, b.v FROM tl LEFT JOIN b ON tl.h = b.h),
            w AS (
                SELECT h, v,
                       LAST_VALUE(CASE WHEN v IS NOT NULL THEN STRUCT_PACK(h := h, v := v) END IGNORE NULLS)
                           OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                       FIRST_VALUE(CASE WHEN v IS NOT NULL THEN STRUCT_PACK(h := h, v := v) END IGNORE NULLS)
                           OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
                FROM j
            )
            SELECT h AS hour_start,
                   ROUND(COALESCE(CASE
                       WHEN v IS NOT NULL THEN v
                       WHEN p IS NULL THEN NULL
                       WHEN n IS NULL THEN p.v
                       ELSE p.v + (n.v - p.v) * (EPOCH(h) - EPOCH(p.h)) / (EPOCH(n.h) - EPOCH(p.h))
                   END, -1.0), 4) AS value
            FROM w
        """,
        "emb_cosine_dedup": """
            WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
                UNION ALL
                SELECT vec_id + 10000000 AS vec_id, embedding
                FROM embeddings WHERE vec_id < 50
            ),
            surv AS (
                SELECT c.vec_id FROM corpus c
                WHERE NOT EXISTS (
                    SELECT 1 FROM corpus o
                    WHERE o.vec_id < c.vec_id
                      AND list_cosine_similarity(o.embedding, c.embedding) >= 0.98
                )
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_after,
                   CAST(SUM(vec_id) AS BIGINT) AS id_sum
            FROM surv
        """,
        "docs_ngram_dedup": """
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g') AS t
              FROM documents WHERE doc_id < 500
            ),
            w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(t, '\\s+'), x -> x <> '') AS words
              FROM d
            ),
            sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(words) >= 5
                            THEN [array_to_string(words[i:i+4], ' ') for i in range(1, len(words) - 3)]
                            ELSE [array_to_string(words, ' ')] END
                     ) AS s
              FROM w
            ),
            e AS (SELECT doc_id, unnest(s) AS g FROM sh),
            pair AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
              FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            sz AS (SELECT doc_id, len(s) AS n FROM sh),
            losers AS (
              SELECT DISTINCT id_b FROM pair
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_after,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM d WHERE doc_id NOT IN (SELECT id_b FROM losers)
        """,
        "multiindex_cols_agg": """
            SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(AVG(l_extendedprice), 4) AS avg_price
            FROM lineitem GROUP BY 1
        """,
        "docs_decontaminate": """
            WITH c AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 10 = 0 OR doc_id % 17 = 0
                                  THEN ' zebra quantum falcon mirror anchor velvet' ELSE '' END AS text
              FROM documents
            ),
            w AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS words
              FROM c
            ),
            g AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, GREATEST(len(words) - 5, 0) + 1),
                                           i -> array_to_string(words[i:i+5], ' '))) AS ng
              FROM w
            ),
            evg AS (SELECT DISTINCT ng FROM g WHERE doc_id % 10 = 0),
            bad AS (
              SELECT DISTINCT doc_id FROM g
              WHERE doc_id % 10 <> 0 AND ng IN (SELECT ng FROM evg)
            ),
            tr AS (SELECT * FROM c WHERE doc_id % 10 <> 0)
            SELECT CAST((SELECT COUNT(*) FROM tr) AS BIGINT) AS n_train,
                   CAST(COUNT(*) AS BIGINT) AS n_clean,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum_clean,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_clean
            FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        "docs_chunk_windows": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS toks
              FROM documents
            ),
            n AS (
              SELECT doc_id, toks,
                     GREATEST(1, (len(toks) - 8 + 55) // 56) AS nch
              FROM w
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(t.i AS BIGINT) AS chunk_id,
                   CAST(len(list_slice(toks, t.i * 56 + 1, t.i * 56 + 64)) AS BIGINT) AS n_tokens,
                   md5(array_to_string(list_slice(toks, t.i * 56 + 1, t.i * 56 + 64), ' ')) AS chunk_hash
            FROM n, LATERAL (SELECT unnest(range(n.nch)) AS i) t
        """,
        "docs_pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tokens
              FROM documents
            ),
            f AS (SELECT * FROM t WHERE tokens > 0),
            r AS (
              SELECT doc_id, tokens,
                     SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - tokens AS off
              FROM f
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                   CAST(MAX((off + tokens - 1) // 2048) + 1 AS BIGINT) AS n_bins,
                   CAST(SUM(CASE WHEN off // 2048 <> (off + tokens - 1) // 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle,
                   CAST(SUM((off // 2048) * doc_id) AS BIGINT) AS bin_id_checksum
            FROM r
        """,
        "docs_shard_layout": """
            WITH t AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tokens
              FROM documents
            ),
            f AS (SELECT * FROM t WHERE tokens > 0),
            r AS (
              SELECT doc_id, tokens,
                     SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - tokens AS off
              FROM f
            )
            SELECT CAST(off // 4096 AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(tokens) AS BIGINT) AS tok_sum,
                   CAST(MIN(doc_id) AS BIGINT) AS id_min,
                   CAST(MAX(doc_id) AS BIGINT) AS id_max
            FROM r
            GROUP BY 1
        """,
        "docs_stratified_sample": """
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM documents
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                  CASE lang WHEN 'en' THEN 'c000' WHEN 'de' THEN '8000'
                            WHEN 'zh' THEN '4000' ELSE '2000' END
            GROUP BY lang
        """,
        "docs_mixture_sample": """
            WITH t AS (
              SELECT doc_id, source,
                     len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS toks
              FROM documents
            ),
            d AS (SELECT source, CAST(SUM(toks) AS DOUBLE) AS dtok FROM t GROUP BY source),
            r AS (
              SELECT t.doc_id, t.source, t.toks,
                     LEAST(1.0, COALESCE(
                       (CASE t.source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                                      WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.05
                                      WHEN 'src4' THEN 0.8 END) * 2000.0 / d.dtok, 0.0)) AS rate
              FROM t JOIN d USING (source)
            )
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(SUM(toks) AS BIGINT) AS tok_kept
            FROM r
            WHERE rate >= 1.0
               OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                  printf('%04x', CAST(floor(rate * 65536) AS INT))
            GROUP BY source
        """,
        "docs_domain_cap": """
            WITH r AS (
              SELECT doc_id, text,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
              FROM documents
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_kept
            FROM r WHERE rn <= 15
        """,
        "docs_topk_ngrams": """
            WITH w AS (
              SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
                                 x -> x <> '') AS words
              FROM documents
            ),
            g AS (
              SELECT unnest(list_transform(range(1, GREATEST(len(words) - 1, 0) + 1),
                                           i -> array_to_string(words[i:i+1], ' '))) AS ngram
              FROM w
            )
            SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM g GROUP BY ngram
            ORDER BY cnt DESC, ngram ASC LIMIT 20
        """,
        "emb_quality_filter": """
            WITH z AS (
              SELECT vec_id,
                     unnest(embedding) AS v,
                     unnest([-0.6, 0.5, 0.3, 0.1, -0.1, -0.3, -0.5, 0.6, 0.4, 0.2, 0.0, -0.2, -0.4, -0.6, 0.5, 0.3, 0.1, -0.1, -0.3, -0.5, 0.6, 0.4, 0.2, 0.0, -0.2, -0.4, -0.6, 0.5, 0.3, 0.1, -0.1, -0.3, -0.5, 0.6, 0.4, 0.2, 0.0, -0.2, -0.4, -0.6, 0.5, 0.3, 0.1, -0.1, -0.3, -0.5, 0.6, 0.4, 0.2, 0.0, -0.2, -0.4, -0.6, 0.5, 0.3, 0.1, -0.1, -0.3, -0.5, 0.6, 0.4, 0.2, 0.0, -0.2]) AS w
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, 1.0 / (1.0 + exp(-(SUM(CAST(v AS DOUBLE) * w) + 0.1))) AS score
              FROM z GROUP BY vec_id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(SUM(vec_id) AS BIGINT) AS id_sum,
                   ROUND(AVG(score), 6) AS avg_score
            FROM s WHERE score >= 0.5
        """,
        "emb_ivf_exhaustive": """
            SELECT q_id, vec_id, ROUND(cos_sim, 4) AS cos_sim, rank FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                       LIST_COSINE_SIMILARITY(c.embedding, q.embedding) AS cos_sim,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(c.embedding, q.embedding) DESC, c.vec_id
                       ) AS rank
                FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 3) q
            ) WHERE rank <= 5
        """,
        "emb_label_centroids": """
            WITH e AS (
              SELECT label,
                     unnest(range(len(embedding))) AS pos,
                     unnest(embedding) AS v
              FROM embeddings
            )
            SELECT label, CAST(pos AS INT) AS pos, ROUND(AVG(CAST(v AS DOUBLE)), 5) AS c
            FROM e GROUP BY label, pos
        """,
        "docs_pii_scrub": """
            WITH c AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0 THEN ' contact agent007@example.com now' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN ' or call 555-123-4567' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' from host 192.168.10.42' ELSE '' END AS text
              FROM documents
            ),
            s AS (
              SELECT text,
                     len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS e,
                     len(regexp_extract_all(text, '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS p,
                     len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS i,
                     len(regexp_extract_all(text, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
                           '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PII]', 'g'),
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII]', 'g'),
                       '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[PII]', 'g') AS scrub
              FROM c
            )
            SELECT CAST(SUM(e) AS BIGINT) AS emails,
                   CAST(SUM(p) AS BIGINT) AS phones,
                   CAST(SUM(i) AS BIGINT) AS ips,
                   CAST(SUM(n) AS BIGINT) AS ssns,
                   CAST(SUM(CASE WHEN scrub <> text THEN 1 ELSE 0 END) AS BIGINT) AS docs_scrubbed,
                   CAST(SUM(LENGTH(scrub)) AS BIGINT) AS scrubbed_chars
            FROM s
        """,
        "docs_repetition": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
              FROM documents
            )
            SELECT doc_id, CAST(len(words) AS INT) AS n_words,
                   ROUND(len(list_distinct(words)) * 1.0 / GREATEST(len(words), 1), 6) AS uniq_ratio
            FROM w
        """,
        "docs_paragraph_dedup": """
            WITH c AS (
              SELECT doc_id,
                     text || chr(10) || chr(10) || 'COMMON FOOTER BOILERPLATE'
                          || chr(10) || chr(10) || text AS text
              FROM documents
            ),
            p AS (
              SELECT unnest(string_split_regex(text, '\\n\\s*\\n')) AS para FROM c
            ),
            n AS (
              SELECT DISTINCT trim(regexp_replace(lower(para), '\\s+', ' ', 'g')) AS norm FROM p
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_paras,
                   CAST(SUM(LENGTH(norm)) AS BIGINT) AS norm_chars
            FROM n WHERE LENGTH(norm) >= 1
        """,
        "win_weighted_var": """
            WITH e AS (
                SELECT event_id, value FROM events ORDER BY event_id LIMIT 4000
            ),
            t AS (
                SELECT event_id,
                       LAG(value,3) OVER w * 0.25 + LAG(value,2) OVER w * 0.75
                         + LAG(value,1) OVER w * 0.75 + value * 0.25 AS sxw,
                       LAG(value*value,3) OVER w * 0.25 + LAG(value*value,2) OVER w * 0.75
                         + LAG(value*value,1) OVER w * 0.75 + value*value * 0.25 AS sx2w
                FROM e
                WINDOW w AS (ORDER BY event_id)
            )
            SELECT event_id,
                   ROUND(COALESCE((sx2w - sxw*sxw/2.0) * 4 / 6.0, -1.0), 6) + 0 AS wvar
            FROM t
        """,
        "apply_axis0_zscore": """
            SELECT ROUND((o_orderkey - AVG(o_orderkey) OVER ()) / STDDEV_SAMP(o_orderkey) OVER (), 4) AS z_key,
                   ROUND((o_custkey - AVG(o_custkey) OVER ()) / STDDEV_SAMP(o_custkey) OVER (), 4) AS z_cust,
                   ROUND((o_totalprice - AVG(o_totalprice) OVER ()) / STDDEV_SAMP(o_totalprice) OVER (), 4) AS z_price
            FROM orders
        """,
        "transpose_multiindex_roundtrip": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sq,
                   ROUND(SUM(l_extendedprice), 2) AS ap
            FROM lineitem GROUP BY 1, 2
        """,
        "transpose_agg": """
            WITH g AS (
              SELECT l_returnflag AS f, SUM(l_quantity) AS sq,
                     SUM(l_extendedprice) AS sp, CAST(COUNT(*) AS DOUBLE) AS n
              FROM lineitem GROUP BY 1
            )
            SELECT 'sq' AS stat,
                   ROUND(SUM(CASE WHEN f='A' THEN sq END), 2) AS A,
                   ROUND(SUM(CASE WHEN f='N' THEN sq END), 2) AS N,
                   ROUND(SUM(CASE WHEN f='R' THEN sq END), 2) AS R
            FROM g
            UNION ALL
            SELECT 'sp',
                   ROUND(SUM(CASE WHEN f='A' THEN sp END), 2),
                   ROUND(SUM(CASE WHEN f='N' THEN sp END), 2),
                   ROUND(SUM(CASE WHEN f='R' THEN sp END), 2)
            FROM g
            UNION ALL
            SELECT 'n',
                   ROUND(SUM(CASE WHEN f='A' THEN n END), 2),
                   ROUND(SUM(CASE WHEN f='N' THEN n END), 2),
                   ROUND(SUM(CASE WHEN f='R' THEN n END), 2)
            FROM g
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS INT) AS payload_len,
                   16 AS feat_dim
            FROM documents WHERE doc_id < 200
        """,
        "multimodal_png_stats": """
            SELECT e.vec_id,
                   16 AS width, 16 AS height,
                   AVG(CAST((e.vec_id * 7 + 3 * t.k) % 251 AS DOUBLE)) AS mean_lum
            FROM (SELECT vec_id FROM embeddings WHERE vec_id < 12) e
            CROSS JOIN generate_series(0, 255) t(k)
            GROUP BY e.vec_id
        """,
        # r14: exact replay of the coefficient arithmetic the executor-side
        # baseline-JPEG encoder baked in. With qstep 8 at (0,0)/(0,4) the
        # IDCT contributions are exactly dc and ±ac per pixel, the ±ac halves
        # cancel in the mean and contribute ac^2 to E[p^2] — both dyadic, so
        # the engine's float64 stats and this SQL agree bit-for-bit.
        "multimodal_jpeg_stats": """
            WITH blocks AS (
                SELECT e.vec_id,
                       CAST((e.vec_id * 5 + t.b * 3) % 41 - 20 AS DOUBLE) AS dc,
                       CAST((e.vec_id * 3 + t.b * 7) % 31 - 15 AS DOUBLE) AS ac
                FROM (SELECT vec_id FROM embeddings WHERE vec_id < 16) e
                CROSS JOIN generate_series(0, 3) t(b)
            )
            SELECT vec_id, 16 AS width, 16 AS height,
                   128.0 + AVG(dc) AS mean_lum,
                   AVG((128.0 + dc) * (128.0 + dc) + ac * ac)
                     - (128.0 + AVG(dc)) * (128.0 + AVG(dc)) AS var_lum
            FROM blocks
            GROUP BY vec_id
        """,
        # r15: exact replay of the 4:2:0 decode — per Y block (b 0..3) the
        # pixels split 32/32 into 128+dc±ac; DC-only chroma upsamples to the
        # constants cb0/cr0, so every RGB pixel is round(Y + affine-shift)
        # with no clipping in this coefficient domain (and no value lands on
        # a .5 round boundary — verified over the whole domain)
        "multimodal_jpeg420_stats": """
            WITH blocks AS (
                SELECT e.vec_id,
                       CAST((e.vec_id * 5 + t.b * 3) % 41 - 20 AS DOUBLE) AS dc,
                       CAST((e.vec_id * 3 + t.b * 7) % 31 - 15 AS DOUBLE) AS ac,
                       CAST(e.vec_id % 21 - 10 AS DOUBLE) AS cb0,
                       CAST((e.vec_id * 7) % 21 - 10 AS DOUBLE) AS cr0
                FROM (SELECT vec_id FROM embeddings WHERE vec_id < 16) e
                CROSS JOIN generate_series(0, 3) t(b)
            )
            SELECT vec_id, 16 AS width, 16 AS height,
                   AVG((ROUND(128.0 + dc + ac + 1.402 * cr0)
                      + ROUND(128.0 + dc - ac + 1.402 * cr0)) / 2.0) AS mean_r,
                   AVG((ROUND(128.0 + dc + ac - 0.344136 * cb0 - 0.714136 * cr0)
                      + ROUND(128.0 + dc - ac - 0.344136 * cb0 - 0.714136 * cr0)) / 2.0) AS mean_g,
                   AVG((ROUND(128.0 + dc + ac + 1.772 * cb0)
                      + ROUND(128.0 + dc - ac + 1.772 * cb0)) / 2.0) AS mean_b
            FROM blocks
            GROUP BY vec_id
        """,
        # r15: zero-count categorical row — the declared category list
        # left-joined against the group counts
        "cat_unobserved_counts": """
            WITH cats(lang) AS (
                VALUES ('de'), ('en'), ('es'), ('fr'), ('xx'), ('zh')
            ),
            counts AS (
                SELECT lang, COUNT(*) AS n FROM documents
                WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
                GROUP BY lang
            )
            SELECT c.lang, CAST(COALESCE(t.n, 0) AS BIGINT) AS n
            FROM cats c LEFT JOIN counts t USING (lang)
        """,
        # r15: replay of the pandas timedelta repr + cumulative seconds
        # from lag()ed epoch microseconds over the same (ts, event_id)
        # order; the first row's diff is NaT -> 'NaT' / NULL
        "td_format_cumsum": """
            WITH ordered AS (
                SELECT event_id, epoch_us(ts) AS us,
                       LAG(epoch_us(ts)) OVER (ORDER BY ts, event_id) AS prev_us,
                       MIN(epoch_us(ts)) OVER () AS first_us
                FROM events WHERE user_id = 1
            ),
            d AS (
                SELECT event_id, us - prev_us AS td_us,
                       us, first_us FROM ordered
            )
            SELECT event_id,
                   CASE WHEN td_us IS NULL THEN 'NaT' ELSE
                     CAST(td_us // 86400000000 AS VARCHAR) || ' days ' ||
                     lpad(CAST((td_us % 86400000000) // 3600000000 AS VARCHAR), 2, '0') || ':' ||
                     lpad(CAST((td_us % 3600000000) // 60000000 AS VARCHAR), 2, '0') || ':' ||
                     lpad(CAST((td_us % 60000000) // 1000000 AS VARCHAR), 2, '0') ||
                     CASE WHEN td_us % 1000000 <> 0
                          THEN '.' || lpad(CAST(td_us % 1000000 AS VARCHAR), 6, '0')
                          ELSE '' END
                   END AS td_str,
                   CASE WHEN td_us IS NULL THEN NULL
                        ELSE CAST(us - first_us AS DOUBLE) / 1000000.0 END AS cs_sec
            FROM d
        """,
        # r15: exact replay of the progressive (SOF2) decode — after the
        # four-scan successive-approximation accumulation the coefficients
        # equal the baseline set, so the pixel arithmetic is the same
        # dyadic-exact 128 + dc ± ac scheme as multimodal_jpeg_stats
        "multimodal_jpeg_prog_stats": """
            WITH blocks AS (
                SELECT e.vec_id,
                       CAST((e.vec_id * 5 + t.b * 3) % 41 - 20 AS DOUBLE) AS dc,
                       CAST((e.vec_id * 3 + t.b * 7) % 31 - 15 AS DOUBLE) AS ac
                FROM (SELECT vec_id FROM embeddings
                      WHERE vec_id >= 16 AND vec_id < 32) e
                CROSS JOIN generate_series(0, 3) t(b)
            )
            SELECT vec_id, 16 AS width, 16 AS height,
                   128.0 + AVG(dc) AS mean_lum,
                   AVG((128.0 + dc) * (128.0 + dc) + ac * ac)
                     - (128.0 + AVG(dc)) * (128.0 + AVG(dc)) AS var_lum
            FROM blocks
            GROUP BY vec_id
        """,
        # r15: exact replay of the MJPEG-in-AVI sample decode — every 2nd
        # frame is decoded (frames alternate baseline/progressive JPEG);
        # per frame the 4 blocks' pixel means are 128 + dc exactly (the
        # ±ac halves cancel), and the sampled pixel count (2 or 4 frames
        # x 256 px) is a power of two, so mean_lum = 128 + AVG(dc) over the
        # sampled (frame, block) grid with every float64 division exact on
        # both sides
        "multimodal_video_frames": """
            WITH vids AS (
                SELECT vec_id, 4 * (1 + vec_id % 2) AS nf FROM embeddings
                WHERE vec_id < 12
            ),
            frames AS (
                SELECT v.vec_id, v.nf, t.f FROM vids v
                CROSS JOIN generate_series(0, 7) t(f)
                WHERE t.f < v.nf AND t.f % 2 = 0
            ),
            blocks AS (
                SELECT vec_id, nf, f,
                       CAST((vec_id * 7 + f * 5 + u.b * 3) % 41 - 20 AS DOUBLE) AS dc
                FROM frames CROSS JOIN generate_series(0, 3) u(b)
            )
            SELECT vec_id, 16 AS width, 16 AS height,
                   CAST(MAX(nf) AS INT) AS n_frames,
                   CAST(COUNT(DISTINCT f) AS INT) AS sampled,
                   128.0 + AVG(dc) AS mean_lum
            FROM blocks
            GROUP BY vec_id
        """,
        # r11: exact replay of the header-field arithmetic the executor-side
        # encoders baked into the JPEG/MP3/MP4 payloads — every parsed field
        # must round-trip byte-exactly through the real header parsers
        "multimodal_media_meta": """
            SELECT vec_id,
                   CASE vec_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   CASE vec_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'mp3'
                        ELSE 'mp4' END AS fmt,
                   CASE vec_id % 3
                        WHEN 0 THEN CASE WHEN (vec_id // 3) % 2 = 1
                                         THEN 'jpeg_progressive'
                                         ELSE 'jpeg_baseline' END
                        WHEN 1 THEN 'mp3'
                        ELSE 'avc1' END AS codec,
                   CAST(CASE vec_id % 3 WHEN 0 THEN 32 + vec_id * 3
                        WHEN 2 THEN 64 + vec_id % 256 END AS INT) AS width,
                   CAST(CASE vec_id % 3 WHEN 0 THEN 16 + vec_id * 2
                        WHEN 2 THEN 48 + vec_id % 32 END AS INT) AS height,
                   CAST(CASE vec_id % 3 WHEN 1 THEN
                        CASE (vec_id // 3) % 3 WHEN 0 THEN 44100
                             WHEN 1 THEN 48000 ELSE 32000 END
                        END AS INT) AS sample_rate,
                   CAST(CASE vec_id % 3 WHEN 1 THEN
                        CASE WHEN (vec_id // 3) % 2 = 0 THEN 1 ELSE 2 END
                        END AS INT) AS channels,
                   CASE vec_id % 3
                        WHEN 1 THEN ROUND(
                            (5 + (vec_id // 3) % 7) * 1152.0 /
                            (CASE (vec_id // 3) % 3 WHEN 0 THEN 44100
                                  WHEN 1 THEN 48000 ELSE 32000 END), 4)
                        WHEN 2 THEN ROUND((1000 + vec_id * 137) / 1000.0, 4)
                        END AS dur_s
            FROM embeddings WHERE vec_id < 60
        """,
        # r7: every registry query is oracle-backed (115/115) — the last
        # four rows-only ops were promoted via the md5-mode hash replay
        # (minhash/simhash) and pinned-quantizer/seeded-hyperplane ANN.
    }
