"""Physical-plan quality gates: pushdown, pruning, broadcast, no
single-partition exchanges in the order machinery. These are the properties
that make the engine survive 100x data — asserted, not assumed."""

import pandas as pd
import pytest

from modin_spark import plans

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li(spark):
    import modin_spark.pandas as mpd

    return mpd.read_parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(li):
    f = li[li.l_quantity > 45]
    assert plans.has_pushed_filters(f._frame.sdf), plans.physical_plan(f._frame.sdf)


def test_column_pruning(li):
    sub = li[["l_orderkey", "l_quantity"]]
    cols = plans.scan_columns(sub.to_spark(ordered=False))
    assert set(cols) <= {"l_orderkey", "l_quantity"}, cols


def test_small_dim_join_is_broadcast(spark):
    """Without an explicit hint, Catalyst should still broadcast a tiny dim."""
    import modin_spark.pandas as mpd

    li = mpd.read_parquet(f"{SF}/lineitem.parquet")
    nat = mpd.read_parquet(f"{SF}/nation.parquet")
    sup = mpd.read_parquet(f"{SF}/supplier.parquet")
    j = li.merge(sup, left_on="l_suppkey", right_on="s_suppkey").merge(
        nat, left_on="s_nationkey", right_on="n_nationkey"
    )
    assert plans.uses_broadcast_join(j._frame.sdf)


def test_groupby_agg_has_partial_agg(li):
    g = li.groupby("l_returnflag").agg(s=("l_quantity", "sum"))
    plan = plans.physical_plan(g._frame.sdf)
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_cumsum_no_unsafe_single_partition(li):
    # carry passes may funnel #blocks-row aggregates through one partition;
    # what must never happen is full data through a single partition
    c = li[["l_quantity"]].cumsum()
    assert plans.unsafe_single_partition_exchanges(c._frame.sdf) == 0, plans.physical_plan(c._frame.sdf)


def test_rolling_no_unsafe_single_partition(li):
    r = li[["l_quantity"]].rolling(5).mean()
    assert plans.unsafe_single_partition_exchanges(r._frame.sdf) == 0, plans.physical_plan(r._frame.sdf)


def test_shift_no_unsafe_single_partition(li):
    s = li[["l_quantity"]].shift(1)
    assert plans.unsafe_single_partition_exchanges(s._frame.sdf) == 0
    # and the data path shuffles on a PARALLEL key (the deterministic
    # order-bucket hash since r13 — was a range shuffle before the AQE
    # pid-mismatch fix; both are multi-partition exchanges)
    p = plans.physical_plan(s._frame.sdf).lower()
    assert "rangepartitioning" in p or "hashpartitioning" in p


def test_rank_no_unsafe_single_partition(li):
    r = li[["l_quantity"]].rank(method="min")
    assert plans.unsafe_single_partition_exchanges(r._frame.sdf) == 0


def test_sort_uses_range_partitioning(li):
    s = li.sort_values("l_quantity")
    plan = plans.physical_plan(s._frame.sdf)
    assert "rangepartitioning" in plan.lower(), plan


def test_asof_no_unsafe_single_partition(spark):
    """merge_asof without `by` must use the block+halo scheme, not a global
    single-partition window over the whole union."""
    import modin_spark.pandas as mpd

    ev = mpd.read_parquet(f"{SF}/events.parquet")
    t = ev[ev.event_type == "purchase"][["ts", "value"]]
    q = ev[ev.event_type == "click"][["ts", "user_id"]]
    out = mpd.merge_asof(t, q, on="ts", direction="backward")
    assert plans.unsafe_single_partition_exchanges(out._frame.sdf) == 0, plans.physical_plan(out._frame.sdf)
    # r13: blocks come from deterministic quantile-literal buckets hashed
    # across the cluster (was a range shuffle before the AQE pid fix)
    p = plans.physical_plan(out._frame.sdf).lower()
    assert "rangepartitioning" in p or "hashpartitioning" in p


def test_range_join_bucketized_no_nested_loop(spark):
    import modin_spark.pandas as mpd
    from modin_spark.operators.joins import range_join

    ev = mpd.read_parquet(f"{SF}/events.parquet")
    left = ev[["value"]]
    right = mpd.from_pandas(pd.DataFrame({"lo": [0.0, 10.0, 20.0], "hi": [10.0, 20.0, 30.0], "tag": list("abc")}))
    out = range_join(left, right, "value", "lo", "hi", bucket_width=10.0)
    plan = plans.physical_plan(out._frame.sdf)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must join
    with NO Exchange on either side (co-located bucketed join)."""
    import modin_spark.pandas as mpd

    orders = mpd.read_parquet(f"{SF}/orders.parquet")[["o_custkey", "o_totalprice"]]
    cust = mpd.read_parquet(f"{SF}/customer.parquet")[["c_custkey", "c_acctbal"]]
    orders.to_table("t_orders_b", bucket_by="o_custkey", num_buckets=8)
    cust.to_table("t_cust_b", bucket_by="c_custkey", num_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = mpd.read_table("t_orders_b")
        b = mpd.read_table("t_cust_b")
        j = a.merge(b, left_on="o_custkey", right_on="c_custkey")
        plan = plans.physical_plan(j._frame.sdf)
        import re

        n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_exchange == 0, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_lsh_candidates_single_banded_pass(spark):
    """Candidate generation must expand pairs from one grouped pass over the
    banded rows — a self-join would scan the band explode twice (and shuffle
    it twice). Guard: exactly one posexplode in the physical plan."""
    from modin_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text")
    plan = plans.physical_plan(pairs)
    assert plan.lower().count("posexplode") == 1, plan


def test_tpch_q9_broadcasts_dimensions(spark):
    import __spark_entry__ as entry

    out = entry.queries()["q9_profit_by_nation"](spark, SF)
    plan = plans.physical_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q21_scales(spark):
    """q21's exists/not-exists must stay as shuffled aggregates + joins —
    no single-partition exchange, no nested-loop join."""
    import __spark_entry__ as entry

    out = entry.queries()["q21_waiting_supplier"](spark, SF)
    plan = plans.physical_plan(out)
    assert plans.unsafe_single_partition_exchanges(out) == 0, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sort_head_fuses_to_take_ordered(li):
    out = li.sort_values(["l_extendedprice", "l_orderkey"], ascending=[False, True]).head(10)
    plan = plans.physical_plan(out._frame.sdf)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


TPCH_QUERIES = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_top_orders",
    "q4_priority_returned", "q5_nation_revenue", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_profit_by_nation",
    "q10_returned_revenue", "q11_important_parts", "q12_priority_lines",
    "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q17_small_quantity", "q18_large_volume",
    "q19_brand_filter", "q20_part_promotion", "q21_waiting_supplier",
    "q22_global_sales",
]


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_tpch_plan_has_no_scale_antipatterns(spark, name):
    """Every TPC-H query's physical plan must be shuffle/broadcast joins and
    hash aggregates only: no cartesian product, no nested-loop join, no
    full-data single-partition exchange — the three shapes that stop scaling
    at 100x data."""
    import __spark_entry__ as entry

    out = entry.queries()[name](spark, SF)
    plan = plans.physical_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plans.unsafe_single_partition_exchanges(out) == 0, plan


def test_apply_axis0_no_unsafe_single_partition(spark):
    """Distributed column UDFs: the melt->column-group->pivot-back plan must
    never funnel the data through one partition."""
    import numpy as np

    import modin_spark.pandas as mpd

    rng = np.random.default_rng(2)
    mdf = mpd.from_pandas(pd.DataFrame({f"c{i}": rng.random(2000) for i in range(4)}))
    z = mdf.apply(lambda s: (s - s.mean()) / s.std())
    assert plans.unsafe_single_partition_exchanges(z._frame.sdf) == 0, plans.physical_plan(z._frame.sdf)


# ---------------------------------------------------------------------------
# corpus-construction op plan shapes
# ---------------------------------------------------------------------------

def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval n-gram set must be the broadcast side of a semi-join; the
    train corpus must never be shuffled by text/ngram."""
    from modin_spark.operators.corpus import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.where("doc_id % 10 != 0")
    ev = docs.where("doc_id % 10 = 0")
    clean = decontaminate(train, ev, "doc_id", "text", n=6)
    plan = plans.physical_plan(clean)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_sequences_no_global_window(spark):
    """The running token sum must never funnel the data through one task:
    only the (#partitions)-row offset aggregate may be single-partition."""
    from modin_spark.operators.corpus import pack_sequences
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = docs.select("doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("tokens"))
    packed = pack_sequences(t, "doc_id", "tokens", 2048)
    assert plans.unsafe_single_partition_exchanges(packed) == 0, plans.physical_plan(packed)


def test_stratified_sample_is_narrow(spark):
    """Hash-fraction sampling is a pure filter: no exchange at all."""
    from modin_spark.operators.corpus import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s = stratified_sample(docs, "lang", {"en": 0.5}, "doc_id", default_frac=0.25)
    assert "Exchange" not in plans.physical_plan(s), plans.physical_plan(s)


def test_chunk_documents_is_map_only(spark):
    """Sliding-window chunking must stay in the scan stage: no Exchange,
    no Python worker (split/sequence/posexplode/slice are all built-ins)."""
    from modin_spark.operators.corpus import chunk_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ch = chunk_documents(docs, "doc_id", "text", chunk_size=64, overlap=8)
    plan = plans.physical_plan(ch)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_chunk_documents_window_semantics(spark):
    """Chunk windows: full coverage, stride = size - overlap, short docs
    yield one chunk, overlap region repeats between neighbors."""
    import pandas as pd

    from modin_spark.operators.corpus import chunk_documents

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [" ".join(f"w{i}" for i in range(10)),     # 10 toks -> 3 chunks (size 4, ov 1)
                 "a b",                                    # short -> 1 chunk
                 " ".join(f"x{i}" for i in range(4))],     # exactly size -> 1 chunk
    })
    df = spark.createDataFrame(pdf)
    out = chunk_documents(df, "doc_id", "text", chunk_size=4, overlap=1).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    assert d1.chunk_id.tolist() == [0, 1, 2]
    assert d1.chunk_text.tolist() == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"]
    assert out[out.doc_id == 2].chunk_text.tolist() == ["a b"]
    assert out[out.doc_id == 3].chunk_id.tolist() == [0]


def test_topk_ngrams_partial_agg_and_take_ordered(spark):
    """Counting must partial-aggregate map-side; the top-k must be a
    TakeOrdered, not a global sort."""
    from modin_spark.operators.corpus import topk_ngrams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    top = topk_ngrams(docs, "text", n=2, k=10)
    plan = plans.physical_plan(top)
    assert plan.count("HashAggregate") >= 2, plan
    assert "TakeOrdered" in plan, plan


def test_label_centroids_partial_agg(spark):
    from modin_spark.operators.corpus import label_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plans.physical_plan(label_centroids(emb))
    assert plan.count("HashAggregate") >= 2, plan


def test_every_entry_query_plan_is_scale_safe(spark):
    """Full-registry sweep (superset of the TPC-H sweep): every one of the
    110 entry queries must plan without a CartesianProduct and without a
    single-partition exchange over non-aggregated data. Broadcast
    nested-loop joins are allowed only because they imply a broadcast-small
    side (the ANN query fan-out); a true cartesian is never acceptable."""
    import __spark_entry__ as entry

    bad = []
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        plan = plans.physical_plan(df)
        cart = plan.count("CartesianProduct")
        unsafe = plans.unsafe_single_partition_exchanges(df)
        if cart or unsafe:
            bad.append((name, cart, unsafe))
    assert not bad, bad


def test_round10_new_machinery_plan_quality(spark):
    """Round-10 paths (reset_index positional labels, distributed frame
    value_counts, blocked ngroup, sort labels_col stash) must not introduce
    single-task exchanges over non-aggregated data."""
    import modin_spark.pandas as mpd
    from modin_spark import plans

    li = mpd.read_parquet(f"{SF}/lineitem.parquet")
    cases = {
        "reset_index": li[li.l_quantity > 10][["l_orderkey", "l_quantity"]].reset_index(),
        "frame_value_counts": li[["l_returnflag", "l_linestatus"]].value_counts()._to_frame(),
        "ngroup": li.groupby("l_returnflag").ngroup()._to_frame(),
        "sorted_labels": li[["l_orderkey", "l_quantity"]]
        .sort_values("l_quantity").reset_index(),
    }
    for name, obj in cases.items():
        sdf = obj._frame.sdf if hasattr(obj, "_frame") else obj.sdf
        n = plans.unsafe_single_partition_exchanges(sdf)
        assert n == 0, (name, plans.physical_plan(sdf))


def test_polars_pipeline_plan_is_scale_safe(spark):
    """The polars veneer compiles a scan->filter->group_by->join->sort chain
    into one Catalyst plan: filter pushed to the scan, no cartesian product,
    no full-data single-partition exchange (global sort+limit is a TakeOrdered)."""
    import modin_spark.polars as pl

    orders = pl.scan_parquet(f"{SF}/orders.parquet")
    agg = (orders.filter(pl.col("o_totalprice") > 100_000)
           .group_by("o_custkey")
           .agg(pl.col("o_totalprice").sum().alias("spend"))
           .collect())
    sdf = agg._frame.sdf
    plan = plans.physical_plan(sdf)
    assert "Cartesian" not in plan, plan
    assert plans.has_pushed_filters(sdf), plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    cust = pl.read_parquet(f"{SF}/customer.parquet")
    j = agg.join(cust, left_on="o_custkey", right_on="c_custkey")
    assert "Cartesian" not in plans.physical_plan(j._frame.sdf)


def test_grouped_resample_grid_plan(spark):
    """groupby.resample grid completion: per-keys min/max + sequence explode
    + left join — no cartesian, no full-data single-partition exchange."""
    import modin_spark.pandas as mpd

    ev = mpd.read_parquet(f"{SF}/events.parquet")
    out = ev.groupby("event_type").resample("1d", on="ts")["value"].sum()
    plan = plans.physical_plan(out._frame.sdf)
    assert "Cartesian" not in plan, plan
    assert plans.unsafe_single_partition_exchanges(out._frame.sdf) == 0, plan


# Operator ceilings for the block+halo queries' physical plans. The halo is
# one explode over its input: a union of filtered halo branches would
# replay the whole upstream lineage once per branch (more scans and
# exchanges, and a Union node).
_HALO_PLAN_CEILINGS = {
    "rolling_mean": {"Scan": 2, "Exchange": 5, "BroadcastExchange": 1},
    "win_weighted_var": {"Scan": 3, "Exchange": 1, "BroadcastExchange": 1},
    "rolling_pair_corr": {"Scan": 3, "Exchange": 9, "BroadcastExchange": 2},
    "ewm_mean": {"Union": 0, "Scan": 6, "BroadcastExchange": 3},
    "expanding_median_p90": {"Union": 0, "Scan": 20, "BroadcastExchange": 10},
}


def _plan_nodes(plan: str) -> dict:
    """Node count by name in a physical-plan tree; every *Scan* is "Scan"."""
    import re
    from collections import Counter

    names = (re.match(r"[\s:|+-]*(\w*)", line).group(1) for line in plan.splitlines())
    return Counter("Scan" if "Scan" in n else n for n in names if n)


@pytest.mark.parametrize("query", list(_HALO_PLAN_CEILINGS))
def test_halo_plan_shape(spark, query):
    import __spark_entry__ as entry

    plan = plans.physical_plan(entry.queries()[query](spark, SF))
    nodes = _plan_nodes(plan)
    over = {k: nodes[k] for k, ceiling in _HALO_PLAN_CEILINGS[query].items() if nodes[k] > ceiling}
    assert not over, plan


# Spark jobs fired while each query is BUILT, at the default small-result
# threshold: apply(axis=0) value_counts runs one partial aggregate, and the
# T.T round trip of a 6-row aggregate one ordered collect, then pandas.
_BUILD_JOB_CEILINGS = {"apply_axis0_vcounts": 2, "transpose_multiindex_roundtrip": 4}


@pytest.mark.parametrize("query", list(_BUILD_JOB_CEILINGS))
def test_build_jobs(spark, monkeypatch, query):
    import __spark_entry__ as entry
    from perfbench.tracing import Tracer

    monkeypatch.delenv("MODIN_SPARK_NATIVE_MAX_ROWS", raising=False)
    build = entry.queries()[query]
    build(spark, SF)  # warm: the parquet footers are read once per session
    tracer = Tracer(spark)
    try:
        op = tracer.op(0, query)
        with tracer.phase(op, "build") as phase:
            build(spark, SF)
    finally:
        tracer.close()
    assert phase["jobs_tracked"] <= _BUILD_JOB_CEILINGS[query], phase
