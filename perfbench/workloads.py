"""The benchmark's workloads: which ops run, on which data, and why.

Batch ops are names in ``__spark_entry__.queries()``; the benchmark calls
the registry function (the build) and then writes the result to Spark's
``noop`` sink (the execution), which computes every output column. It never
times ``count()``, because Catalyst prunes the columns a count does not need.

Interactive ops run on ``lineitem`` and ``orders`` frames read once through
``modin_spark.pandas.read_parquet``. Each op builds a lazy engine object and
then brings its result into pandas (or, for ``to_parquet``, writes it). Their
parameters come from the run's seeded generator. Filters and slices change
the values an op sees more than the work it does: each still scans its whole
input, and ``describe`` always covers one ship year.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float
    ops: tuple[str, ...]
    # untimed passes after the checked cold pass, then timed passes; both
    # fixed, so that a slow host does not also get less warm-up
    warm_passes: int
    timed_passes: int
    interactive: bool = False


# Bulk analytics traffic: TPC-H-style scan / join / aggregate plans that go
# through modin_spark.pandas -> core.compiler (merge, groupby_agg) and that
# Spark runs with no Python boundary. Spark-execution gains show here; window
# and UDF changes must read "no change" here (pyudf.nodes is 0).
RELATIONAL = Workload(
    name="relational",
    why="TPC-H-style scan/join/aggregate plans that Spark runs with no Python "
        "boundary: exec-layer gains show, window and UDF changes must not",
    sf=0.1,
    warm_passes=1,
    timed_passes=2,
    ops=("q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
         "q9_profit_by_nation", "q18_large_volume", "q21_waiting_supplier",
         "merge_left_fillna", "groupby_nunique", "anti_join_customers",
         "pivot_flag_status"),
)

# Order-dependent and Python-boundary ops: the block+halo kernels of
# core.windows, global positions from core.frame, and the applyInPandas /
# mapInPandas paths of operators (the IVF search partitions, then searches,
# as in Odyssey, VLDB'23). Eager jobs fired during the build live here too
# (apply_axis0_vcounts, transpose_multiindex_roundtrip). relational bypasses
# all of this. It runs at sf0.1, where the kernels' work outweighs the fixed
# per-op cost and where rolling_pair_corr fails the strict check (signed-zero
# flips); that failure counts in error_rate. A pass takes most of 20 s here,
# so the checked cold pass is the only warm-up and one pass is timed.
ORDERED_UDF = Workload(
    name="ordered_udf",
    why="window block+halo kernels, global positions and applyInPandas/"
        "mapInPandas ops at sf0.1, the code relational bypasses",
    sf=0.1,
    warm_passes=0,
    timed_passes=1,
    ops=("rolling_mean", "win_weighted_var", "rolling_pair_corr", "ewm_mean",
         "rank_frame", "transpose_multiindex_roundtrip", "apply_axis0_vcounts",
         "docs_minhash_dedup", "emb_ivf_topk", "docs_pii_scrub"),
)

# The ordered_udf ops that are oracle-green at sf0.1 and that fit the run
# budget: the targets of ROADMAP item 4 (the halo kernels of rolling_mean and
# win_weighted_var, the eager build jobs of apply_axis0_vcounts and
# transpose_multiindex_roundtrip, the applyInPandas/mapInPandas paths of
# docs_minhash_dedup and emb_ivf_topk). It leaves out rolling_pair_corr, which
# fails the strict check at sf0.1 (a benchmark whose outputs are wrong cannot
# judge a change), and, for time, rank_frame, ewm_mean and docs_pii_scrub: a
# run pays the session start and a cold pass (about 30 s here) for every op it
# times.
ORDERED_UDF_GREEN = Workload(
    name="ordered_udf_green",
    why="ordered_udf's oracle-green ROADMAP targets at sf0.1: halo window "
        "kernels, eager build jobs, applyInPandas/mapInPandas",
    sf=0.1,
    warm_passes=0,
    timed_passes=1,
    ops=("rolling_mean", "win_weighted_var", "transpose_multiindex_roundtrip",
         "apply_axis0_vcounts", "docs_minhash_dedup", "emb_ivf_topk"),
)

# A notebook session: reused frames, small results collected into pandas and
# one write per pass. Driver plan build, py4j, job launch and Arrow collect
# dominate, so a build-path change that helps batch plans but costs per-call
# latency shows here. Every op reaches Spark: pure-metadata calls (dtypes,
# columns) would time only scheduler jitter.
INTERACTIVE = Workload(
    name="interactive",
    why="notebook session on frames read once: plan build, py4j, job launch "
        "and Arrow collect of small results dominate",
    sf=0.1,
    warm_passes=1,
    timed_passes=5,
    ops=("len", "repr", "filter_head", "groupby_sum", "sort_head", "iloc_slice",
         "merge_head", "column_mean", "describe", "value_counts", "to_parquet"),
    interactive=True,
)

WORKLOADS = {w.name: w for w in (RELATIONAL, ORDERED_UDF, ORDERED_UDF_GREEN, INTERACTIVE)}


# --------------------------------------------------------------- interactive
_NUMERIC = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
# describe runs exact percentiles, whose cost grows with distinct values: a
# fixed column set over one ship year keeps every call the same size
_DESCRIBED = ("l_quantity", "l_extendedprice", "l_discount")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def interactive_params(op: str, rng: np.random.Generator, n_li: int, out_dir: str) -> dict:
    """Seeded parameters of one interactive op call."""
    if op == "len":
        return {"qty": float(rng.integers(5, 46))}
    if op == "repr":
        return {"disc": float(rng.integers(0, 11)) / 100}
    if op == "filter_head":
        return {"qty": float(rng.integers(5, 46)), "n": int(rng.integers(5, 51))}
    if op == "groupby_sum":
        return {"key": str(rng.choice(["l_returnflag", "l_linestatus"])),
                "year": int(rng.integers(1995, 2002))}
    if op == "sort_head":
        return {"ascending": bool(rng.integers(0, 2)), "n": int(rng.integers(5, 51))}
    if op == "iloc_slice":
        start = int(rng.integers(0, n_li - 1000))
        return {"start": start, "stop": start + int(rng.integers(100, 1001))}
    if op == "merge_head":
        return {"priority": str(rng.choice(_PRIORITIES)), "n": int(rng.integers(5, 51))}
    if op == "column_mean":
        return {"col": str(rng.choice(_NUMERIC))}
    if op == "describe":
        return {"year": int(rng.integers(1995, 2001))}
    if op == "value_counts":
        return {"col": str(rng.choice(["l_returnflag", "l_linestatus", "l_linenumber"]))}
    if op == "to_parquet":
        return {"status": str(rng.choice(["F", "O", "P"])),
                "path": os.path.join(out_dir, "slice.parquet")}
    raise KeyError(op)


def _year(li, year: int):
    return li[(li.l_shipdate >= pd.Timestamp(f"{year}-01-01"))
              & (li.l_shipdate < pd.Timestamp(f"{year + 1}-01-01"))]


def interactive_build(op: str, li, orders, p: dict):
    """Build the lazy engine object (the 'build' phase)."""
    if op == "len":
        return li[li.l_quantity > p["qty"]]
    if op == "repr":
        return li[li.l_discount >= p["disc"]]
    if op == "filter_head":
        return li[li.l_quantity > p["qty"]].head(p["n"])
    if op == "groupby_sum":
        f = li[li.l_shipdate < pd.Timestamp(f"{p['year']}-07-01")]
        return f.groupby(p["key"])[["l_quantity", "l_extendedprice"]].sum()
    if op == "sort_head":
        return orders.sort_values(["o_totalprice", "o_orderkey"],
                                  ascending=p["ascending"]).head(p["n"])
    if op == "iloc_slice":
        return li.iloc[p["start"]:p["stop"]]
    if op == "merge_head":
        o = orders[orders.o_orderpriority == p["priority"]][["o_orderkey", "o_totalprice"]]
        return li.merge(o, left_on="l_orderkey", right_on="o_orderkey").head(p["n"])
    if op == "column_mean":
        return li[p["col"]]
    if op == "describe":
        return _year(li, p["year"])[list(_DESCRIBED)]
    if op == "value_counts":
        return li[p["col"]].value_counts()
    if op == "to_parquet":
        return orders[orders.o_orderstatus == p["status"]]
    raise KeyError(op)


def interactive_action(op: str, obj, p: dict):
    """Bring the result into the driver, or for ``to_parquet`` write it."""
    if op == "len":
        return len(obj)
    if op == "repr":
        return repr(obj)
    if op == "column_mean":
        return float(obj.mean())
    if op == "describe":
        return obj.describe()
    if op == "to_parquet":
        obj.to_parquet(p["path"])
        return None
    return obj.to_pandas()


def interactive_reference(op: str, li: pd.DataFrame, orders: pd.DataFrame, p: dict):
    """The same op in plain pandas, for the correctness check."""
    if op == "len":
        return len(li[li.l_quantity > p["qty"]])
    if op == "repr":
        # the engine prints head(10) with positional labels
        return repr(li[li.l_discount >= p["disc"]].head(10).reset_index(drop=True))
    if op == "filter_head":
        return li[li.l_quantity > p["qty"]].head(p["n"])
    if op == "groupby_sum":
        f = li[li.l_shipdate < pd.Timestamp(f"{p['year']}-07-01")]
        return f.groupby(p["key"])[["l_quantity", "l_extendedprice"]].sum()
    if op == "sort_head":
        return orders.sort_values(["o_totalprice", "o_orderkey"],
                                  ascending=p["ascending"]).head(p["n"])
    if op == "iloc_slice":
        return li.iloc[p["start"]:p["stop"]]
    if op == "merge_head":
        o = orders[orders.o_orderpriority == p["priority"]][["o_orderkey", "o_totalprice"]]
        return li.merge(o, left_on="l_orderkey", right_on="o_orderkey").head(p["n"])
    if op == "column_mean":
        return float(li[p["col"]].mean())
    if op == "describe":
        return _year(li, p["year"])[list(_DESCRIBED)].describe()
    if op == "value_counts":
        return li[p["col"]].value_counts()
    if op == "to_parquet":
        return orders[orders.o_orderstatus == p["status"]]
    raise KeyError(op)
