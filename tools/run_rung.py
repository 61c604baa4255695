"""Scale rung: time one query family at two data sizes 10x apart and freeze
BASELINE_LOCAL_sf10_<family>.json.

Protocol (ASV convention): 2 timed runs of ``.count()`` per query per rung,
keep the min, record the large/small ratio. Data grows 10x between rungs,
so a scale-healthy query lands at <= ~10x; anything above 12x (superlinear
beyond noise) is a finding and gets its physical plan dumped as
PLAN_sf10_<query>.txt next to the output JSON.

Families:
  tpch     the 22 TPC-H registry queries (join-heavy half of the headline)
  windows  window/asof/resample/rank registry queries (block+halo machinery),
           with ewm_mean over the FULL events table
  pairs    rung-local pairwise/grouped window builders (rolling corr/cov
           pairs, expanding pairwise cov, rolling corr matrix, groupby ewm,
           groupby rolling apply) over events
  r12      the round-12 headline additions

Usage:
  python tools/make_sf1.py && python tools/make_sf10_tpch.py &&
  python tools/make_sf10_events.py &&
  python tools/run_rung.py --family tpch [small_dir large_dir] [--out PATH]

The rung directories default to .localdata/sf1 and .localdata/sf10_tpch;
any two test-data directories 10x apart work, e.g.
  python tools/run_rung.py --family windows <sf0.01 dir> <sf0.1 dir> \\
      --out rung_windows.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF1 = os.path.join(REPO, ".localdata", "sf1")
SF10 = os.path.join(REPO, ".localdata", "sf10_tpch")

TPCH = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_top_orders",
    "q4_priority_returned", "q5_nation_revenue", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_profit_by_nation",
    "q10_returned_revenue", "q11_important_parts", "q12_priority_lines",
    "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q17_small_quantity", "q18_large_volume",
    "q19_brand_filter", "q20_part_promotion", "q21_waiting_supplier",
    "q22_global_sales",
]

WINDOW_FAMILY = [
    # positional windows over events (block+halo)
    "rolling_mean", "rolling_corr_pair", "ewm_mean", "expanding_median_p90",
    "win_weighted_var", "shift_diff", "pct_change_value",
    # time-based window / resample over events
    "rolling_time_sum", "resample_hourly", "resample_ffill", "resample_interp",
    # global rank / grouped cumulatives over orders
    "rank_min", "rank_frame", "cumsum_by_group",
    # ordered merges
    "asof_join", "asof_nearest",
]

R12_SET = [
    "polars_pipeline",       # veneer: scan->filter->group_by->join->sort
    "grouped_rolling_time",  # key-partitioned time-range window
    "q8_market_share",       # 8-table TPC-H join
    "groupby_median_quantile",
    "rolling_time_sum",
]


def _mpd():
    import modin_spark.pandas as mpd

    return mpd


def _events(sf):
    return _mpd().read_parquet(f"{sf}/events.parquet")


def _ewm_mean_full(spark, sf):
    """The registry's ewm_mean caps at head(4000) so its DuckDB oracle
    (driver-side recursion) stays tractable — which makes its rung time pure
    fixed overhead. This variant measures the decay-truncation halo data
    path over the full events table."""
    ev2 = _events(sf).sort_values("event_id").set_index("event_id")
    return ev2[["value"]].ewm(span=9).mean().reset_index().to_spark(ordered=False)


def _rolling_pair(spark, sf):
    x = _events(sf).sort_values("event_id")["value"]
    return x.rolling(7).corr(x.shift(1)).fillna(-9.0)._to_frame("c").sdf


def _expanding_pair(spark, sf):
    x = _events(sf).sort_values("event_id")["value"]
    return x.expanding(min_periods=3).cov(x.shift(2)).fillna(-9.0)._to_frame("c").sdf


def _rolling_matrix(spark, sf):
    ev = _events(sf).sort_values("event_id")
    d = ev[["value"]]
    d["v2"] = ev["value"] * 0.5 + ev["user_id"] % 7
    return d.rolling(7).corr()._frame.sdf


def _grouped_ewm(spark, sf):
    return _events(sf).groupby("event_type")[["value"]].ewm(alpha=0.3).mean()._frame.sdf


def _grouped_rolling_apply(spark, sf):
    import numpy as np

    r = _events(sf).groupby("event_type").rolling(5, min_periods=1)[["value"]]
    return r.apply(np.nanmean, raw=True)._frame.sdf


PAIRS = {
    "rolling_pair_corr": _rolling_pair,
    "expanding_pair_cov": _expanding_pair,
    "rolling_matrix_corr": _rolling_matrix,
    "grouped_ewm_mean": _grouped_ewm,
    "grouped_rolling_apply": _grouped_rolling_apply,
}


def family(name: str) -> dict:
    """Query name -> builder ``fn(spark, sf_dir) -> pyspark DataFrame``."""
    if name == "pairs":
        return PAIRS
    import __spark_entry__ as entry

    qs = entry.queries()
    if name == "tpch":
        return {q: qs[q] for q in TPCH}
    if name == "windows":
        return {q: _ewm_mean_full if q == "ewm_mean" else qs[q] for q in WINDOW_FAMILY}
    return {q: qs[q] for q in R12_SET}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--family", required=True, choices=["tpch", "windows", "pairs", "r12"])
    ap.add_argument("small", nargs="?", default=SF1)
    ap.add_argument("large", nargs="?", default=SF10)
    ap.add_argument("--out", help="output JSON (default: BASELINE_LOCAL_sf10_<family>.json)")
    args = ap.parse_args()
    out_path = args.out or os.path.join(REPO, f"BASELINE_LOCAL_sf10_{args.family}.json")

    from modin_spark.plans import physical_plan
    from modin_spark.session import get_spark

    spark = get_spark()
    out: dict = {"queries": {}, "superlinear": []}
    for name, fn in family(args.family).items():
        row: dict = {}
        for label, sf in (("sf1", args.small), ("sf10", args.large)):
            runs = []
            for _ in range(2):
                t0 = time.time()
                n = fn(spark, sf).count()
                runs.append(time.time() - t0)
            row[label] = round(min(runs), 3)
            row[f"{label}_rows"] = n
        row["ratio"] = round(row["sf10"] / max(row["sf1"], 1e-9), 2)
        out["queries"][name] = row
        flag = " <-- SUPERLINEAR" if row["ratio"] > 12 else ""
        print(f"{name}: sf1 {row['sf1']}s sf10 {row['sf10']}s ratio {row['ratio']}x{flag}")
        if row["ratio"] > 12:
            out["superlinear"].append(name)
            plan_path = os.path.join(os.path.dirname(os.path.abspath(out_path)),
                                     f"PLAN_sf10_{name}.txt")
            with open(plan_path, "w") as f:
                f.write(physical_plan(fn(spark, args.large)))

    ratios = sorted(r["ratio"] for r in out["queries"].values())
    out["median_ratio"] = ratios[len(ratios) // 2]
    out["max_ratio"] = ratios[-1]
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"median_ratio": out["median_ratio"], "max_ratio": out["max_ratio"],
                      "superlinear": out["superlinear"]}))


if __name__ == "__main__":
    main()
