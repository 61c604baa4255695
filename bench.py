"""Benchmark harness: runs the headline queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() over the result — forces the
whole plan, keeps result materialization out of the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "filter_project",
    "merge_left_fillna",
    "sort_topk",
    "groupby_multi_agg",
    "groupby_nunique",
    "cumsum_by_group",
    "rolling_mean",
    "rank_min",
    "rank_frame",
    "str_funcs",
    "resample_hourly",
    "pivot_flag_status",
    "asof_join",
    "docs_exact_dedup",
    "docs_minhash_dedup",
    "docs_langid_quality",
    "emb_brute_topk",
    "q10_returned_revenue",
    "q19_brand_filter",
    "q2_min_cost_supplier",
    "q9_profit_by_nation",
    "q18_large_volume",
    "q21_waiting_supplier",
    "anti_join_customers",
    "explode_words",
    "expanding_stats",
    "docs_fingerprint",
    "docs_clean_corpus",
    "emb_ivf_topk",
    # round 4: distributed column-UDF / transpose / weighted-var / 2-level-
    # column machinery
    "apply_axis0_zscore",
    "transpose_agg",
    "win_weighted_var",
    "multiindex_cols_agg",
    "docs_pii_scrub",
    "docs_paragraph_dedup",
    # round 4b: corpus-construction ops (decontamination / packing / vocab /
    # centroids)
    "docs_decontaminate",
    "docs_pack_sequences",
    "docs_topk_ngrams",
    "emb_label_centroids",
    # round 4d: token-balanced output sharding
    "docs_shard_layout",
    # round 5: sliding-window chunking (map-only scan-stage op) and
    # token-budgeted mixture sampling (broadcast rates, corpus never shuffles)
    "docs_chunk_windows",
    "docs_mixture_sample",
    # round 7: n-level column MultiIndex machinery + parallel fwf ingest
    "multiindex3_cols_agg",
    "fwf_ingest",
    # round 7b: MultiIndex transpose round-trip, shape-changing apply,
    # real PNG decode
    "transpose_multiindex_roundtrip",
    "apply_axis0_vcounts",
    "multimodal_png_stats",
    # round 12: key-partitioned time-range windows, media-header metadata,
    # and one representative per r8-r11 registry growth area (TPC-H deep
    # join, LSH ANN, exact distributed quantiles, bucketized time windows,
    # ewm recursion)
    "grouped_rolling_time",
    "multimodal_media_meta",
    "q8_market_share",
    "emb_lsh_topk",
    "groupby_median_quantile",
    "rolling_time_sum",
    "ewm_mean",
    # round 13: the polars veneer's lazy pipeline and a pairwise-window
    # representative from the wave-39-59 machinery (anchor-shifted carries)
    "polars_pipeline",
    "rolling_pair_corr",
    # round 14: real baseline-JPEG entropy decode (Huffman + IDCT in
    # mapInPandas batches)
    "multimodal_jpeg_stats",
]

# host-noise self-diagnosis (r7): three cheap, stable queries re-run at
# start and end of the bench; their ratio to the frozen quiet-host minima
# (BASELINE_SENTINELS.json) is emitted as host_noise_factor so the driver
# can machine-detect a co-tenant-polluted round (the r6 bench shipped one).
SENTINELS = ["q1_pricing_summary", "filter_project", "sort_topk"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as entry
    from modin_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()

    # warm the JVM/readers and the Python UDF worker pool once outside timing
    # (worker spinup is a ~3-4s one-time cost that would otherwise land on
    # whichever query happens to hit a pandas_udf first)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    from pyspark.sql import functions as F

    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(100_000, numPartitions=ncpu).select(_warm("id")).count()
    # the Arrow mapInPandas path spins its workers separately from pandas_udf
    spark.range(100_000, numPartitions=ncpu).mapInPandas(
        lambda it: it, "id long"
    ).count()

    def run_sentinels() -> dict[str, float]:
        out = {}
        for name in SENTINELS:
            runs = []
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                runs.append(time.time() - t0)
            out[name] = round(min(runs), 3)
        return out

    sentinels_start = run_sentinels()

    # ASV-style measurement (the reference's own benchmark methodology):
    # execute each query twice and report the fastest — the first execution
    # is dominated by one-time plan compilation / JVM JIT, not engine
    # throughput, and swings +-3x run to run.
    # build/exec split (r8): build_ms is the driver-side cost of ASSEMBLING
    # the final DataFrame (Python plan construction + Spark analysis) before
    # the action fires — the merge-chain tax r7 cut 2.5x on q2.  Reported
    # per-query so construction regressions are visible independently of
    # executor throughput.
    timings: dict[str, float] = {}
    build_ms: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = qs[name]
        best = None
        try:
            runs, builds = [], []

            def one_run() -> None:
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
                df.count()
                runs.append(time.time() - t0)
                builds.append(t1 - t0)

            for _ in range(2):
                one_run()
            # the host is shared: a co-tenant burst can inflate both runs.
            # If the two disagree by >40% the measurement is noise-dominated —
            # take one more and keep the min.
            if min(runs) > 0 and (max(runs) - min(runs)) / min(runs) > 0.4:
                one_run()
            best = min(runs)
            build_ms[name] = round(min(builds) * 1000, 1)
        except Exception as e:  # keep the bench line parseable even on failure
            timings[name] = -1.0
            print(f"# {name} FAILED: {type(e).__name__}: {str(e)[:120]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        total += timings[name]

    # regression-gate subtotals over each frozen round's query set (the
    # headline set grows every round, so the raw total is not comparable
    # across rounds — these per-freeze subtotals are)
    comparables: dict[str, float | None] = {}
    for tag in ("r1", "r3", "r4", "r5", "r7", "r10", "r11", "r12", "r13"):
        comparables[tag] = None
        try:
            fname = f"BASELINE_LOCAL_r{int(tag[1:]):02d}.json"
            with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), fname)) as f:
                base = json.load(f)["queries"]
            comparables[tag] = round(sum(v for q, v in timings.items() if q in base and v > 0), 3)
        except Exception:
            pass

    sentinels_end = run_sentinels()
    host_noise_factor = None
    sentinel_cores = None
    try:
        if sf != "0.1":
            raise ValueError("sentinel minima are frozen at sf0.1")
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE_SENTINELS.json")) as f:
            frozen_all = json.load(f)
        # the references frozen for this run's core count ("sentinels" holds
        # the 32c minima); with none for it the factor stays null rather
        # than compare against another core count's times
        by_cores = {"32": frozen_all["sentinels"], **frozen_all.get("sentinels_by_cores", {})}
        frozen = by_cores[str(ncpu)]
        # per sentinel, the best of the start/end observations: "could the
        # host hit baseline speed at any point this run?" — a sustained
        # co-tenant burst inflates both ends and IS flagged, while JIT
        # warm-in on the start pass or a transient burst on one end is not
        # a false alarm. Median across the three sentinels.
        factors = sorted(
            min(sentinels_start[n], sentinels_end[n]) / frozen[n]
            for n in SENTINELS
            if frozen.get(n)
        )
        host_noise_factor = round(factors[len(factors) // 2], 2)  # median
        sentinel_cores = ncpu
    except Exception:
        pass

    line = json.dumps(
        {
            "metric": "headline_queries_total_time",
            "value": round(total, 3),
            "unit": "sec",
            "queries": timings,
            "build_ms": build_ms,
            **{f"{tag}_comparable_total": v for tag, v in comparables.items()},
            "sentinels_start": sentinels_start,
            "sentinels_end": sentinels_end,
            "host_noise_factor": host_noise_factor,
            "sentinel_cores": sentinel_cores,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    print(line)
    # The r13/r14 driver logs truncated from the FRONT, cutting the start of
    # the (long) line above and losing the round's totals. Repo-side
    # mitigation, additions only — the contract stays "ONE JSON line", so the
    # short trailing summary is '#'-prefixed (comment, not a parseable metric
    # line) and survives any bounded tail; a sidecar file keeps the full
    # payload.
    print(
        "# BENCH_SUMMARY "
        + json.dumps(
            {
                "value": round(total, 3),
                "host_noise_factor": host_noise_factor,
                "n_queries": sum(1 for v in timings.values() if v > 0),
                "n_failed": sum(1 for v in timings.values() if v < 0),
            }
        )
    )
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LAST_RUN.json"), "w") as f:
            f.write(line + "\n")
    except Exception:
        pass


if __name__ == "__main__":
    main()
