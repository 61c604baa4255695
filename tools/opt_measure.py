"""Round-15 optimization measurement harness (guide §1).

For each named query (default: the full bench HEADLINE list):
  - build the DataFrame, timing driver-side plan construction (build)
  - time count() (the bench's action) min-of-N
  - time the noop sink (computes every column, guide §1.4) min-of-N

Plans are dumped by tools/dump_plans.py, not here.

Usage:
  python tools/opt_measure.py [--sf DIR] [--runs N] [--noop] [query ...]
Prints one JSON line per query and a totals line; also appends to
/tmp/opt_measure.jsonl so partial runs survive.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time the noop sink")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entry
    from modin_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    names = args.queries or bench.HEADLINE

    # same warmup as bench.py
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    spark.read.parquet(f"{args.sf}/documents.parquet").count()
    from pyspark.sql import functions as F

    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(100_000, numPartitions=ncpu).select(_warm("id")).count()
    spark.range(100_000, numPartitions=ncpu).mapInPandas(lambda it: it, "id long").count()

    out_path = "/tmp/opt_measure.jsonl"
    totals = {"build": 0.0, "count": 0.0, "noop": 0.0}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"opt_measure:{name}")
        rec = {"q": name}
        try:
            builds, counts, noops = [], [], []
            for _ in range(args.runs):
                t0 = time.time()
                df = fn(spark, args.sf)
                t1 = time.time()
                df.count()
                t2 = time.time()
                builds.append(t1 - t0)
                counts.append(t2 - t1)
                if args.noop:
                    df.write.format("noop").mode("overwrite").save()
                    noops.append(time.time() - t2)
            rec["build"] = round(min(builds), 3)
            rec["count"] = round(min(counts), 3)
            rec["total"] = round(min(b + c for b, c in zip(builds, counts)), 3)
            if noops:
                rec["noop"] = round(min(noops), 3)
            totals["build"] += rec["build"]
            totals["count"] += rec["count"]
            totals["noop"] += rec.get("noop", 0.0)
        except Exception as e:
            rec["err"] = f"{type(e).__name__}: {str(e)[:160]}"
        print(json.dumps(rec), flush=True)
        with open(out_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
    print(json.dumps({"totals": {k: round(v, 3) for k, v in totals.items()}}))


if __name__ == "__main__":
    main()
