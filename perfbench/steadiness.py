"""Steadiness record: run one workload once per seed, one run at a time,
and summarize each end-to-end metric over the runs.

    python3 perfbench/steadiness.py --workload interactive --seeds 1-10 --seconds 5

For each metric it prints the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``), the spread (Q3 - Q1) / median and the
max/min ratio, as one JSON line per workload. Two sets of runs of the same
commit compare by their medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "max_over_min": max(values) / min(values), "n": len(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        steal = next((ln.split(": ")[1].split("%")[0] for ln in lines
                      if ln.startswith("# host steal")), "?")
        print(f"# seed {seed} wall {wall:.1f}s steal {steal}% correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} {vals}", flush=True)
    metrics = {k: summarize([r["metrics"][k]["value"] for r in runs])
               for k in runs[0]["metrics"]}
    print(json.dumps({"workload": args.workload, "seconds": args.seconds,
                      "seeds": args.seeds, "wall_s": summarize([r["wall_s"] for r in runs]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
