"""Per-layer profile of registry queries, on the benchmark's tracer.

Each query of ``__spark_entry__.queries()`` runs as a ``build`` phase (the
registry call ``fn(spark, sf)``) and then an ``exec`` phase (the ``noop``
sink, which computes every output column), each timed to completion under
``perfbench/tracing.py``'s ``Tracer``. Jobs, stages, tasks, executor CPU and
GC time, shuffle bytes, Python-worker time and bytes and the executed plans'
node counts come from Spark's event log, which this script turns on before
the JVM starts and reads once the session has stopped. ``--repeat N`` runs
each query N times in a row and keeps the fastest run.

One JSON sidecar per query goes to ``.localdata/profile/<sf dir name>/``; a
table of the queries by total time and dominant layer ends the output. A
scale-rung comparison is two runs with different ``--sf``. Run from the
repository root, with ``SPARK_GRAFT_CPUS`` set to the cores to use:

    python tools/profile.py --ops headline --sf /root/testdata/sf0.1
    python tools/profile.py --ops q1_pricing_summary sort_topk --sf DIR --repeat 5
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

if __name__ == "profile":
    # a script run from tools/ has this directory first on sys.path, so the
    # standard library's cProfile (which pyspark imports) reaches this file
    # through its "import profile": hand it the standard library's module
    import importlib.util
    import sysconfig

    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_paths()["stdlib"], "profile.py"))
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".localdata", "profile")
# summed over both phases: jobs fired during the build run stages too
SUMMED = ("stages", "tasks", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes", "pyudf_worker_ms", "pyudf_bytes_sent",
          "pyudf_bytes_returned")
# node counts of the plans the exec phase ran (build-phase probes are other plans)
NODES = ("scan_nodes", "exchange_nodes", "broadcast_nodes", "pyudf_nodes")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ops", nargs="+", required=True,
                    help="'headline' (bench.py's HEADLINE list) or registry query names")
    ap.add_argument("--sf", required=True, help="test-data directory")
    ap.add_argument("--repeat", type=int, default=1, help="runs per query; the fastest is kept")
    return ap.parse_args(argv)


def _record(build: dict, exec_: dict) -> dict:
    return {
        "total_ms": build["ms"] + exec_["ms"],
        "build_ms": build["ms"],
        "build_job_ms": build["job_ms"],
        "build_self_ms": build["ms"] - build["job_ms"],
        "build_py4j_calls": build["py4j_calls"],
        "exec_ms": exec_["ms"],
        "jobs_in_build": build["jobs"],
        "jobs_in_exec": exec_["jobs"],
        **{k: build[k] + exec_[k] for k in SUMMED},
        **{k: exec_[k] for k in NODES},
    }


def dominant_layer(rec: dict) -> str:
    """The layer with the most wall time: the driver's plan build (Python,
    py4j, Catalyst), the Spark jobs fired during the build, or the executed
    query. For the last, "python" when the Python workers' time outweighs
    the executors' JVM CPU time."""
    walls = {"plan build": rec["build_self_ms"], "build jobs": rec["build_job_ms"],
             "exec": rec["exec_ms"]}
    top = max(walls, key=walls.get)
    if top == "exec":
        top += " (python)" if rec["pyudf_worker_ms"] > rec["executor_cpu_ms"] else " (jvm)"
    return top


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]
    import warnings

    warnings.filterwarnings("ignore")
    import __spark_entry__ as entry
    import bench
    from modin_spark.session import get_spark
    from pyspark.sql import functions as F
    from run import _cpu_jiffies
    from tracing import Tracer, phase_metrics, read_event_log

    queries = entry.queries()
    names = bench.HEADLINE if args.ops == ["headline"] else args.ops
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"profile: unknown queries {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.path.abspath(args.sf)
    out_dir = os.path.join(OUT, os.path.basename(sf_dir.rstrip("/")))
    log_dir = os.path.join(OUT, f"eventlog-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(log_dir)
    # before the JVM starts: the uncompressed event log the tracer reads, and
    # the checkout on the Python workers' path
    conf = ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false",
            "spark.ui.showConsoleProgress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = "".join(f"--conf {c} " for c in conf) + "pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark()
    # bench.py's warm-up: readers, then the pandas_udf and mapInPandas workers
    for table in ("lineitem", "documents"):
        if os.path.exists(f"{sf_dir}/{table}.parquet"):
            spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warm = F.pandas_udf(lambda s: s, "long")
    spark.range(100_000, numPartitions=ncpu).select(warm("id")).count()
    spark.range(100_000, numPartitions=ncpu).mapInPandas(lambda it: it, "id long").count()

    tracer = Tracer(spark)
    runs: dict[str, list[tuple[dict, dict]]] = {}
    errors: dict[str, str] = {}
    t0, cpu0 = time.monotonic(), _cpu_jiffies()
    for name in names:
        runs[name] = []
        for r in range(args.repeat):
            span = tracer.op(r, name)
            try:
                with tracer.phase(span, "build") as build:
                    df = queries[name](spark, sf_dir)
                with tracer.phase(span, "exec") as exec_:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failing query is reported, not fatal
                errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
                break
            tracer.end_op(span)
            runs[name].append((build, exec_))
        ms = [(b["end"] - b["start"] + x["end"] - x["start"]) * 1000 for b, x in runs[name]]
        print(f"# {name}: " + (f"FAILED {errors[name]}" if name in errors
                               else " ".join(f"{m:.0f}" for m in ms) + " ms"), flush=True)
    wall_s, cpu1 = time.monotonic() - t0, _cpu_jiffies()
    steal_pct = 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    tracer.close()
    spark.stop()

    groups = read_event_log(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    recs = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.json")
        if name in errors:
            rec = {"query": name, "error": errors[name]}
        else:
            done = [_record(phase_metrics(b, groups.get(b["group"])),
                            phase_metrics(x, groups.get(x["group"]))) for b, x in runs[name]]
            best = min(done, key=lambda d: d["total_ms"])
            rec = recs[name] = {"query": name, "sf_dir": sf_dir, "cores": ncpu,
                                "repeat": args.repeat, "host_steal_pct": round(steal_pct, 1),
                                "runs_total_ms": [round(d["total_ms"], 1) for d in done],
                                **best, "dominant_layer": dominant_layer(best)}
        with open(path, "w") as fh:
            json.dump(rec, fh, indent=1)

    cols = ("total_ms", "build_self_ms", "build_job_ms", "exec_ms", "jobs_in_build",
            "jobs_in_exec", "exchange_nodes", "pyudf_nodes")
    print("# " + "query".ljust(32) + "".join(c.rjust(15) for c in cols) + "  dominant layer")
    for name, rec in sorted(recs.items(), key=lambda kv: -kv[1]["total_ms"]):
        print("# " + name.ljust(32) + "".join(f"{rec[c]:15.0f}" for c in cols)
              + "  " + rec["dominant_layer"])
    print(json.dumps({"profiled": len(recs), "failed": len(errors), "queries": len(names),
                      "cores": ncpu, "repeat": args.repeat, "wall_s": round(wall_s, 1),
                      "host_steal_pct": round(steal_pct, 1),
                      "sidecars": os.path.relpath(out_dir, REPO)}))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
