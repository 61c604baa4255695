"""Closed-loop benchmark of the modin_spark engine.

One client in one Python process drives one workload on ``local[nproc]``: it
runs the workload's ops in whole passes, each pass in an order drawn from
``--seed``, and times every call into the public API from outside. Run from
the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all            # the three in turn

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones (untraced); with ``--trace 1`` they are the per-layer ones
from a traced run. The lines before it print every figure by name with its
unit, including ``error_rate`` with both counts and the per-op-type layer
table. perfbench/README.md says what each metric means and which layer
moves it.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_SEED = 42
# a run must end well inside 180 s: no timed pass starts that would end past
# this point (fixture preparation, made once per checkout, not counted)
DEADLINE_S = 140.0

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_gmean_ms": "ms", "driver_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build.ms": "ms", "build.py4j_calls": "count", "build.jobs": "count",
    "build.job_ms": "ms", "build.self_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.scan_nodes": "count",
    "exec.exchange_nodes": "count", "exec.broadcast_nodes": "count",
    "pyudf.nodes": "count", "pyudf.worker_ms": "ms", "pyudf.bytes_sent": "bytes",
    "pyudf.bytes_returned": "bytes",
    "collect.ms": "ms", "collect.rows": "count",
    "spark.jvm_peak_rss_mb": "MB", "trace.overhead_pct": "%",
}
# per-layer metric -> (phases it sums over, key in trace.phase_metrics)
_ACTION = ("exec", "collect")
_ALL = ("build", "exec", "collect")
_LAYER_SOURCES = {
    "build.ms": (("build",), "ms"),
    "build.py4j_calls": (("build",), "py4j_calls"),
    "build.jobs": (("build",), "jobs"),
    "build.job_ms": (("build",), "job_ms"),
    "exec.ms": (_ACTION, "ms"),
    "exec.jobs": (_ACTION, "jobs"),
    "exec.stages": (_ACTION, "stages"),
    "exec.tasks": (_ACTION, "tasks"),
    "exec.executor_cpu_ms": (_ACTION, "executor_cpu_ms"),
    "exec.gc_ms": (_ACTION, "gc_ms"),
    "exec.shuffle_write_bytes": (_ACTION, "shuffle_write_bytes"),
    "exec.shuffle_read_bytes": (_ACTION, "shuffle_read_bytes"),
    "exec.spill_bytes": (_ACTION, "spill_bytes"),
    "exec.scan_nodes": (_ACTION, "scan_nodes"),
    "exec.exchange_nodes": (_ACTION, "exchange_nodes"),
    "exec.broadcast_nodes": (_ACTION, "broadcast_nodes"),
    "pyudf.nodes": (_ALL, "pyudf_nodes"),
    "pyudf.worker_ms": (_ALL, "pyudf_worker_ms"),
    "pyudf.bytes_sent": (_ALL, "pyudf_bytes_sent"),
    "pyudf.bytes_returned": (_ALL, "pyudf_bytes_returned"),
    "collect.ms": (("collect",), "ms"),
    "collect.rows": (("collect",), "rows"),
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0,
                    help="minimum timed seconds; the pass counts are fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="no warm pass and one timed pass (one pair when traced)")
    ap.add_argument("--sf", type=float, default=None,
                    help="data scale factor (default: the workload's own)")
    return ap.parse_args(argv)


# ------------------------------------------------------------- deployment
def _deploy_env(run_dir: str, trace: bool) -> None:
    """Deployment settings only: cores, BLAS threads, driver heap, scratch
    dirs and, for traced runs, the event log. Set before the JVM starts."""
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # Python workers must not oversubscribe the task slots
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        # the engine's default heap (24g) exceeds small hosts' RAM
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        # Python workers import modin_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    conf = []
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf = ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = "".join(f"--conf {c} " for c in conf) + "pyspark-shell"
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.environ.update(env)


def _descendants(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        for k in kids:
            out.append(k)
            out.extend(_descendants(k))
    return out


def _alive(pid: int) -> bool:
    """False once ``pid`` has ended. A zombie thread-group leader whose
    other threads still run (the JVM while it shuts down) has not ended; an
    ended child of this process is reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
        if state != "Z" or len(os.listdir(f"/proc/{pid}/task")) > 1:
            return True
    except OSError:
        return False
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == 0
    except ChildProcessError:
        return False


def _cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[7]


def _jvm_peak_rss_mb() -> float:
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return float("nan")


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and the Python workers it started
    and wait until each has exited."""
    kids = _descendants(os.getpid())
    spark.stop()
    for sig, wait_s in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
        live = [p for p in kids if _alive(p)]
        if not live:
            return
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while time.monotonic() < end and any(_alive(p) for p in live):
            time.sleep(0.05)


# ------------------------------------------------------------------- ops
class Runner:
    """Runs one op at a time, untraced or inside a tracer's phases."""

    def __init__(self, workload, spark, data_dir: str, run_dir: str) -> None:
        import workloads

        self.wl = workloads
        self.w = workload
        self.spark = spark
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.tracer = None
        if workload.interactive:
            import modin_spark.pandas as mpd

            self.li = mpd.read_parquet(f"{data_dir}/lineitem.parquet")
            self.orders = mpd.read_parquet(f"{data_dir}/orders.parquet")
            self.n_li = len(self.li)
        else:
            import __spark_entry__

            self.queries = __spark_entry__.queries()

    def params(self, op: str, rng, pass_idx: int) -> dict:
        if not self.w.interactive:
            return {}
        out = os.path.join(self.run_dir, f"out{pass_idx}")
        return self.wl.interactive_params(op, rng, self.n_li, out)

    def _build(self, op, p):
        if self.w.interactive:
            return self.wl.interactive_build(op, self.li, self.orders, p)
        return self.queries[op](self.spark, self.data_dir)

    def _action(self, op, obj, p, collect: bool):
        if self.w.interactive:
            return self.wl.interactive_action(op, obj, p)
        if collect:
            return obj.toPandas()
        obj.write.format("noop").mode("overwrite").save()
        return None

    def action_phase(self, op: str) -> str:
        return "collect" if self.w.interactive and op != "to_parquet" else "exec"

    def run(self, op: str, p: dict, pass_idx: int, traced: bool = False, collect: bool = False):
        """Returns (latency_s, result). ``collect`` brings a batch result
        into pandas (the checked pass) instead of the noop sink."""
        if not traced:
            t0 = time.perf_counter()
            res = self._action(op, self._build(op, p), p, collect)
            return time.perf_counter() - t0, res
        tr = self.tracer
        span = tr.op(pass_idx, op)
        t0 = time.perf_counter()
        with tr.phase(span, "build"):
            obj = self._build(op, p)
        phase = self.action_phase(op)
        with tr.phase(span, phase) as ph:
            res = self._action(op, obj, p, collect)
            ph["rows"] = _rows(res) if phase == "collect" else 0
        dt = time.perf_counter() - t0
        tr.end_op(span)
        return dt, res


def _rows(res) -> int:
    return len(res) if hasattr(res, "shape") else 1


# ------------------------------------------------------------------ main
def run_workload(args) -> int:
    for need in ("__spark_entry__.py", "modin_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run it from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else w.sf
    if args.smoke:
        w = dataclasses.replace(w, warm_passes=0, timed_passes=1)
    traced = bool(args.trace)
    run_dir = os.path.join(HERE, ".runs", f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _deploy_env(run_dir, traced)

    # fixture data and oracle results are made once per checkout, in a child
    # process so that their memory stays out of driver_rss_mb; they are not
    # part of the engine's set-up
    t_prep = time.monotonic()
    data_dir = os.path.join(HERE, ".data", f"sf{sf:g}")
    prep = [sys.executable, os.path.join(HERE, "check.py"), data_dir, f"{sf:g}", str(DATA_SEED)]
    subprocess.run(prep + ([] if w.interactive else list(w.ops)), check=True)
    prep_s = time.monotonic() - t_prep

    import warnings

    warnings.filterwarnings("ignore")
    from modin_spark.session import get_spark

    t_sess = time.monotonic()
    spark = get_spark()
    session_start_s = time.monotonic() - t_sess
    try:
        res = _drive(args, w, spark, data_dir, run_dir, traced,
                     deadline=T0 + prep_s + DEADLINE_S)
    finally:
        _stop_spark(spark)
    res["setup_s"] = res["t_timed"] - T0 - prep_s
    res["session.start_s"] = session_start_s
    res["session.warmup_s"] = res["t_timed"] - t_sess - session_start_s
    try:
        if traced:
            layers = _layers(res, run_dir)
            _write_spans(res, w, args)
        else:
            layers = {}
        return _report(args, w, res, layers)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _drive(args, w, spark, data_dir, run_dir, traced, deadline) -> dict:
    import numpy as np

    import check
    from tracing import Tracer

    # set-up and timed passes draw from separate streams of the seed, so the
    # k-th timed pass sees the same order and parameters whatever the
    # workload's number of warm passes
    rng = np.random.default_rng([args.seed, 0])
    runner = Runner(w, spark, data_dir, run_dir)
    type_fail: dict[str, str] = {}

    # checked pass: every op once with its result brought into pandas. It is
    # also the cold pass that compiles plans and starts the Python workers.
    checked = []
    for op in rng.permutation(w.ops):
        p = runner.params(op, rng, -1)
        try:
            checked.append((op, p, runner.run(op, p, -1, collect=True)[1]))
        except Exception as e:  # an op that raises is a failed op, not a crash
            type_fail[op] = f"raised {type(e).__name__}: {str(e)[:200]}"
    # a fixed number of untimed warm passes, so every run does the same work
    # before timing starts whatever the host's speed
    for _ in range(w.warm_passes):
        for op in rng.permutation(w.ops):
            try:
                runner.run(op, runner.params(op, rng, -2), -2)
            except Exception as e:
                type_fail.setdefault(op, f"raised {type(e).__name__}: {str(e)[:200]}")

    if traced:
        runner.tracer = Tracer(spark)
    # A traced run times passes in pairs, at least one pair. In a pair every
    # op runs once traced and once untraced: the ops at even places of the
    # workload's list are traced in the first pass, the others in the second.
    # The tracing overhead is then measured within one run without the
    # warm-up slope favouring either side, and the traced calls of a pair
    # together make one traced pass.
    n_timed = max(2, w.timed_passes + w.timed_passes % 2) if traced else w.timed_passes
    rng = np.random.default_rng([args.seed, 1])
    t_timed = time.monotonic()
    cpu0 = _cpu_jiffies()
    # (op, pass, latency_s or None when it raised, params, result, traced)
    attempts = []
    passes = 0
    while True:
        t_pass = time.monotonic()
        k = passes
        for op in rng.permutation(w.ops):
            p = runner.params(op, rng, k)
            trace_op = traced and (w.ops.index(op) + k) % 2 == 0
            try:
                dt, res = runner.run(op, p, k, traced=trace_op)
            except Exception as e:
                type_fail.setdefault(op, f"raised {type(e).__name__}: {str(e)[:200]}")
                attempts.append((op, k, None, p, None, trace_op))
                continue
            attempts.append((op, k, dt, p, res if w.interactive else None, trace_op))
        passes += 1
        # a fixed number of timed passes; --seconds only adds passes (pairs
        # when traced) on a host fast enough to run them in less time
        now = time.monotonic()
        enough = passes >= n_timed and not (traced and passes % 2)
        if now - t_timed >= args.seconds and enough:
            break
        if now + (now - t_pass) > deadline and passes >= min(2, n_timed):
            break
    driver_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    cpu1 = _cpu_jiffies()
    jvm_rss_mb = _jvm_peak_rss_mb()
    tracer = runner.tracer
    if tracer is not None:
        tracer.close()

    # correctness, after the timed passes so the check's memory and time
    # stay out of the figures
    inst_fail = set()
    if w.interactive:
        pdfs = {t: _read_pandas(data_dir, t) for t in ("lineitem", "orders")}
        for op, p, res in checked:
            why = _check_interactive(op, p, res, pdfs, check)
            if why:
                type_fail.setdefault(op, why)
        for i, (op, k, dt, p, res, _) in enumerate(attempts):
            if dt is not None and _check_interactive(op, p, res, pdfs, check):
                inst_fail.add(i)
    else:
        oracle = check.oracle_frames(data_dir, w.ops)
        for op, p, res in checked:
            why = check.compare_oracle(res, oracle[op])
            if why:
                type_fail.setdefault(op, why)
    failed = sum(1 for i, a in enumerate(attempts)
                 if a[2] is None or a[0] in type_fail or i in inst_fail)
    return {"attempts": [(a[0], a[1], a[2], a[5]) for a in attempts], "passes": passes,
            "failed": failed, "type_fail": type_fail, "t_timed": t_timed,
            "driver_rss_mb": driver_rss_mb, "spark.jvm_peak_rss_mb": jvm_rss_mb,
            "steal_pct": 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
            "spans": tracer.spans if tracer is not None else []}


def _read_pandas(data_dir, table):
    import pandas as pd

    return pd.read_parquet(f"{data_dir}/{table}.parquet")


def _check_interactive(op, p, res, pdfs, check) -> str | None:
    import pandas as pd

    from workloads import interactive_reference

    ref = interactive_reference(op, pdfs["lineitem"], pdfs["orders"], p)
    if op == "to_parquet":
        # Spark writes a directory of part files in no set order
        res = pd.read_parquet(p["path"]).sort_values("o_orderkey")
    if op in ("filter_head", "sort_head", "iloc_slice", "merge_head", "to_parquet"):
        # row-subset results carry no source row labels in this engine (the
        # default index is not materialized); compare positions, as the
        # repository's own tests do
        ref = ref.reset_index(drop=True)
        res = res.reset_index(drop=True)
    return check.compare_pandas(res, ref)


# --------------------------------------------------------------- figures
def _layers(res: dict, run_dir: str) -> dict:
    """Per-layer figures per traced pass (median over traced passes), and
    per op type (median over its traced calls) for the table. Traced pass j
    is the traced calls of timed passes 2j and 2j + 1; only whole pairs
    count."""
    from tracing import child_spans, phase_metrics, read_event_log

    groups = read_event_log(os.path.join(run_dir, "eventlog"))
    spans = res["spans"]
    extra = []
    for s in list(spans):
        if s["kind"] == "phase":
            s["metrics"] = phase_metrics(s, groups.get(s["group"]))
            s["metrics"]["rows"] = s.get("rows", 0)
            extra.extend(child_spans(s, groups.get(s["group"]), len(spans) + len(extra)))
    spans.extend(extra)

    # per op call: layer figure -> value
    calls = defaultdict(lambda: defaultdict(float))
    call_pass, call_op = {}, {}
    for s in spans:
        if s["kind"] != "phase":
            continue
        if s["pass"] // 2 >= res["passes"] // 2:
            continue
        key = s["parent"]
        call_pass[key], call_op[key] = s["pass"] // 2, s["op"]
        for name, (phases, src) in _LAYER_SOURCES.items():
            if s["name"] in phases:
                calls[key][name] += s["metrics"][src]
    for c in calls.values():
        c["build.self_ms"] = c["build.ms"] - c["build.job_ms"]
    names = list(_LAYER_SOURCES) + ["build.self_ms"]
    per_pass = defaultdict(lambda: defaultdict(float))
    per_op = defaultdict(lambda: defaultdict(list))
    for key, c in calls.items():
        for n in names:
            per_pass[call_pass[key]][n] += c[n]
            per_op[call_op[key]][n].append(c[n])
    out = {n: statistics.median(pp[n] for pp in per_pass.values()) for n in names}
    out["per_op"] = {op: {n: statistics.median(v[n]) for n in names} for op, v in per_op.items()}
    # counts that must repeat: the distinct per-pass values seen in this run
    out["repeat"] = {n: sorted({round(pp[n], 6) for pp in per_pass.values()})
                     for n in ("build.jobs", "build.py4j_calls", "exec.jobs", "exec.tasks",
                               "exec.scan_nodes", "exec.exchange_nodes", "pyudf.nodes")}
    # traced ÷ untraced latency per op type, over whole pairs. Their
    # geometric mean weighs every op the same, so the warm-up slope, which
    # favours the traced call of half the ops and the untraced call of the
    # others, cancels whatever the ops' costs.
    lat = defaultdict(lambda: {True: [], False: []})
    for op, k, dt, was_traced in res["attempts"]:
        if dt is not None and k // 2 < res["passes"] // 2:
            lat[op][was_traced].append(dt)
    ratios = [statistics.fmean(v[True]) / statistics.fmean(v[False])
              for v in lat.values() if v[True] and v[False]]
    out["trace.overhead_pct"] = (statistics.geometric_mean(ratios) - 1.0) * 100.0
    return out


def _write_spans(res: dict, w, args) -> None:
    out_dir = os.path.join(HERE, ".runs", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{w.name}-s{args.seed}-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump({"workload": w.name, "seed": args.seed, "spans": res["spans"]}, fh)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")


def _report(args, w, res, layers) -> int:
    lat_ms = [dt * 1000.0 for _, _, dt, _ in res["attempts"] if dt is not None]
    attempted, failed = len(res["attempts"]), res["failed"]
    n = len(lat_ms)
    by_op = defaultdict(list)
    for op, _, dt, _ in res["attempts"]:
        if dt is not None:
            by_op[op].append(dt * 1000.0)
    e2e = {
        "setup_s": res["setup_s"],
        "ops_per_s": n / (sum(lat_ms) / 1000.0),
        # every op type weighs the same, so a change to any op shows; the
        # p50 of all samples reads only the middle op type's latency
        "latency_gmean_ms": statistics.geometric_mean(
            statistics.median(v) for v in by_op.values()),
        "driver_rss_mb": res["driver_rss_mb"],
    }
    print(f"# workload {w.name}  seed {args.seed}  trace {args.trace}  "
          f"passes {res['passes']}  ops {attempted}")
    if not args.trace:  # a traced run's timings carry the tracing overhead
        for k, v in e2e.items():
            print(f"{k} {v:.6g} {E2E_UNITS[k]}")
    print(f"latency_p50_ms {statistics.median(lat_ms):.6g} ms  (n={n})")
    # p90 only when at least ten samples lie beyond it
    if n >= 100:
        p90 = statistics.quantiles(lat_ms, n=10, method="inclusive")[8]
        print(f"latency_p90_ms {p90:.6g} ms  (n={n})")
    else:
        print(f"latency_p90_ms not reported: n={n}, needs at least 100 samples")
    print(f"error_rate {failed / attempted:.6g} ratio  (failed={failed} attempted={attempted})")
    # CPU time the hypervisor gave to other guests: the host's share of the
    # spread between runs, not the program's
    print(f"# host steal during the timed passes: {res['steal_pct']:.1f}% of CPU time")
    print("# latency ms per op type, in pass order: "
          + "  ".join(f"{op}={','.join(f'{x:.0f}' for x in v)}"
                      for op, v in sorted(by_op.items())))
    for op, why in sorted(res["type_fail"].items()):
        print(f"# FAILED {op}: {why}")
    if args.trace:
        print("# per op type, median per call:")
        cols = ["build.ms", "build.jobs", "build.py4j_calls", "exec.ms", "exec.jobs",
                "exec.tasks", "exec.scan_nodes", "exec.exchange_nodes", "pyudf.nodes",
                "collect.ms"]
        print("# " + "op".ljust(32) + " ".join(c.rjust(13) for c in cols))
        for op, m in sorted(layers["per_op"].items()):
            print("# " + op.ljust(32) + " ".join(f"{m[c]:13.6g}" for c in cols))
        print(f"# counts seen per traced pass: {json.dumps(layers['repeat'])}")
        metrics = {k: layers[k] for k in LAYER_UNITS if k in layers}
        for k in ("session.start_s", "session.warmup_s", "spark.jvm_peak_rss_mb"):
            metrics[k] = res[k]
        metrics = {k: {"value": metrics[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    from workloads import WORKLOADS

    rc = 0
    summary = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--sf", str(args.sf)] if args.sf else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        rc = rc or proc.returncode
        summary[name] = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    print(json.dumps(summary))
    return rc


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        sys.path.insert(0, HERE)
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
