"""Benchmark self-check: a one-pass smoke run (``--smoke``) of every workload
at sf0.001, untraced and traced (one pair of passes), asserting that the
output keeps its contract.

    python3 perfbench/selfcheck.py [workload ...]

Checks, per run: exit code 0; the last line is one JSON object with exactly
``correct``, ``attempted``, ``failed`` and ``metrics``; the metrics are exactly
the ``end_to_end`` (untraced) or ``per_layer`` (traced) names of
BENCHMARK.json, each with its unit and a finite value; every metric is also
printed by name with its unit; ``latency_p50_ms``, ``latency_p90_ms`` and
``error_rate`` (with both counts) are printed; the outputs are correct.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--smoke"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit code {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    lines, res = _run(workload, trace)
    want = spec["per_layer" if trace else "end_to_end"]
    errors = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"result keys {sorted(res)}")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1
            and isinstance(res.get("failed"), int)):
        errors.append("attempted/failed are not whole numbers with attempted >= 1")
    if res.get("correct") is not True:
        errors.append(f"correct is {res.get('correct')} (failed={res.get('failed')})")
    metrics = res.get("metrics", {})
    if sorted(metrics) != sorted(m["name"] for m in want):
        errors.append(f"metric names differ: {sorted(set(metrics) ^ {m['name'] for m in want})}")
    text = "\n".join(lines[:-1])
    for m in want:
        got = metrics.get(m["name"])
        if got is None:
            continue
        if got.get("unit") != m["unit"]:
            errors.append(f"{m['name']}: unit {got.get('unit')!r}, expected {m['unit']!r}")
        if not (isinstance(got.get("value"), (int, float)) and math.isfinite(got["value"])):
            errors.append(f"{m['name']}: value {got.get('value')!r}")
        if not re.search(rf"^{re.escape(m['name'])} \S+ {re.escape(m['unit'])}$", text, re.M):
            errors.append(f"{m['name']} is not printed with its unit")
    for name in ("latency_p50_ms", "latency_p90_ms"):
        if not re.search(rf"^{name} ", text, re.M):
            errors.append(f"{name} is not printed")
    er = re.search(r"^error_rate (\S+) ratio  \(failed=(\d+) attempted=(\d+)\)$", text, re.M)
    if er is None:
        errors.append("error_rate with both counts is not printed")
    elif (int(er.group(2)), int(er.group(3))) != (res.get("failed"), res.get("attempted")):
        errors.append("error_rate counts differ from the JSON counts")
    return errors


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = (argv if argv is not None else sys.argv[1:]) or list(WORKLOADS)
    bad = 0
    for name in names:
        for trace in (0, 1):
            errors = check_run(name, trace, spec)
            print(f"{'OK  ' if not errors else 'FAIL'} {name} trace={trace}")
            for e in errors:
                print(f"     {e}")
            bad += bool(errors)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
