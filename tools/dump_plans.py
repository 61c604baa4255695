"""Dump each query's .explain("formatted") to OUT_DIR/<query>.txt, masked so
that two dumps of the same plans compare equal with ``diff -r``.

Masked: expression and exchange ids (``#123L`` -> ``#N``, ``plan_id=45``
-> ``plan_id=N``), ``fresh_names`` columns (``c17`` -> ``cN``) and uuid
literals, dashed or hex (the persist tags). Plan generation times nothing,
so the dump is host-noise-insensitive.

Usage: python tools/dump_plans.py [--sf DIR] OUT_DIR [query ...]
(no queries: the bench HEADLINE list)
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bc\d+\b"), "cN"),
    (re.compile(r"\b[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{12}\b"), "UUID"),
]


def mask(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("out_dir")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench
    import __spark_entry__ as entry
    from modin_spark.session import get_spark

    spark = get_spark()
    qs = entry.queries()
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.queries or bench.HEADLINE:
        df = qs[name](spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(args.out_dir, f"{name}.txt"), "w") as f:
            f.write(mask(buf.getvalue()))
        print(name, "done", file=sys.stderr)


if __name__ == "__main__":
    main()
