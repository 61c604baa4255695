"""Parallel fixed-width reader (sources/fwf.py): native csv line scan +
substring/cast projections. Differential vs pandas.read_fwf on the same
files; the plan must show a distributed csv FileScan (no Python row path)."""

import numpy as np
import pandas as pd
import pytest

import modin_spark.pandas as mpd
from modin_spark.plans import physical_plan
from modin_spark.sources.fwf import read_fwf_spark


@pytest.fixture()
def fwf_file(tmp_path):
    p = str(tmp_path / "t.fwf")
    rows = [
        ("alice", 10, 1.5, "x"),
        ("bob", 2345, 22.125, ""),
        ("carol", 7, float("nan"), "y"),
        ("d", 88, 0.25, "z"),
    ]
    with open(p, "w") as fh:
        fh.write("{:<10}{:>8}{:>10}  {:<4}\n".format("name", "qty", "price", "flag"))
        for n, q, pr, fl in rows:
            fh.write("{:<10}{:>8}{:>10}  {:<4}\n".format(
                n, q, "" if pr != pr else pr, fl))
    return p


def test_fwf_infer_differential(fwf_file, spark):
    want = pd.read_fwf(fwf_file)
    got = mpd.read_fwf(fwf_file).to_pandas()
    got = got.sort_values("name").reset_index(drop=True)
    want = want.sort_values("name").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fwf_widths_names_no_header(tmp_path, spark):
    p = str(tmp_path / "w.fwf")
    open(p, "w").write("aaa 1 2.5\nbb 12 0.1\n")
    kw = dict(widths=[4, 3, 4], names=["s", "i", "f"], header=None)
    want = pd.read_fwf(p, **kw)
    got = mpd.read_fwf(p, **kw).to_pandas()
    pd.testing.assert_frame_equal(
        got.sort_values("s").reset_index(drop=True),
        want.sort_values("s").reset_index(drop=True),
        check_dtype=False,
    )


def test_fwf_explicit_colspecs(fwf_file, spark):
    specs = [(0, 10), (10, 18)]
    want = pd.read_fwf(fwf_file, colspecs=specs)
    got = mpd.read_fwf(fwf_file, colspecs=specs).to_pandas()
    c0 = want.columns[0]
    pd.testing.assert_frame_equal(
        got.sort_values(c0).reset_index(drop=True),
        want.sort_values(c0).reset_index(drop=True),
        check_dtype=False,
    )


def test_fwf_plan_is_distributed_csv_scan(fwf_file, spark):
    sdf = read_fwf_spark(fwf_file)
    plan = physical_plan(sdf)
    assert "csv" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fwf_big_multi_partition(tmp_path, spark):
    # explicit widths so wide late rows parse exactly (sample-based span
    # inference would truncate them — same as pandas' infer_nrows contract)
    n = 20000
    p = str(tmp_path / "big.fwf")
    with open(p, "w") as fh:
        fh.write("{:<10}{:>10}\n".format("k", "v"))
        for i in range(n):
            fh.write("{:<10}{:>10}\n".format(f"k{i}", i))
    got = mpd.read_fwf(p, widths=[10, 10])
    s = got["v"].sum()
    assert int(s) == n * (n - 1) // 2
