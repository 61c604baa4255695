"""Small shape-deciding results finish on the driver (core.frame.collect_small).

The suite runs with MODIN_SPARK_NATIVE_MAX_ROWS=0, which keeps every op on
its distributed path; each test here turns the threshold on for itself.
Inputs are Spark-backed frames (ingested at once), as a parquet read is, so
the collects under test really run.

- apply(axis=0) with a decomposable kernel finishes from Spark aggregates:
  count, nunique, min and max from one row of per-column aggregates,
  value_counts from a per-(column, value) partial aggregate merged on the
  driver; every other func keeps the applyInPandas path.
- transpose of a frame within the threshold is one ordered collect plus a
  pandas transpose, and its native result takes the next ``.T`` with no job.
"""

import importlib
import inspect
import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.group import GroupedData

import modin_spark.pandas as mpd
from modin_spark.core.frame import SparkFrame


@pytest.fixture()
def small_on(monkeypatch):
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5000")


def _spark_backed(pdf):
    m = mpd.from_pandas(pdf)
    m._frame.sdf  # ingest now: the frame is no longer a native one
    return m


@pytest.fixture()
def no_udf(monkeypatch):
    """Fails the test if an op reaches the applyInPandas path."""
    def boom(*a, **k):
        raise AssertionError("applyInPandas path taken")

    monkeypatch.setattr(GroupedData, "applyInPandas", boom)


@pytest.fixture()
def udf_calls(monkeypatch):
    """Counts the ops that reach the applyInPandas path."""
    calls = []
    orig = GroupedData.applyInPandas

    def counted(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(GroupedData, "applyInPandas", counted)
    return calls


_GROUPS = itertools.count()


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"small-results-{next(_GROUPS)}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "between counts")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _check(got, exp):
    got = got.to_pandas() if hasattr(got, "to_pandas") else got
    if isinstance(exp, pd.DataFrame):
        pd.testing.assert_frame_equal(got, exp)
    else:
        pd.testing.assert_series_equal(got, exp)


def _frame(n=300, seed=0):
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "i": rng.integers(0, 40, n),
        "f": np.where(rng.random(n) < 0.2, np.nan, rng.integers(0, 30, n) / 2),
        "s": pd.Series(np.where(rng.random(n) < 0.2, None,
                                rng.choice(list("abcdefghijklmnopqrstuvwxyz"), n)), dtype=object),
        "b": rng.random(n) < 0.5,
        "t": pd.Timestamp("2024-01-01") + pd.to_timedelta(rng.integers(0, 20, n), unit="D"),
    })


_VC = {
    "plain": lambda s: s.value_counts(),
    "dropna_false": lambda s: s.value_counts(dropna=False),
    "normalize": lambda s: s.value_counts(normalize=True),
    "ascending": lambda s: s.value_counts(ascending=True),
    "sort_false": lambda s: s.value_counts(sort=False),
    "positional": lambda s: s.value_counts(True, True, True),
}


@pytest.mark.parametrize("cols", [["i"], ["f"], ["s"], ["b"], ["t"], ["i", "f"]],
                         ids=lambda c: "+".join(c))
@pytest.mark.parametrize("how", list(_VC))
def test_value_counts_kernel_matches_pandas(spark, small_on, no_udf, how, cols):
    pdf = _frame()[cols]
    _check(_spark_backed(pdf).apply(_VC[how]), pdf.apply(_VC[how]))


def test_value_counts_many_ties_sort_like_pandas(spark, small_on, no_udf):
    # 40 keys, each twice: pandas' sort of the counts (not first-appearance
    # order) decides the order of ties past numpy's 16-element insertion sort
    rng = np.random.default_rng(3)
    ints = pd.DataFrame({"k": rng.permutation(np.repeat(np.arange(40), 2)),
                         "j": rng.permutation(np.repeat(np.arange(20), 4))})
    strs = pd.DataFrame({"s": rng.permutation(np.repeat([f"v{i}" for i in range(20)], 4))})
    for pdf in (ints, strs):
        for f in (_VC["plain"], _VC["ascending"]):
            _check(_spark_backed(pdf).apply(f), pdf.apply(f))


def test_value_counts_nan_and_none(spark, small_on, no_udf):
    pdf = pd.DataFrame({"f": [1.0, np.nan, 2.0, np.nan, 1.0, np.nan],
                        "s": ["a", None, "b", None, "a", "a"]})
    for f in (_VC["dropna_false"], _VC["plain"], _VC["sort_false"]):
        for c in ("f", "s"):
            _check(_spark_backed(pdf[[c]]).apply(f), pdf[[c]].apply(f))


def test_value_counts_aligned_union_and_duplicate_labels(spark, small_on, no_udf):
    f = _VC["plain"]
    same = pd.DataFrame({"a": [1, 1, 2, 3], "b": [3, 2, 1, 1]})    # identical indexes
    union = pd.DataFrame({"a": [1, 1, 2, 5], "b": [7, 7, 7, 1]})   # differing -> union
    dup = pd.DataFrame([[1, 2, 2], [1, 3, 2], [4, 3, 2]], columns=["x", "y", "x"])
    for pdf in (same, union, dup):
        _check(_spark_backed(pdf).apply(f), pdf.apply(f))


def test_value_counts_multiindex_input(spark, small_on, no_udf):
    mi = pd.MultiIndex.from_tuples([("x", 1), ("x", 2), ("y", 1), ("y", 2), ("z", 1)],
                                   names=["g", "n"])
    pdf = pd.DataFrame({"a": [1, 2, 2, 3, 3], "b": ["p", "q", "p", "p", "r"]}, index=mi)
    f = _VC["plain"]
    _check(_spark_backed(pdf[["a"]]).apply(f), pdf[["a"]].apply(f))
    _check(_spark_backed(pdf[["b"]]).apply(f), pdf[["b"]].apply(f))


@pytest.mark.parametrize("name", ["nunique", "nunique_dropna_false", "count", "min", "max"])
def test_reduction_kernels_match_pandas(spark, small_on, no_udf, name):
    f = {"nunique": lambda s: s.nunique(),
         "nunique_dropna_false": lambda s: s.nunique(dropna=False),
         "count": lambda s: s.count(),
         "min": lambda s: s.min(),
         "max": lambda s: s.max()}[name]
    pdf = _frame()
    if name in ("min", "max"):
        pdf = pdf.drop(columns="s")  # pandas cannot order None against str
    got = _spark_backed(pdf).apply(f)
    assert isinstance(got, pd.Series)
    _check(got, pdf.apply(f))


def test_reduction_kernels_edge_values(spark, small_on, no_udf):
    pdf = pd.DataFrame({"z": [0.0, -0.0, 1.0, np.nan], "n": [np.nan] * 4,
                        "s": ["b", "a", None, "c"], "big": [2**62 + 1, 2**62 + 3, 5, 7]})
    for f in (lambda s: s.nunique(), lambda s: s.nunique(dropna=False), lambda s: s.count()):
        _check(_spark_backed(pdf).apply(f), pdf.apply(f))
    num = pdf.drop(columns="s")
    for f in (lambda s: s.min(), lambda s: s.max()):
        _check(_spark_backed(num).apply(f), num.apply(f))


def test_reduction_kernel_ignores_cardinality(spark, monkeypatch, no_udf):
    # 300 distinct values per column against a threshold of 2: the answer
    # is still 2 numbers, from one aggregate action (each of its shuffle
    # stages and its result stage is one job; a distinct count shuffles twice)
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "2")
    pdf = pd.DataFrame({"a": np.arange(300), "b": np.arange(300) / 7})
    m = _spark_backed(pdf)
    for f, stages in ((lambda s: s.max(), 2), (lambda s: s.nunique(), 3)):
        got, jobs = _jobs(spark, lambda: m.apply(f))
        assert jobs <= stages, jobs
        _check(got, pdf.apply(f))


def test_kernel_runs_one_partial_aggregate(spark, small_on, no_udf):
    m = _spark_backed(_frame()[["i", "f"]])
    out, jobs = _jobs(spark, lambda: m.apply(lambda s: s.value_counts()))
    assert out._frame.native_pdf is not None  # the result is a native frame
    assert jobs <= 2, jobs


@pytest.mark.parametrize("case", ["categorical", "over_threshold", "head", "dropna_first",
                                  "np_max", "reads_name"])
def test_other_funcs_keep_the_udf_path(spark, udf_calls, monkeypatch, case):
    """Each case gives what the threshold-0 engine gives (pandas' own answer
    for the categorical and s.name cases), through applyInPandas."""
    pdf = pd.DataFrame({"a": [1, 2, 2, 3, 4, 5], "b": [1.0, 1.0, 2.0, np.nan, 2.0, 3.0]})
    func = lambda s: s.value_counts()  # noqa: E731
    threshold = "5000"
    if case == "categorical":
        pdf = pd.DataFrame({"c": pd.Categorical(["x", "y", "x"], categories=["x", "y", "z"])})
    elif case == "over_threshold":
        pdf = pdf[["a"]]  # 5 distinct values over a threshold of 3
        threshold = "3"
    elif case == "head":
        func = lambda s: s.value_counts().head(2)  # noqa: E731
    elif case == "dropna_first":
        func = lambda s: s.dropna().value_counts()  # noqa: E731
    elif case == "np_max":
        func = np.max
    else:
        def func(s):
            try:
                if s.name == "a":
                    return s.max()
            except AttributeError:
                pass
            return s.min()
    if case in ("categorical", "reads_name"):
        # the column's dtype and name reach func: pandas itself is the reference
        exp = pdf.apply(func)
    else:
        exp = _spark_backed(pdf).apply(func)
        exp = exp.to_pandas() if hasattr(exp, "to_pandas") else exp
    udf_calls.clear()
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", threshold)
    got = _spark_backed(pdf).apply(func)
    assert udf_calls, "expected the applyInPandas path"
    _check(got, exp)


# ---------------------------------------------------------------- transpose

def test_transpose_round_trip_one_collect(spark, monkeypatch):
    # the benchmark's shape: a small two-key aggregate, T and back
    src = pd.DataFrame({"k1": list("xxyyz"), "k2": [1, 2, 1, 1, 2], "v": np.arange(5.0),
                        "w": np.arange(5.0) * 3})

    def round_trip(m):
        g = m.groupby(["k1", "k2"]).sum()
        return _jobs(spark, lambda: g.T)

    exp = src.groupby(["k1", "k2"]).sum()
    _, jobs_off = round_trip(_spark_backed(src))
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5000")
    t, jobs_t = round_trip(_spark_backed(src))
    assert t._frame.native_pdf is not None
    back, jobs_back = _jobs(spark, lambda: t.T.reset_index().rename(columns={"v": "V"}))
    assert jobs_back == 0, jobs_back  # native from here on
    assert jobs_t <= jobs_off, (jobs_t, jobs_off)
    pd.testing.assert_frame_equal(t.to_pandas(), exp.T)
    pd.testing.assert_frame_equal(back.to_pandas(),
                                  exp.T.T.reset_index().rename(columns={"v": "V"}))


def test_transpose_mixed_and_duplicate_labels(spark, small_on):
    mixed = pd.DataFrame({"a": [1, 2, 3], "s": ["x", "y", None], "f": [1.5, np.nan, 3.0]},
                         index=pd.Index(["p", "q", "r"]))
    got = _spark_backed(mixed).T.to_pandas()
    assert pd.isna(got.loc["s", "r"]) and got.loc["a", "p"] == "1"
    dup = pd.DataFrame({"a": [1.5, 2.5], "b": [3.5, 4.5]}, index=pd.Index(["k", "k"]))
    pd.testing.assert_frame_equal(_spark_backed(dup).T.to_pandas(), dup.T)


def test_transpose_over_threshold_pays_one_action(spark, monkeypatch):
    pdf = pd.DataFrame({"a": np.arange(8.0), "b": np.arange(8.0) * 2})
    m = _spark_backed(pdf)
    _, jobs_off = _jobs(spark, lambda: m.T)
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5")  # 8 rows: over it
    m = _spark_backed(pdf)
    t, jobs_on = _jobs(spark, lambda: m.T)
    assert t._frame.native_pdf is None  # the distributed path ran
    assert jobs_on <= jobs_off + 1, (jobs_off, jobs_on)
    pd.testing.assert_frame_equal(t.to_pandas(), pdf.T, check_column_type=False)


# --------------------------------- existing cases, again with the threshold on

_RERUN = {
    "test_round4_fixes": [
        "test_apply_axis0_distributed_plan", "test_apply_axis0_reduction",
        "test_apply_axis0_nonnumeric_falls_back", "test_transpose_distributed",
        "test_transpose_distributed_labeled", "test_transpose_mixed_dtype_driver_path",
    ],
    "test_round6_fixes": [
        "test_transpose_mixed_distributed_values",
        "test_transpose_mixed_retype_bigint_and_double", "test_transpose_guard_env",
        "test_apply_axis0_mixed_transform", "test_apply_axis0_mixed_reduction",
        "test_apply_axis0_strings_no_driver_warning",
    ],
    "test_round7_fixes": [
        "test_apply_axis0_bigint_exact", "test_transpose_multilevel_mixed_dtypes",
        "test_transpose_dup_labels_roundtrip_values", "test_apply_axis0_value_counts_numeric",
        "test_apply_axis0_describe_order_preserved", "test_apply_axis0_value_counts_strings",
        "test_apply_axis0_head_like", "test_apply_axis0_reshape_no_driver_fallback",
        "test_apply_axis0_head_keeps_real_index_labels",
        "test_apply_axis0_nlargest_typed_index",
        "test_apply_axis0_duplicate_result_labels_aligned",
        "test_apply_axis0_duplicate_labels_differing_raises",
        "test_transpose_columns_carry_index_name",
        "test_apply_axis0_reduction_sees_real_index",
        "test_apply_axis0_transform_sees_real_index", "test_apply_axis0_reshape_bool_index",
        "test_apply_axis0_reshape_dup_column_labels_numeric",
        "test_apply_axis0_multiindex_input_labels",
        "test_apply_axis0_string_output_from_int_frame",
        "test_apply_axis0_bool_transform_output", "test_apply_axis0_reduction_exact_bigint",
    ],
    "test_round8_fixes": [
        "test_apply_axis0_reshape_multiindex_input_distributed",
        "test_apply_axis0_reshape_multiindex_result_index",
        "test_apply_axis0_reshape_multiindex_describe",
        "test_apply_axis0_sampling_contract_guard",
    ],
}
# The cases left out assert a distributed plan for the transposed frame
# (no LocalRelation), which a driver-finished transpose does not have by
# design: test_round6 test_transpose_mixed_no_driver_materialization and
# test_round7 test_transpose_duplicate_index_labels /
# test_transpose_multilevel_index_to_multiindex_columns. Their inputs are
# covered above.


@pytest.fixture(params=[f"{m}::{t}" for m, ts in _RERUN.items() for t in ts])
def threshold_on_case(request, monkeypatch):
    """An existing apply(axis=0) / transpose case, run with the threshold on.
    Every frame is Spark-backed (ingested when built), so the collects of
    the small-result paths run and their results round-trip through Spark."""
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5000")
    built = SparkFrame.from_pandas.__func__

    def spark_backed(cls, pdf, spark=None):
        nf = built(cls, pdf, spark)
        nf.sdf  # ingest now
        return nf

    monkeypatch.setattr(SparkFrame, "from_pandas", classmethod(spark_backed))
    mod, name = request.param.split("::")
    return getattr(importlib.import_module(mod), name)


def test_existing_case_with_threshold_on(threshold_on_case, request):
    args = {p: request.getfixturevalue(p)
            for p in inspect.signature(threshold_on_case).parameters}
    threshold_on_case(**args)
