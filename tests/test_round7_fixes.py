"""Regression tests for the round-7 ADVICE defects (excel fixes live in
test_excel.py): str.extract alternation-group NULLs and exact big-int
scalars through the non-numeric apply(axis=0) reduction decode."""

import numpy as np
import pandas as pd

import modin_spark.pandas as mpd
from modin_spark.plans import optimized_plan


def S(ps):
    return mpd.from_pandas(ps.to_frame("v")).v


def test_extract_alternation_groups_nan(spark):
    # (a)|(b): the losing branch's group must be NaN, not '' (pandas parity)
    vals = ["apple", "berry", "cherry"]
    ps = pd.Series(vals)
    ms = S(ps)
    pat = r"(ap\w+)|(be\w+)"
    exp = ps.str.extract(pat)
    got = ms.str.extract(pat).to_pandas()
    got.columns = exp.columns
    pd.testing.assert_frame_equal(got, exp)


def test_extract_nested_alternation(spark):
    ps = pd.Series(["x=1", "y=2", "z"])
    ms = S(ps)
    pat = r"(?:(x)=(\d)|(y)=(\d))"
    exp = ps.str.extract(pat)
    got = ms.str.extract(pat).to_pandas()
    got.columns = exp.columns
    pd.testing.assert_frame_equal(got, exp)


def test_extract_optional_still_works(spark):
    # the pre-round-7 cases must keep working after the parse-tree rewrite
    ps = pd.Series(["ab1", "ab", "zz"])
    ms = S(ps)
    pat = r"(a)(b)(\d)?"
    exp = ps.str.extract(pat)
    got = ms.str.extract(pat).to_pandas()
    got.columns = exp.columns
    pd.testing.assert_frame_equal(got, exp)


def test_apply_axis0_bigint_exact(spark):
    # reduction scalars decode via int(v) first — exact past 2^53
    big = 2**60
    pdf = pd.DataFrame({"a": [big, big + 1, big + 2], "s": ["x", "y", "z"]})
    mdf = mpd.from_pandas(pdf)
    got = mdf.apply(lambda s: s.iloc[0] if s.dtype == object else int(s.sum()))
    exp = pdf.apply(lambda s: s.iloc[0] if s.dtype == object else int(s.sum()))
    if hasattr(got, "to_pandas"):
        got = got.to_pandas()
    assert got["a"] == exp["a"] == 3 * big + 3
    assert got["s"] == "x"


# ---------------------------------------------------------------------------
# transpose: duplicate index labels + multi-level index run DISTRIBUTED
# (position-keyed melt/map — the driver path remains only for over-guard)
# ---------------------------------------------------------------------------


def _plan_is_distributed(df):
    # the transposed frame's plan must not be a driver LocalRelation /
    # parallelized pandas payload
    plan = optimized_plan(df._frame.sdf)
    return "LocalRelation" not in plan.split("\n")[0]


def test_transpose_duplicate_index_labels(spark):
    pdf = pd.DataFrame(
        {"a": [1, 2, 3], "b": [4.0, 5.0, 6.0]},
        index=pd.Index(["x", "y", "x"]),
    )
    m = mpd.from_pandas(pdf).T
    assert _plan_is_distributed(m)
    got = m.to_pandas()
    exp = pdf.T
    assert list(got.columns) == list(exp.columns)  # x, y, x preserved
    np.testing.assert_allclose(got.values.astype(float), exp.values.astype(float))


def test_transpose_multilevel_index_to_multiindex_columns(spark):
    idx = pd.MultiIndex.from_tuples(
        [("g1", "r1"), ("g1", "r2"), ("g2", "r1")], names=["g", "r"]
    )
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": [10, 20, 30]}, index=idx)
    m = mpd.from_pandas(pdf).T
    assert _plan_is_distributed(m)
    got = m.to_pandas()
    exp = pdf.T
    assert got.columns.nlevels == 2
    assert [tuple(t) for t in got.columns] == [tuple(t) for t in exp.columns]
    np.testing.assert_allclose(got.values.astype(float), exp.values.astype(float))


def test_transpose_multilevel_mixed_dtypes(spark):
    idx = pd.MultiIndex.from_tuples([("a", 1), ("a", 2), ("b", 1)])
    pdf = pd.DataFrame(
        {"n": [1, 2, 3], "s": ["u", "v", "w"]}, index=idx
    )
    got = mpd.from_pandas(pdf).T.to_pandas()
    exp = pdf.T
    # level values stringify in the distributed path
    assert [tuple(str(x) for x in t) for t in got.columns] == [
        tuple(str(x) for t2 in [t] for x in t2) for t in exp.columns
    ]
    assert got.loc["s"].tolist() == exp.loc["s"].tolist()


def test_transpose_dup_labels_roundtrip_values(spark):
    # T of a frame whose index has dups, then T back: values survive
    pdf = pd.DataFrame(
        {"a": [1.5, 2.5], "b": [3.5, 4.5]}, index=pd.Index(["k", "k"])
    )
    m = mpd.from_pandas(pdf).T
    got = m.to_pandas()
    assert list(got.columns) == ["k", "k"]
    np.testing.assert_allclose(got.values, pdf.T.values)


# ---------------------------------------------------------------------------
# shape-changing apply(axis=0) runs DISTRIBUTED (r7): per-column results
# align on their own indexes pandas-style (identical -> sequence order,
# differing -> union sort)
# ---------------------------------------------------------------------------


def test_apply_axis0_value_counts_numeric(spark):
    pdf = pd.DataFrame({"a": [3, 1, 2, 3, 3], "b": [10, 20, 10, 30, 30]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.value_counts()).to_pandas()
    exp = pdf.apply(lambda s: s.value_counts())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_apply_axis0_describe_order_preserved(spark):
    pdf = pd.DataFrame({"a": [3.0, 1.0, 2.0], "b": [10.0, 20.0, 10.0]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.describe()).to_pandas()
    exp = pdf.apply(lambda s: s.describe())
    # identical per-column indexes: count/mean/std/... order survives
    assert list(got.index) == list(exp.index)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_apply_axis0_value_counts_strings(spark):
    pdf = pd.DataFrame({"a": ["x", "y", "x"], "b": ["p", "p", "q"]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.value_counts()).to_pandas()
    exp = pdf.apply(lambda s: s.value_counts())
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_apply_axis0_head_like(spark):
    pdf = pd.DataFrame({"a": [5, 6, 7, 8], "b": [1, 2, 3, 4]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.head(2)).to_pandas()
    exp = pdf.apply(lambda s: s.head(2))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_apply_axis0_reshape_no_driver_fallback(spark, recwarn):
    import warnings as _w

    pdf = pd.DataFrame({"a": [1, 1, 2], "b": [3, 3, 3]})
    with _w.catch_warnings():
        _w.simplefilter("error")  # the driver fallback warns — must not fire
        mpd.from_pandas(pdf).apply(lambda s: s.value_counts()).to_pandas()


# ---------------------------------------------------------------------------
# reshape-apply review fixes: real input index, duplicate result labels,
# index-name parity on transpose
# ---------------------------------------------------------------------------


def test_apply_axis0_head_keeps_real_index_labels(spark):
    pdf = pd.DataFrame(
        {"a": [5, 6, 7, 8], "b": [1, 2, 3, 4]}, index=pd.Index(["w", "x", "y", "z"])
    )
    got = mpd.from_pandas(pdf.reset_index().set_index("index")[["a", "b"]]).apply(
        lambda s: s.head(2)
    ).to_pandas()
    exp = pdf.apply(lambda s: s.head(2))
    assert list(got.index) == ["w", "x"]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_names=False)


def test_apply_axis0_nlargest_typed_index(spark):
    # func USES the typed index (nlargest returns labels of the max rows)
    pdf = pd.DataFrame({"a": [5, 9, 7], "b": [3, 1, 8]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.nlargest(1)).to_pandas()
    exp = pdf.apply(lambda s: s.nlargest(1))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_apply_axis0_duplicate_result_labels_aligned(spark):
    # identical dup-labeled results: every row survives (pandas keeps 2n)
    pdf = pd.DataFrame({"a": [1, 2], "b": [3, 4]})
    got = mpd.from_pandas(pdf).apply(lambda s: pd.concat([s, s])).to_pandas()
    exp = pdf.apply(lambda s: pd.concat([s, s]))
    assert len(got) == 4
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_index_type=False)


def test_apply_axis0_duplicate_labels_differing_raises(spark):
    import pytest as _pt

    pdf = pd.DataFrame({"a": [1, 2], "b": [3, 4]})

    def f(s):
        if s.name == "a":
            return pd.Series([1, 2], index=["x", "x"])
        return pd.Series([3], index=["y"])

    with _pt.raises(ValueError, match="duplicate labels"):
        mpd.from_pandas(pdf).apply(f).to_pandas()


def test_transpose_columns_carry_index_name(spark):
    pdf = pd.DataFrame({"a": [1, 2], "b": [3, 4]},
                       index=pd.Index(["x", "y"], name="idx"))
    m = mpd.from_pandas(pdf.reset_index().set_index("idx")[["a", "b"]]).T
    assert m.to_pandas().columns.name == "idx"


def test_apply_axis0_reduction_sees_real_index(spark):
    # idxmax is label-dependent: the reduction branch must feed func the
    # frame's real index, not positions
    pdf = pd.DataFrame({"a": [5, 9, 7], "b": [3, 1, 8]},
                       index=pd.Index(["w", "x", "y"]))
    m = mpd.from_pandas(pdf.reset_index().set_index("index")[["a", "b"]])
    got = m.apply(lambda s: s.idxmax())
    exp = pdf.apply(lambda s: s.idxmax())
    assert list(got) == list(exp)  # ['x', 'y']


def test_apply_axis0_transform_sees_real_index(spark):
    # transform whose VALUES depend on the index
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0]}, index=pd.Index([10, 20, 30]))
    m = mpd.from_pandas(pdf.reset_index().set_index("index")[["a"]])
    got = m.apply(lambda s: s + s.index.to_series().astype(float)).to_pandas()
    exp = pdf.apply(lambda s: s + s.index.to_series().astype(float))
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy())


def test_apply_axis0_reshape_bool_index(spark):
    pdf = pd.DataFrame({"a": [True, True, False]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.value_counts()).to_pandas()
    exp = pdf.apply(lambda s: s.value_counts())
    assert set(got.index) == set(exp.index)  # boolean labels, not strings
    assert got.index.dtype.kind == "b"


def test_apply_axis0_reshape_dup_column_labels_numeric(spark):
    # duplicate COLUMN labels: out_cast must resolve positionally, keeping
    # numeric dtypes instead of degrading to strings
    pdf = pd.DataFrame([[1, 10], [1, 20], [2, 10]])
    pdf.columns = ["a", "a"]
    got = mpd.from_pandas(pdf).apply(lambda s: s.value_counts()).to_pandas()
    exp = pdf.apply(lambda s: s.value_counts())
    assert list(got.columns) == ["a", "a"]
    assert all(dt.kind in "if" for dt in got.dtypes)
    np.testing.assert_allclose(
        np.sort(got.fillna(-1).to_numpy(), axis=0),
        np.sort(exp.fillna(-1).to_numpy(), axis=0),
    )


def test_apply_axis0_multiindex_input_labels(spark):
    # multi-level-index frames: func sees a real MultiIndex in the
    # reduction branch (idxmax returns the tuple label)
    idx = pd.MultiIndex.from_tuples([("x", 1), ("y", 2), ("z", 3)])
    pdf = pd.DataFrame({"a": [5, 9, 7], "b": [1, 2, 8]}, index=idx)
    m = mpd.from_pandas(
        pdf.reset_index().set_index(["level_0", "level_1"])[["a", "b"]]
    )
    got = m.apply(lambda s: str(s.idxmax()))
    exp = pdf.apply(lambda s: str(s.idxmax()))
    assert list(got) == list(exp)


def test_apply_axis0_string_output_from_int_frame(spark):
    # int frame, string-returning transform: values keep pandas' '1' (not
    # '1.0') because ints ride the tagged melt and the output codec keys
    # on the sampled result dtype
    pdf = pd.DataFrame({"a": [3, 1, 2]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.astype(str)).to_pandas()
    exp = pdf.apply(lambda s: s.astype(str))
    assert got["a"].tolist() == exp["a"].tolist()


def test_apply_axis0_bool_transform_output(spark):
    pdf = pd.DataFrame({"a": [True, False, True]})
    got = mpd.from_pandas(pdf).apply(lambda s: ~s).to_pandas()
    exp = pdf.apply(lambda s: ~s)
    assert got["a"].tolist() == exp["a"].tolist()
    assert got["a"].dtype.kind == "b"


def test_apply_axis0_reduction_exact_bigint(spark):
    # int reductions ride the string codec: exact past 2^53
    big = 2**53 + 1
    pdf = pd.DataFrame({"a": [big, 1]})
    got = mpd.from_pandas(pdf).apply(lambda s: s.max())
    assert got["a"] == big and isinstance(got["a"], (int, np.integer))
