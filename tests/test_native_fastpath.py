"""Small-frame native fast path (round 10; reference parity:
NativeQueryCompiler, modin/core/storage_formats/pandas/
native_query_compiler.py + the threshold auto-switch in
query_compiler_caster.py:161).

Three contracts:
1. correctness — every dispatched op returns exactly what pandas returns
   AND exactly what the engine's Spark path returns (threshold on vs off);
2. laziness — pure-native chains never touch the JVM (zero py4j commands);
3. consistency — the deferred frame's schema equals what createDataFrame
   materializes, so mixing native and Spark ops never forks semantics.
"""

import numpy as np
import pandas as pd
import pytest

import modin_spark.pandas as mpd


@pytest.fixture()
def native_on(monkeypatch):
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5000")


def _pdf():
    rng = np.random.default_rng(7)
    n = 60
    return pd.DataFrame(
        {
            "a": rng.integers(0, 20, n),
            "b": rng.random(n) * 10,
            "c": np.where(rng.random(n) < 0.3, np.nan, rng.random(n)),
            "k": rng.choice(list("xyz"), n),
        }
    )


def test_native_frames_defer_ingest_and_roundtrip(native_on, spark):
    p = _pdf()
    m = mpd.from_pandas(p)
    assert m._frame._sdf is None and m._frame.native_pdf is not None
    assert m.to_pandas().equals(p)
    assert m._frame._sdf is None, "round-trip must not ingest"


def test_native_schema_matches_materialized(native_on, spark):
    p = pd.DataFrame({
        "i8": np.array([1, 2], dtype="int8"),
        "i16": np.array([1, 2], dtype="int16"),
        "i32": np.array([1, 2], dtype="int32"),
        "i64": np.array([1, 2], dtype="int64"),
        "f32": np.array([1.5, 2.5], dtype="float32"),
        "f64": np.array([1.5, 2.5], dtype="float64"),
        "bo": [True, False],
        "s": ["a", None],
        "t": pd.date_range("2024-01-01", periods=2),
    })
    m = mpd.from_pandas(p)
    fr = m._frame
    nat = dict(fr.schema_map)
    _ = fr.sdf  # force ingestion
    mat = {f.name: f.dataType for f in fr.sdf.schema.fields}
    assert nat == mat


def test_native_ineligible_dtypes_ingest_eagerly(native_on, spark):
    for col in [np.array([1, 2], dtype="uint64"),
                pd.Series([["x"], ["y"]])]:
        m = mpd.from_pandas(pd.DataFrame({"c": col}))
        assert m._frame.native_pdf is None


def test_native_nullable_extension_schema_parity(native_on, spark):
    p = pd.DataFrame({
        "i_null": pd.array([1, None], dtype="Int64"),
        "i_full": pd.array([1, 2], dtype="Int64"),
        "i8": pd.array([1, 2], dtype="Int8"),
        "f32": pd.array([1.5, None], dtype="Float32"),
        "bo": pd.array([True, None], dtype="boolean"),
        "st": pd.array(["x", None], dtype="string"),
    })
    m = mpd.from_pandas(p)
    fr = m._frame
    assert fr.native_pdf is not None
    nat = dict(fr.schema_map)
    _ = fr.sdf
    mat = {f.name: f.dataType for f in fr.sdf.schema.fields}
    assert nat == mat


def test_native_ops_match_pandas_and_spark(native_on, spark):
    p = _pdf()

    cases = [
        ("rank", lambda d: d[["a", "b", "c"]].rank(method="min")),
        ("round", lambda d: d[["b", "c"]].round(2)),
        ("sort_values", lambda d: d.sort_values(["k", "a"], ascending=[True, False])),
        ("drop_duplicates", lambda d: d.drop_duplicates(subset=["k"])),
        ("melt", lambda d: d.melt(id_vars=["k"], value_vars=["a", "b"])),
        ("fillna", lambda d: d.fillna(0)),
        ("dropna", lambda d: d.dropna()),
        ("head", lambda d: d.head(7)),
        ("tail", lambda d: d.tail(7)),
        ("nlargest", lambda d: d.nlargest(5, "b")),
        ("nsmallest", lambda d: d.nsmallest(5, "b")),
        ("pivot_table", lambda d: d.pivot_table(values="b", index="k", aggfunc="mean")),
        ("transpose", lambda d: d[["a", "b"]].head(4).transpose()),
    ]
    for name, fn in cases:
        want = fn(p)
        m = mpd.from_pandas(p)
        got = fn(m)
        assert not isinstance(got, (pd.DataFrame, pd.Series)), name
        pd.testing.assert_frame_equal(
            got.to_pandas(), want, check_dtype=False, check_index_type=False
        ), name

    # raw-returning driver results
    for name, fn in [
        ("describe", lambda d: d.describe()),
        ("corr", lambda d: d[["a", "b", "c"]].corr()),
        ("cov", lambda d: d[["a", "b", "c"]].cov()),
        ("quantile", lambda d: d[["a", "b"]].quantile(0.5)),
    ]:
        want = fn(p)
        got = fn(mpd.from_pandas(p))
        assert type(got) is type(want), name
        if isinstance(want, pd.DataFrame):
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
        else:
            pd.testing.assert_series_equal(got, want, check_dtype=False)


def test_native_merge(native_on, spark):
    left = pd.DataFrame({"k": ["x", "y", "z"], "l": [1, 2, 3]})
    right = pd.DataFrame({"k": ["x", "y", "w"], "r": [10, 20, 30]})
    want = left.merge(right, on="k", how="left")
    got = mpd.from_pandas(left).merge(mpd.from_pandas(right), on="k", how="left")
    pd.testing.assert_frame_equal(got.to_pandas(), want, check_dtype=False)


def test_native_chain_never_touches_jvm(native_on, spark):
    import py4j.clientserver as cs

    p = _pdf()
    m = mpd.from_pandas(p)
    count = [0]
    orig = cs.ClientServerConnection.send_command

    def patched(self, *a, **k):
        count[0] += 1
        return orig(self, *a, **k)

    cs.ClientServerConnection.send_command = patched
    try:
        out = (m.fillna(0).sort_values("b").head(10).round(3)).to_pandas()
    finally:
        cs.ClientServerConnection.send_command = orig
    want = p.fillna(0).sort_values("b").head(10).round(3)
    pd.testing.assert_frame_equal(out, want, check_dtype=False)
    assert count[0] == 0, f"native chain crossed the bridge {count[0]} times"


def test_native_falls_through_to_spark_seamlessly(native_on, spark):
    p = _pdf()
    m = mpd.from_pandas(p)
    # groupby TRANSFORMS are not in the dispatch table -> this materializes
    # the Spark plan mid-chain and must still be exactly right
    got = m.groupby("k")["b"].cumsum().to_pandas()
    want = p.groupby("k")["b"].cumsum()
    assert np.allclose(got.values, want.values)
    assert m._frame._sdf is not None or m._frame.native_pdf is not None


def test_threshold_off_disables_native(monkeypatch, spark):
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "0")
    m = mpd.from_pandas(_pdf())
    assert m._frame.native_pdf is None and m._frame._sdf is not None


def test_spark_path_equals_native_path(monkeypatch, spark):
    p = _pdf()
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "5000")
    nat = mpd.from_pandas(p).rank(method="min").to_pandas()
    monkeypatch.setenv("MODIN_SPARK_NATIVE_MAX_ROWS", "0")
    spk = mpd.from_pandas(p).rank(method="min").to_pandas()
    pd.testing.assert_frame_equal(nat, spk, check_dtype=False)


def test_derived_series_arg_never_replays_as_column(native_on, spark):
    # df["a"]*100 keeps the NAME "a" but is NOT column "a": the native
    # dispatcher must not replay it as pdf["a"] (only the _series_at marker
    # qualifies a Series for native conversion)
    m = mpd.from_pandas(pd.DataFrame({"a": [1.0, 2.0], "b": [3.0, 4.0]}))
    derived = m["a"] * 100
    assert getattr(derived, "_native_col", None) is None
    assert getattr(m["a"], "_native_col", None) is not None
    from modin_spark.pandas.native import _convert_arg, _Bail

    with pytest.raises(_Bail):
        _convert_arg(derived)
    assert list(_convert_arg(m["a"])) == [1.0, 2.0]


def test_native_series_ops_match_pandas(native_on, spark):
    p = _pdf()
    m = mpd.from_pandas(p)
    # reductions: scalar results identical to pandas
    for red in ("sum", "mean", "min", "max", "count", "std", "var", "median"):
        want = getattr(p["b"], red)()
        got = getattr(m["b"], red)()
        assert abs(float(got) - float(want)) < 1e-9, red
    assert m["b"].quantile(0.5) == p["b"].quantile(0.5)
    # skipna=False poisons like pandas
    assert np.isnan(m["c"].sum(skipna=False)) == np.isnan(p["c"].sum(skipna=False))
    # transforms / selections
    for name, fn in [
        ("sort_values", lambda s: s.sort_values(ascending=False)),
        ("head", lambda s: s.head(5)),
        ("tail", lambda s: s.tail(5)),
        ("nlargest", lambda s: s.nlargest(4)),
        ("nsmallest", lambda s: s.nsmallest(4)),
        ("drop_duplicates", lambda s: s.drop_duplicates()),
        ("value_counts", lambda s: s.value_counts()),
        # bins= returns an IntervalIndex the lazy native ingest cannot type:
        # it must take the Spark path
        ("value_counts(bins)", lambda s: s.value_counts(bins=3)),
    ]:
        want = fn(p["a"])
        got = fn(m["a"]).to_pandas()
        assert list(got.values) == list(want.values), name
    assert list(m["a"].unique()) == list(p["a"].unique())
    pd.testing.assert_series_equal(m["b"].describe(), p["b"].describe())


def test_native_series_chain_zero_jvm(native_on, spark):
    import py4j.clientserver as cs

    p = _pdf()
    m = mpd.from_pandas(p)
    count = [0]
    orig = cs.ClientServerConnection.send_command

    def patched(self, *a, **k):
        count[0] += 1
        return orig(self, *a, **k)

    cs.ClientServerConnection.send_command = patched
    try:
        total = m["b"].sum()
        vc = m["k"].value_counts().to_pandas()
        top = m["b"].nlargest(3).to_pandas()
    finally:
        cs.ClientServerConnection.send_command = orig
    # Series extraction builds a Column object (a few constant py4j calls,
    # ~1ms) but must run ZERO jobs: the source frame stays un-ingested.
    # The call count is a noisy proxy (JVM heartbeats share the connection
    # under concurrent load); the _sdf-is-None check below is the real gate.
    assert count[0] < 80, count[0]
    assert m._frame._sdf is None, "Series chain must not ingest the frame"
    assert abs(total - p["b"].sum()) < 1e-9
    assert list(vc.values) == list(p["k"].value_counts().values)
    assert list(top.values) == list(p["b"].nlargest(3).values)


def test_native_groupby_agg_zero_jvm(native_on, spark):
    import py4j.clientserver as cs

    p = pd.DataFrame({"k": list("xyxzy"), "v": [1.0, 2, 3, 4, 5]})
    m = mpd.from_pandas(p)
    count = [0]
    orig = cs.ClientServerConnection.send_command

    def patched(self, *a, **k):
        count[0] += 1
        return orig(self, *a, **k)

    # JVM housekeeping threads (accumulator/GC callbacks) can issue
    # send_command asynchronously under load — retry the measured block so
    # background chatter doesn't fail the zero-jobs invariant spuriously
    for _attempt in range(3):
        count[0] = 0
        cs.ClientServerConnection.send_command = patched
        try:
            r1 = m.groupby("k").agg(s=("v", "sum")).reset_index().to_pandas()
            r2 = m.groupby("k").sum().to_pandas()
            r3 = m.groupby("k")["v"].agg(["sum", "mean"]).to_pandas()
            r4 = m.groupby("k", as_index=False, sort=False).mean().to_pandas()
        finally:
            cs.ClientServerConnection.send_command = orig
        if count[0] == 0:
            break
    assert count[0] == 0, count[0]
    assert r1.values.tolist() == p.groupby("k").agg(s=("v", "sum")).reset_index().values.tolist()
    assert r2.values.tolist() == p.groupby("k").sum().values.tolist()
    assert r3.values.tolist() == p.groupby("k")["v"].agg(["sum", "mean"]).values.tolist()
    assert r4.values.tolist() == p.groupby("k", as_index=False, sort=False).mean().values.tolist()


def test_native_series_inplace_mutators(native_on, spark):
    # an inplace mutator on a plain-column extraction must not leave the
    # series reading the pristine native column it came from
    p = _pdf()
    m = mpd.from_pandas(p)
    for name, args in [("fillna", (-1,)), ("clip", (0.2, 0.8)), ("sort_values", ())]:
        sm, sp = m["c"], p["c"].copy()
        assert getattr(sm, name)(*args, inplace=True) is None
        getattr(sp, name)(*args, inplace=True)
        got = sm.to_pandas()
        assert got.index.tolist() == sp.index.tolist(), name
        np.testing.assert_array_equal(got.values, sp.values, err_msg=name)
