"""Round-16 optimization tests: shift block+lag plan, halo explode, the
narrow position-offsets source, and the order_mid_complete debug guard."""

import numpy as np
import pandas as pd
import pytest

from modin_spark.plans import optimized_plan, physical_plan
from tests.conftest import assert_series_equal


def _mk(pdf):
    import modin_spark.pandas as mpd

    return mpd.from_pandas(pdf)


@pytest.fixture()
def events_pdf():
    rng = np.random.default_rng(7)
    n = 400
    return pd.DataFrame(
        {
            "a": rng.permutation(n),
            "b": np.where(rng.random(n) < 0.2, np.nan, rng.random(n) * 10),
            "k": rng.choice(list("xy"), n),
        }
    )


@pytest.mark.parametrize("periods", [1, 3, -1, -4, 0])
def test_shift_block_lag_matches_pandas(events_pdf, periods, monkeypatch):
    # debug flag on: every positional derivation also audits the
    # order_mid_complete invariant (round-16 guard)
    monkeypatch.setenv("MODIN_SPARK_DEBUG_ORDER", "1")
    m = _mk(events_pdf).sort_values("a")
    p = events_pdf.sort_values("a")
    assert_series_equal(m["b"].shift(periods), p["b"].shift(periods))


def test_shift_fill_value_only_fills_vacated(events_pdf):
    m = _mk(events_pdf).sort_values("a")
    p = events_pdf.sort_values("a")
    # fill_value must fill exactly the |periods| vacated head rows; NaNs
    # that were SHIFTED into range stay NaN (pandas semantics)
    assert_series_equal(m["b"].shift(2, fill_value=-5.0), p["b"].shift(2, fill_value=-5.0))


def test_shift_negative_fill_value_fallback(events_pdf):
    # fill_value with negative periods takes the join fallback (needs the
    # global row count to identify vacated positions)
    m = _mk(events_pdf).sort_values("a")
    p = events_pdf.sort_values("a")
    assert_series_equal(m["b"].shift(-2, fill_value=-5.0), p["b"].shift(-2, fill_value=-5.0))


def test_shift_spans_block_boundary(monkeypatch):
    # rows on both sides of a 65536-row block edge: the lag halo must carry
    # the last |periods| rows of block 0 into block 1
    import modin_spark.core.windows as W

    n = W.BLOCK + 50
    pdf = pd.DataFrame({"v": np.arange(n, dtype="float64")})
    m = _mk(pdf)
    got = m["v"].shift(3).to_pandas()
    exp = pdf["v"].shift(3)
    np.testing.assert_allclose(got.values, exp.values, equal_nan=True)


@pytest.mark.parametrize("sub", ["filter", "head", "slice", "dropna", "dedup"])
def test_positions_after_row_subsets_under_debug_guard(events_pdf, sub, monkeypatch):
    # row-dropping constructions must clear order_mid_complete; with the
    # debug guard active a violation would raise inside the fast path, and
    # the values must match pandas either way
    monkeypatch.setenv("MODIN_SPARK_DEBUG_ORDER", "1")
    m = _mk(events_pdf).sort_values("a")
    p = events_pdf.sort_values("a")
    if sub == "filter":
        m2, p2 = m[m["a"] > 100], p[p["a"] > 100]
    elif sub == "head":
        m2, p2 = m.head(37), p.head(37)
    elif sub == "slice":
        m2, p2 = m.iloc[5:200], p.iloc[5:200]
    elif sub == "dropna":
        m2, p2 = m.dropna(), p.dropna()
    else:
        m2, p2 = m.drop_duplicates(subset=["k"]), p.drop_duplicates(subset=["k"])
    assert_series_equal(m2["b"].shift(1), p2["b"].shift(1))
    assert_series_equal(m2["b"].cumsum(), p2["b"].cumsum())


def test_debug_guard_detects_flag_violation(events_pdf, monkeypatch):
    # manufacture the bug the guard exists for: a row subset smuggled
    # through _same_rows (which preserves order_mid_complete) must trip the
    # audit in with_global_position
    from pyspark.sql import functions as F

    monkeypatch.setenv("MODIN_SPARK_DEBUG_ORDER", "1")
    fr = _mk(events_pdf).sort_values("a")._frame
    assert fr.order_mid_complete
    broken = fr._same_rows(fr.sdf.where(F.col(fr.data_cols[0]) > 100))
    assert broken.order_mid_complete  # the smuggle "worked"
    with pytest.raises(AssertionError, match="order_mid_complete violated"):
        broken.with_global_position("__pos__").sdf.count()


def test_rolling_after_shift_single_scan_plan(events_pdf):
    # the r16 point: shift feeding rolling must not multiply parquet scans
    # (halo explode + narrow offsets source). 'before' was 32 scans on the
    # bench's rolling_pair_corr shape; assert the structural ceiling.
    m = _mk(events_pdf).sort_values("a")
    x = m["b"]
    r = x.rolling(7).corr(x.shift(1))
    plan = physical_plan(r._frame.sdf)
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 8
    got = r.to_pandas()
    p = events_pdf.sort_values("a")
    exp = p["b"].rolling(7).corr(p["b"].shift(1))
    np.testing.assert_allclose(got.values, exp.values, equal_nan=True, rtol=1e-9, atol=1e-9)


def test_spread_target_size_adaptive():
    # guide §2.2: the spread fan-out must derive from input size, not the
    # core count — a tiny corpus round-robined to 32 tasks anti-scales
    # (quiet-window bench: docs family faster at 8 cores than 32), while a
    # big input must still saturate the session's parallelism.
    from modin_spark.session import get_spark, spread_target

    spark = get_spark()
    par = spark.sparkContext.defaultParallelism
    # ~600 KB (the sf0.1 corpus): a handful of tasks, NOT one per core
    small = spread_target(spark, 600 * 1024)
    assert 1 <= small <= 8
    # no size signal -> previous behavior (full parallelism)
    assert spread_target(spark, None) == par
    # big input saturates the cap at any realistic parallelism
    assert spread_target(spark, 50 << 30) == par


def test_spread_for_udf_uses_size_estimate():
    # the dedup/similarity UDF spread must follow the same size rule: a
    # tiny frame gets a small fan-out, and the repartition count shows up
    # in the physical plan
    from modin_spark.operators.dedup import _spread_for_udf
    from modin_spark.session import get_spark

    spark = get_spark()
    pdf = pd.DataFrame({"doc_id": range(2000), "text": ["alpha beta gamma"] * 2000})
    df = spark.createDataFrame(pdf).coalesce(1)
    out = _spread_for_udf(df)
    n = out.rdd.getNumPartitions()
    # a ~60 KB frame must get a SMALL fan-out (or none), never one-per-core
    assert n <= 4


def test_transpose_output_order_is_dense_projection(monkeypatch):
    # a transpose output's ORDER is the dense 0..w-1 cid stream, so a
    # positional consumer must project positions — no bucket/row_number
    # exchange, no offsets table (r16 opt). The audit mode re-checks the
    # density claim end-to-end.
    monkeypatch.setenv("MODIN_SPARK_DEBUG_ORDER", "1")
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0], "b": [4.0, 5.0, 6.0], "c": [7.0, 8.0, 9.0]})
    t = mpd.DataFrame(pdf).T
    assert t._frame.order_dense
    before = physical_plan(t._frame.sdf).count("Exchange")
    pos = t._frame.with_global_position("__p__")
    after = physical_plan(pos.sdf).count("Exchange")
    assert after == before  # pure projection: no new exchange
    got = [r["__p__"] for r in pos.sdf.orderBy("__p__").select("__p__").collect()]
    assert got == [0, 1, 2]
    # any row subset clears the flag (density broken)
    sub = t._frame._subset_rows(t._frame.sdf.limit(2))
    assert not sub.order_dense
    # and the full round trip stays pandas-exact under the audit
    back = mpd.DataFrame(pdf).T.T.to_pandas()
    pd.testing.assert_frame_equal(back, pdf)


def test_second_transpose_skips_persist():
    # T.T on a numeric frame: the second transpose's melt is the only
    # consumer of its input (header collect skipped via the known index,
    # retype probe skipped via numeric_only), so it must NOT stack a second
    # uuid-tagged cache on top of the first transpose's (r16 opt)
    import modin_spark.pandas as mpd

    pdf = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    t1 = mpd.DataFrame(pdf).T
    t2 = t1.T
    p1 = optimized_plan(t1._frame.sdf)
    p2 = optimized_plan(t2._frame.sdf)
    assert p2.count("InMemoryRelation") == p1.count("InMemoryRelation")


def test_bounded_window_input_is_pinned(events_pdf):
    # guide §5: when Catalyst PROVES the block input is bounded (a
    # limit/TakeOrdered head, <= one BLOCK), the block machinery pins it —
    # each consumer branch would otherwise replay a FULL-data
    # TakeOrderedAndProject (12 of them in ewm_mean's pre-change plan).
    # Unbounded inputs must stay unpinned (the r15/r16 measured rejections).
    import modin_spark.pandas as mpd

    m = mpd.DataFrame(events_pdf).sort_values("a").head(500)
    r = m["b"].rolling(5).mean()
    plan = optimized_plan(r._frame.sdf)
    assert "InMemoryRelation" in plan
    # parity against pandas on the same head
    p = events_pdf.sort_values("a").head(500)
    exp = p["b"].rolling(5).mean()
    np.testing.assert_allclose(
        r.to_pandas().values, exp.values, equal_nan=True, rtol=1e-9, atol=1e-9)

    m2 = mpd.DataFrame(events_pdf).sort_values("a")
    r2 = m2["b"].rolling(5).mean()
    plan2 = optimized_plan(r2._frame.sdf)
    assert "InMemoryRelation" not in plan2


def test_pin_fifo_evicts_beyond_cap(spark):
    # persisted intermediates never outlive the FIFO bound: pinning past
    # PIN_CAP unpersists the oldest entries, newest PIN_CAP stay cached
    from modin_spark.core import frame as cf

    pinned = [cf.pin(spark.range(3)) for _ in range(20)]
    try:
        assert cf.PIN_CAP == 16
        assert len(cf._PINNED) == 16
        assert all(a is b for a, b in zip(cf._PINNED, pinned[4:]))
        assert not any(p.is_cached for p in pinned[:4])
        assert all(p.is_cached for p in pinned[4:])
    finally:
        for p in pinned:
            cf.unpin(p)
    assert not any(p.is_cached for p in pinned)
