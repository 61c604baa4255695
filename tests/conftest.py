import os
import warnings

import numpy as np
import pandas as pd
import pytest

warnings.filterwarnings("ignore")

# The differential suite must exercise the DISTRIBUTED paths: tiny
# from_pandas frames would otherwise take the native pandas fast path and
# compare pandas against pandas. tests/test_native_fastpath.py re-enables it
# per-test to cover the native dispatch itself.
os.environ.setdefault("MODIN_SPARK_NATIVE_MAX_ROWS", "0")

# 8 shuffle partitions for the TEST session only (still multi-partition, so
# every distributed path is exercised): the suite runs thousands of tiny
# actions whose stages at the default 32 partitions are pure task-scheduling
# overhead — measured 2.0x wall-clock on test_groupby (113.9s -> 56.2s),
# which is what let the driver's verify window outrun the suite in r15.
# Respects an explicit override from the environment.
os.environ.setdefault("MODIN_SPARK_SHUFFLE_PARTITIONS", "8")
# same reasoning for the scan-split floor (tiny test parquet/from_pandas
# reads at 32 splits each): 8 gives another 1.77x on
# test_groupby+test_window (260s -> 147s); 4 measured no better (143s).
os.environ.setdefault("MODIN_SPARK_MIN_SCAN_PARTITIONS", "8")


@pytest.fixture(scope="module", autouse=True)
def pins_within_cap():
    """Persisted intermediates never outlive their FIFO bound."""
    yield
    from modin_spark.core import frame

    assert len(frame._PINNED) <= frame.PIN_CAP, len(frame._PINNED)


@pytest.fixture(scope="session")
def spark():
    from modin_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="session")
def pdf():
    """Reference-style small mixed frame (seed 42, like modin's test_data)."""
    rng = np.random.default_rng(42)
    n = 200
    return pd.DataFrame(
        {
            "a": rng.integers(0, 100, n),
            "b": rng.random(n) * 100,
            "c": np.where(rng.random(n) < 0.25, np.nan, rng.random(n) * 10),
            "k": rng.choice(list("xyz"), n),
            "s": [f"Str_{i % 17}{' ' if i % 5 == 0 else ''}" for i in range(n)],
            "t": pd.date_range("2024-01-01", periods=n, freq="37min"),
        }
    )


@pytest.fixture()
def mdf(pdf, spark):
    import modin_spark.pandas as mpd

    return mpd.from_pandas(pdf)


def assert_df_equal(mine, ref: pd.DataFrame, check_dtype=False, sort_by=None):
    got = mine.to_pandas() if hasattr(mine, "to_pandas") else mine
    ref = ref.reset_index(drop=True)
    got = got.reset_index(drop=True)
    if sort_by:
        ref = ref.sort_values(sort_by).reset_index(drop=True)
        got = got.sort_values(sort_by).reset_index(drop=True)
    assert list(got.columns) == list(ref.columns), (list(got.columns), list(ref.columns))
    for c in ref.columns:
        g, r = got[c], ref[c]
        if r.dtype.kind == "f" or g.dtype.kind == "f":
            np.testing.assert_allclose(
                g.astype(float).values, r.astype(float).values, rtol=1e-9, atol=1e-9, equal_nan=True
            )
        else:
            assert (g.fillna("␀") == r.fillna("␀")).all() if r.dtype == object else (
                g.astype("int64").fillna(-1) == r.astype("int64").fillna(-1)
            ).all(), f"column {c} differs:\n{pd.concat([g, r], axis=1).head(10)}"


def assert_series_equal(mine, ref: pd.Series):
    got = mine.to_pandas() if hasattr(mine, "to_pandas") else mine
    got = got.reset_index(drop=True)
    ref = ref.reset_index(drop=True)
    if ref.dtype.kind == "f":
        np.testing.assert_allclose(got.astype(float).values, ref.astype(float).values, rtol=1e-9, atol=1e-9, equal_nan=True)
    else:
        assert (got.fillna("␀") == ref.fillna("␀")).all() if ref.dtype == object else (got == ref).all()
