"""Decomposable column kernels for ``DataFrame.apply(func, axis=0)``.

Reference parity: Modin's TreeReduce, a partial per split and then a merge.
When ``func`` is one whitelisted Series call, Spark aggregates decide the
answer, so no task has to hold a whole column:

- ``recognise`` calls ``func`` once on a recording stand-in and returns the
  call it made, or None;
- the reductions (``count``, ``nunique``, ``min``, ``max``) are per-column
  aggregates of the one whole-column pass (``core.compiler.reduce_columns``),
  k answers however many distinct values a column has, finished by
  ``reduction_result``;
- ``value_counts`` is a per-(column, value) partial aggregate (the value's
  count and its first position), rebuilt by ``value_counts_result``;
- ``finish`` assembles the columns with pandas' own ``apply``.

Float ``sum`` and ``mean`` are left out on purpose: Spark does not add in
numpy's pairwise order, so their partials would not merge bit-identical to
pandas.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd

# the whitelisted calls and the signatures their arguments must bind to
_CALLS = {
    "value_counts": inspect.signature(
        lambda normalize=False, sort=True, ascending=False, bins=None, dropna=True: None),
    "nunique": inspect.signature(lambda dropna=True: None),
    "count": inspect.signature(lambda: None),
    "min": inspect.signature(lambda: None),
    "max": inspect.signature(lambda: None),
}


class _Log:
    __slots__ = ("calls", "tainted")

    def __init__(self) -> None:
        self.calls: list = []
        self.tainted = False


def _taint(self, *_a, **_k):
    object.__getattribute__(self, "_log").tainted = True
    raise TypeError("not a decomposable column kernel")


class _Stand:
    """The column Series as ``func`` sees it while being recognised (``open``)
    and the result of its one call (not open). Any other attribute, any
    operator and a second call taint the log, even when ``func`` catches
    the error."""

    __slots__ = ("_log", "_open")

    def __init__(self, log: _Log, open_: bool) -> None:
        object.__setattr__(self, "_log", log)
        object.__setattr__(self, "_open", open_)

    def __getattribute__(self, name):
        log = object.__getattribute__(self, "_log")
        if object.__getattribute__(self, "_open") and name in _CALLS and not log.calls:
            def call(*args, **kwargs):
                try:
                    bound = _CALLS[name].bind(*args, **kwargs)
                except TypeError:
                    bound = None
                if bound is not None:
                    bound.apply_defaults()
                    kw = dict(bound.arguments)
                    if kw.pop("bins", None) is not None or not all(
                            isinstance(v, (bool, np.bool_)) for v in kw.values()):
                        bound = None
                if bound is None or log.calls:
                    log.tainted = True
                token = _Stand(log, False)
                log.calls.append((name, kw if bound is not None else {}, token))
                return token
            return call
        log.tainted = True
        raise AttributeError(name)

    __setattr__ = __delattr__ = _taint


# every operator and conversion taints: a func that branches on one (even
# inside try/except) is not the single call it may return
for _dunder in (
    "bool", "len", "iter", "reversed", "contains", "getitem", "setitem", "delitem",
    "call", "eq", "ne", "lt", "le", "gt", "ge", "hash", "str", "repr", "format",
    "int", "float", "complex", "index", "round", "neg", "pos", "abs", "invert",
    "array", "array_ufunc", "array_function",
    *[f"{r}{op}" for op in ("add", "sub", "mul", "truediv", "floordiv", "mod", "pow",
                            "matmul", "and", "or", "xor", "lshift", "rshift", "divmod")
      for r in ("", "r", "i")],
):
    setattr(_Stand, f"__{_dunder}__", _taint)
del _dunder


def recognise(func) -> tuple[str, dict] | None:
    """``(name, kwargs)`` when ``func(s)`` is exactly ``s.<name>(**kwargs)``
    for a whitelisted call, else None."""
    log = _Log()
    try:
        out = func(_Stand(log, True))
    except Exception:
        return None
    if log.tainted or len(log.calls) != 1 or out is not log.calls[0][2]:
        return None
    name, kw, _ = log.calls[0]
    return name, kw


REDUCTIONS = frozenset(("count", "nunique", "min", "max"))


def reduction_result(name: str, val, decode):
    """The reduction's answer for one column from its aggregate ``val``;
    ``decode`` turns the melt-typed values into the column's pandas values."""
    if name in ("count", "nunique"):
        return int(val)
    # the extreme as a one-value column, reduced by pandas itself: its scalar
    # type and its all-missing answer are pandas' own
    return getattr(decode(pd.Series([val])), name)()


def value_counts_result(kw: dict, keys: pd.Series, counts: np.ndarray,
                        first: np.ndarray) -> pd.Series:
    """``value_counts(**kw)`` of the whole column, from its distinct ``keys``
    (the typed values, named by the column label), their ``counts`` and the
    position of each key's ``first`` appearance."""
    order = np.argsort(first, kind="stable")
    keys = keys.iloc[order].reset_index(drop=True)
    # keys that pandas counts as one (NaN and null both decode to NaN) merge
    # into the first of them
    codes, _ = pd.factorize(keys, use_na_sentinel=False)
    counts = np.bincount(codes, weights=counts[order]).astype("int64")
    keys = keys.iloc[np.unique(codes, return_index=True)[1]].reset_index(drop=True)
    na = keys.isna().to_numpy()
    # pandas' index for these keys (first-appearance order, dtype inference,
    # the NaN key when dropna=False), then pandas' own sort of the counts in
    # that order, which settles ties as pandas does
    idx = keys.value_counts(normalize=kw["normalize"], sort=False, dropna=kw["dropna"])
    kept = counts[~na] if kw["dropna"] else counts
    res = pd.Series(kept, index=idx.index, name=idx.name)
    if kw["sort"]:
        res = res.sort_values(ascending=kw["ascending"])
    if kw["normalize"]:
        res = res / kept.sum()
    return res


def finish(columns: pd.Index, results: list):
    """The per-column results assembled as pandas' apply(axis=0) assembles
    them: a frame for Series results, a Series for scalars."""
    it = iter(results)
    return pd.DataFrame(np.zeros((1, len(columns))), columns=columns).apply(lambda _: next(it))
