"""SparkFrame — the core distributed frame: a pyspark DataFrame plus the
metadata Spark lacks for pandas semantics (row order, index columns, label
table, row lineage).

Design notes (vs the reference, modin):

* The reference keeps a 2-D grid of pandas partitions
  (/root/reference/modin/core/dataframe/pandas/dataframe/dataframe.py:92) and
  hand-rolls shuffles/copartitioning. Here the physical layer is a single
  ``pyspark.sql.DataFrame``; Catalyst/Tungsten do partitioning, so SparkFrame
  is *metadata only*:

  - ``ORDER_COL`` (``__row_order__``): a monotonically increasing int64 that
    encodes pandas row order. It is NOT required to be contiguous — only
    strictly increasing in frame order. Produced by
    ``monotonically_increasing_id()`` (partition-major, so it respects read
    order / sort order) — never by a global single-partition window.
  - ``index_cols``: physical names of index-level columns. Empty list means
    the default positional RangeIndex (materialized only at ``to_pandas``).
  - ``columns`` / ``data_cols``: pandas labels for the *visible* data columns
    and the physical column names backing them. Physical names are globally
    unique (``c0, c1, ...`` from a process-wide counter), which makes
    duplicate labels, non-string labels, and cross-frame expression rebasing
    safe: a physical name seen anywhere always refers to the same computed
    content. Retired/hidden physical columns may remain in ``sdf`` — Catalyst
    column-prunes them, and egress always selects explicitly.

* Row lineage (``_lid`` / ``_chain``): column-level ops keep the same lineage
  id; row-subset ops (filter/head/slice/sort) derive a child id whose chain
  still contains the parent. A pure column expression anchored at frame A can
  be evaluated directly on frame B iff ``A._lid in B._chain`` and all
  referenced physical columns are present in B — this is what lets
  ``df[df.a > 0]`` and ``df["x"] = df.a + df.b`` run as narrow JVM-side
  expressions with no alignment join, while genuinely unrelated frames fall
  back to an index-alignment join (pandas semantics).

* Ordered-frame semantics: every operator documents its order contract.
  Narrow ops preserve ORDER_COL; sorts re-derive it *after* the range-shuffle
  (``orderBy`` then ``monotonically_increasing_id``); positional access uses a
  range-repartition + per-partition rank + partition-offset join — fully
  parallel (no single-task global window), the same TeraSort-style scheme the
  reference implements by hand in
  /root/reference/modin/core/dataframe/pandas/dataframe/utils.py:111.
"""

from __future__ import annotations

import itertools
import os
import uuid
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame as SDF, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # user-facing knobs (modin.config parity); standalone module, no cycle
    from modin_spark import config as _config
except ImportError:  # pragma: no cover
    _config = None

ORDER_COL = "__row_order__"

_uid_counter = itertools.count()
_lid_counter = itertools.count()

def _fresh_name() -> str:
    return f"c{next(_uid_counter)}"


def fresh_names(n: int) -> list[str]:
    return [_fresh_name() for _ in range(n)]


# ---------------------------------------------------------------------------
# pinned intermediates
# ---------------------------------------------------------------------------

# Bounded FIFO of persisted intermediates (bounded window inputs, transpose
# inputs, shape-changing-apply task outputs). Evicting beyond PIN_CAP bounds
# executor storage without coupling cache lifetime to driver GC. Recompute
# after eviction is correct because every pinned plan is a pure function of
# its inputs (the apply contract assumes a PURE func, as pandas itself
# re-invokes apply funcs; an impure func could diverge from the alignment
# decision baked in at call time — documented limitation).
PIN_CAP = 16
PIN_TAG = "__pin__"
_PINNED: list = []


def pin(sdf: SDF) -> SDF:
    """Persist ``sdf`` and register it in the bounded FIFO; returns the
    persisted DataFrame, which carries an extra ``PIN_TAG`` column.

    The tag is a fresh uuid literal, so this call's canonical plan is
    unique: Spark's CacheManager is keyed by canonicalized plan, so two
    identically-shaped builds (e.g. a bench's second run) would otherwise
    share one cache entry, and evicting one would clear the other's cache
    mid-flight."""
    pinned = sdf.withColumn(PIN_TAG, F.lit(uuid.uuid4().hex)).persist()
    _PINNED.append(pinned)
    while len(_PINNED) > PIN_CAP:
        _unpersist(_PINNED.pop(0))
    return pinned


def unpin(sdf: SDF) -> None:
    """Release a DataFrame returned by ``pin`` ahead of its FIFO eviction."""
    _unpersist(sdf)
    _PINNED[:] = [c for c in _PINNED if c is not sdf]


def _unpersist(sdf: SDF) -> None:
    try:  # session may already be gone at interpreter shutdown
        sdf.unpersist()
    except Exception:
        pass


# ---------------------------------------------------------------------------
# prefix carry: per-bucket totals -> exclusive prefix -> broadcast join-back
# ---------------------------------------------------------------------------

# window frames of a carry: every bucket before / after the row's own
CARRY_FWD = "UNBOUNDED PRECEDING AND 1 PRECEDING"
CARRY_BWD = "1 FOLLOWING AND UNBOUNDED FOLLOWING"


def sql_name(name) -> str:
    return "`%s`" % str(name).replace("`", "``")


def carry_key(key: str) -> str:
    """The carry table's name for bucket column ``key``: ``__blk__`` ->
    ``__blk2__``, so the join back is unambiguous."""
    return key[:-2] + "2__"


def carry_table(totals: SDF, key: str, carries, keep: Sequence[str] = ()) -> SDF:
    """Carry-in of every bucket: an exclusive prefix, in bucket ``key``
    order, over ``totals`` (one row per bucket). This is the reference's
    Fold carry across row partitions (modin/core/dataframe/algebra/fold.py)
    as one Spark stage; #buckets rows is tiny, so the single-partition
    window over it is bounded, unlike a global window over the rows.

    ``carries``: ``(alias, aggregate, frame[, zero])`` — ``aggregate`` is
    SQL over a totals column (``sum(count)``, ``last(`x`, true)``), ``frame``
    CARRY_FWD or CARRY_BWD, and ``zero`` replaces the NULL carry of the
    first bucket. ``keep`` passes totals columns through unchanged. One
    selectExpr: one py4j round trip however many carries."""
    sel = [f"{key} as {carry_key(key)}", *keep]
    for alias, agg, frame, *zero in carries:
        e = f"{agg} OVER (ORDER BY {key} ROWS BETWEEN {frame})"
        if zero:
            e = f"coalesce({e}, {zero[0]})"
        sel.append(f"{e} as {sql_name(alias)}")
    return totals.selectExpr(*sel)


def carry_join(stream: SDF, table: SDF, key: str, how: str = "left") -> SDF:
    """Join a ``carry_table`` back onto the rows of each bucket, broadcast-
    side. Callers that reuse one table (the mid-offsets memo) get one
    broadcast that Spark plans once. The stream keeps ``carry_key(key)``:
    callers drop it with their own scaffolding columns (one py4j drop, not
    two), and before a second carry_join on the result."""
    return stream.join(F.broadcast(table), F.expr(f"{key} = {carry_key(key)}"), how)


def dense_positions(sdf: SDF, bucket: str, order: str, out: str,
                    local: str = "__lr__", offset: str = "__off__") -> SDF:
    """Attach ``out``: contiguous 0-based positions in (``bucket``,
    ``order``) order — ``row_number`` within the bucket (as ``local``) plus
    the carry of the row counts of every earlier bucket (as ``offset``).
    ``bucket`` must be a deterministic function of the row (see
    ``SparkFrame._order_bucket_sql``), never a range-shuffle partition id."""
    sdf = sdf.selectExpr(
        "*", f"row_number() OVER (PARTITION BY {bucket} ORDER BY {order}) - 1 as {local}")
    counts = carry_table(sdf.groupBy(bucket).count(), bucket,
                         [(offset, "sum(count)", CARRY_FWD, 0)])
    sdf = carry_join(sdf, counts, bucket, "inner")
    return sdf.selectExpr("*", f"cast({local} + {offset} as bigint) as {sql_name(out)}")


# ---------------------------------------------------------------------------
# dtype mapping
# ---------------------------------------------------------------------------

_SPARK_TO_PANDAS = {
    T.ByteType: "int8",
    T.ShortType: "int16",
    T.IntegerType: "int32",
    T.LongType: "int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.BooleanType: "bool",
    T.StringType: "object",
    T.BinaryType: "object",
    T.DateType: "object",
    T.TimestampType: "datetime64[ns]",
    T.TimestampNTZType: "datetime64[ns]",
    T.DayTimeIntervalType: "timedelta64[ns]",
}


def spark_to_pandas_dtype(dt: T.DataType) -> str:
    for klass, name in _SPARK_TO_PANDAS.items():
        if isinstance(dt, klass):
            return name
    return "object"


_PANDAS_TO_SPARK_CAST = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "int": T.LongType(),
    "uint8": T.IntegerType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    # pandas nullable extension dtypes: Spark columns are nullable natively
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "UInt8": T.IntegerType(),
    "UInt16": T.IntegerType(),
    "UInt32": T.LongType(),
    "UInt64": T.LongType(),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "str": T.StringType(),
    "string": T.StringType(),
    "object": T.StringType(),
    "datetime64[ns]": T.TimestampType(),
    "timedelta64[ns]": T.DayTimeIntervalType(),
    "category": T.StringType(),
}


def leaf_bucket_sql(dtype: T.DataType | None, path: str) -> str | None:
    """``shiftright(leaf, 16)`` as SQL: a 65536-wide, order-monotone bucket of
    the integral value at ``path`` (of type ``dtype``). A struct recurses into
    its field 0 — struct comparison is lexicographic, so a monotone function
    of the leading leaf is monotone in the whole struct. None when that leaf
    is not integral."""
    while isinstance(dtype, T.StructType) and dtype.fields:
        path = f"{path}.{dtype.fields[0].name}"
        dtype = dtype.fields[0].dataType
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return f"shiftright(cast({path} as bigint), 16)"
    return None


def order_bucket_expr(sdf, colname: str, nparts: int = 0):
    """Column form of ``order_bucket_sql`` (see there for the contract)."""
    sql = order_bucket_sql(sdf, colname)
    return None if sql is None else F.expr(sql)


def order_bucket_sql(sdf, colname: str):
    """A DETERMINISTIC order-monotone bucket id for a sortable column —
    computed from the VALUE alone (sign, binary exponent, 6 mantissa
    bits; strings: a fixed-width byte prefix), so it needs NO build-time
    pass and can never disagree between plan branches. Partition-prefix-sum schemes must not derive their
    bucket from ``spark_partition_id`` over a range shuffle: the range
    sampler re-draws boundaries per branch, and the offsets branch and
    stream branch of one query then disagree — rows near block edges read
    a misaligned (or missing) offset.

    Monotone: for v>0 the id is e·128 + floor(|v|·2^(6−e)) with
    e = floor(log2 |v|) (the scaled term lands in [64,128), so octave
    jumps dominate); negatives negate it; zero maps to 0; NaN sorts last
    like Spark ordering. Range ±~139k (|e| ≤ 1080). Balance: ≤ ~1.6% of
    an octave per bucket — a near-constant column degenerates to one hot
    bucket, the same bound as a groupby hot key (sub-2^-1010 values share
    the lowest octave — see the exponent-clamp note below). Returns the bucket id as a
    SQL expression STRING (embeddable in selectExpr with zero extra py4j
    round trips; the LO/HI module sentinels bracket it for callers placing
    nulls), or None for non-numeric, non-temporal columns (caller keeps an
    explicit-N range shuffle and documents the residual risk). Null input
    yields a null id.
    """
    dt = dict((f.name, f.dataType) for f in sdf.schema.fields).get(colname)
    q = "`%s`" % str(colname).replace("`", "``")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        num = f"cast(cast({q} as timestamp) as double)"
    elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                         T.DoubleType, T.FloatType, T.DecimalType)):
        # cast to double is MONOTONE even where lossy (ties widen, never
        # reorder) — bucketing only, exactness unaffected
        num = f"cast({q} as double)"
    elif isinstance(dt, T.StringType):
        # Spark compares strings by UTF-8 bytes, so a FIXED-WIDTH byte
        # prefix read as an integer is order-monotone (right-pad with 0x00:
        # a raw substring would rank "b" below "ab"). ~18 effective bits →
        # values share a bucket past their first ~2 bytes (common-prefix
        # hot buckets: same bound as a groupby hot key).
        return (f"CASE WHEN {q} IS NOT NULL THEN "
                f"shiftright(cast(conv(hex(rpad(encode({q}, 'UTF-8'), 4, x'00')), 16, 10)"
                f" as bigint), 14) END")
    else:
        return None
    # ONE F.expr round trip instead of ~70 Column-API py4j calls — this
    # expression sits on the plan-build hot path of rank/ngroup/asof/
    # global-position (the r13→r14 build-latency drift was exactly these
    # bridge commands). Semantics identical to the Column form it replaces.
    # lower clamp -1010 (not the IEEE min exponent -1074): pow(2, 6-e)
    # must stay FINITE — at e<=-1018 it overflows to +inf and floor(|v|*inf)
    # wraps the long cast negative, inverting the order of every subnormal
    # and small-normal (|v| < ~3.6e-307). With the clamp, |v| < 2^-1010
    # collapses monotonically into the lowest octave's [0,64) scaled band.
    e = f"least(greatest(floor(log2(abs({num}))), -1010.0D), 1080.0D)"
    # +139000 keeps the magnitude STRICTLY positive (raw e*128+scaled goes
    # negative for |v| < ~0.6, which would invert the order around zero)
    mag = (f"(cast({e} * 128 + floor(abs({num}) * pow(2.0D, 6.0D - {e}))"
           f" as bigint) + 139000)")
    # ±inf must bypass the log2 math: log2(inf)=inf makes scaled=floor(inf)
    # overflow the long cast (Long.MAX), wrapping mag negative — inf rows
    # would silently bucket FIRST. Finite |mag| tops out at ~270.2k
    # (e<=1024), so ±278k sits strictly between every finite value and the
    # ±1M null/NaN sentinels.
    return (
        f"CASE WHEN {num} IS NULL THEN CAST(NULL AS BIGINT)"
        f" WHEN isnan({num}) THEN {ORDER_BUCKET_HI}"
        f" WHEN {num} = cast('Infinity' as double) THEN 278000"
        f" WHEN {num} = cast('-Infinity' as double) THEN -278000"
        f" WHEN {num} = 0.0D THEN 0"
        f" WHEN {num} > 0.0D THEN {mag}"
        f" ELSE -{mag} END")


# sentinels strictly outside the ±~278k magnitude range of order_bucket_expr
ORDER_BUCKET_LO = -1_000_000
ORDER_BUCKET_HI = 1_000_000


def native_max_rows() -> int:
    """Row threshold under which from_pandas keeps the pandas object on the
    driver and defers Spark ingestion (reference parity: the small-frame
    native mode threshold, modin/config/envvars.py:1357-1376). 0 disables."""
    try:
        return int(os.environ.get("MODIN_SPARK_NATIVE_MAX_ROWS", "5000"))
    except ValueError:
        return 0


def collect_small(sdf: SDF) -> pd.DataFrame | None:
    """``sdf`` as driver pandas when it has at most ``native_max_rows()``
    rows, else None. One action, ``limit(threshold + 1)``; none at threshold
    0. A shape-deciding collect whose result is this small finishes the op
    in pandas on the driver (the small-frame auto-switch applied to results
    the engine has to bring back anyway)."""
    cap = native_max_rows()
    if cap <= 0:
        return None
    pdf = sdf.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def _native_ingest_schema(pdf: pd.DataFrame, idx_phys: list, data_phys: list):
    """The exact Spark schema createDataFrame WOULD infer for this pandas
    frame, derived without touching the JVM — or None when any column's
    inference is not provably identical to the _PANDAS_TO_SPARK_CAST row
    (mixed objects, tz-aware datetimes, exotic extension dtypes), in which
    case the caller ingests eagerly like before."""
    out = {ORDER_COL: T.LongType()}
    cols = [(p, pdf.index.get_level_values(i)) for i, p in enumerate(idx_phys)]
    cols += [(p, pdf.iloc[:, j]) for j, p in enumerate(data_phys)]
    for p, s in cols:
        d = s.dtype
        name = str(d)
        kind = getattr(d, "kind", "O")
        if kind == "M":
            if name != "datetime64[ns]":
                return None  # tz-aware / non-ns units: let Arrow decide
            out[p] = T.TimestampType()
        elif name in ("boolean", "string"):
            out[p] = T.BooleanType() if name == "boolean" else T.StringType()
        elif kind == "O":
            # Arrow infers string only for str/None/NaN/NA cells; anything
            # else (lists, Decimals, mixed) must go through real inference
            import numpy as np

            vals = s.to_numpy() if hasattr(s, "to_numpy") else np.asarray(s)
            if len(vals) and not all(
                v is None or isinstance(v, str) or v is pd.NA
                or (isinstance(v, float) and np.isnan(v))
                for v in vals
            ):
                return None
            out[p] = T.StringType()
        elif name in ("int8", "int16", "int32", "int64", "float32", "float64", "bool"):
            # the verified-identical-to-Arrow subset (test_native_fastpath
            # asserts schema parity for each); unsigned dtypes go through
            # real inference
            out[p] = _PANDAS_TO_SPARK_CAST[name]
        elif name in ("Int8", "Int16", "Int32", "Int64"):
            # nullable ints degrade through .to_numpy(): float64 (=> double)
            # when any value is missing, the plain int width otherwise —
            # verified against Arrow in test_native_fastpath
            out[p] = T.DoubleType() if s.isna().any() else _PANDAS_TO_SPARK_CAST[name.lower()]
        elif name in ("Float32", "Float64"):
            out[p] = _PANDAS_TO_SPARK_CAST[name.lower()]
        else:
            return None
    return out


def pandas_dtype_to_spark(dtype) -> T.DataType:
    if isinstance(dtype, T.DataType):
        return dtype
    if isinstance(dtype, type):  # builtins: str/int/float/bool
        name = dtype.__name__
    else:
        name = dtype if isinstance(dtype, str) else str(dtype)
    if name in _PANDAS_TO_SPARK_CAST:
        return _PANDAS_TO_SPARK_CAST[name]
    try:
        import numpy as np

        return _PANDAS_TO_SPARK_CAST[np.dtype(dtype).name]
    except (TypeError, KeyError):
        raise TypeError(f"cannot map dtype {name!r} to a Spark type")


class SparkFrame:
    """Immutable distributed frame: pyspark DataFrame + order/index/label metadata."""

    # set by ``project`` on its result: (source lineage id, [(physical
    # name, Column)]). The source's columns are this plan's others, so the
    # source frame itself is not kept alive.
    _projection = None

    def __init__(
        self,
        sdf: SDF,
        columns,
        data_cols: list[str],
        index_cols: list[str] | None = None,
        index_names: list | None = None,
        _lid: int | None = None,
        _chain: frozenset | None = None,
        has_order: bool = True,
    ):
        # lazy Spark ingestion (reference parity: NativeQueryCompiler's
        # small-frame pandas mode, modin native_query_compiler.py). A tiny
        # from_pandas frame stores the pandas object in ``native_pdf`` and
        # DEFERS createDataFrame behind ``_ingest``; chains of native-capable
        # ops (pandas/native.py) never touch the JVM. First .sdf access
        # materializes the identical Spark plan, so semantics never fork.
        self._sdf = sdf
        self._ingest = None
        # pending column adds: (physical name, aliased Column) pairs not yet
        # applied to _sdf. A chain of __setitem__ ops costs ONE select at
        # the next .sdf access instead of one py4j select per assignment —
        # plan-build latency is dominated by py4j round-trips, not Catalyst.
        self._pending: list[tuple[str, Column]] = []
        self.native_pdf: pd.DataFrame | None = None
        self.columns = columns if isinstance(columns, pd.Index) else pd.Index(columns)
        self.data_cols = list(data_cols)
        self.index_cols = list(index_cols or [])
        self.index_names = list(
            index_names if index_names is not None else [None] * max(1, len(self.index_cols))
        )
        self._lid = _lid if _lid is not None else next(_lid_counter)
        self._chain = _chain if _chain is not None else frozenset([self._lid])
        # has_order=False: frame order is the natural (read) order and no
        # ORDER_COL exists in sdf yet. It is materialized lazily by
        # ensure_order() — keeping scans free of the nondeterministic
        # monotonically_increasing_id projection, which would otherwise block
        # predicate pushdown into the file source.
        self.has_order = has_order
        # order_epoch: identity of the derivation that produced the current
        # ORDER_COL *values*. Two frames' ORDER values are directly
        # join-comparable iff their epochs are equal and non-None; otherwise
        # cross-frame alignment must go through contiguous global positions
        # (or the pandas labels themselves).  A frame CONSTRUCTED with an
        # ORDER already in place gets its own fresh epoch: its row-subset /
        # column-op descendants copy it, so parent/child pairs align by raw
        # ORDER (row identity) instead of a label re-derivation that would
        # renumber a filtered child's positions.  Unrelated frames can never
        # share it (the lid is unique to this construction).
        self.order_epoch: tuple | None = ("ctor", self._lid) if has_order else None
        # physical columns PROVABLY free of nulls (parquet footer null_count
        # stats, set by read_parquet). Statistics-driven planning: merges on
        # null-free keys keep the plain `=` equi-join (bucket co-location,
        # isNotNull pushdown) instead of pandas' NaN-matching `<=>` plan.
        # Propagated through row-subset/column ops; never through casts
        # (fresh physical names break any stale association).
        self.nonnull_cols: frozenset = frozenset()
        # ORDER_COL values ARE the pandas default-index labels (0..n-1 at
        # creation). Set by from_pandas for default-RangeIndex input; survives
        # row subsets (filter/dropna/head — pandas KEEPS original labels
        # there), cleared whenever ORDER is re-derived (sort) or restructured.
        # Lets to_pandas and idxmax-style consumers recover pandas-exact
        # labels after filters with ZERO extra plan cost (no global position
        # shuffle) — the label is already in every row.
        self.order_is_position: bool = False
        # physical column holding the pandas default-index LABELS when they
        # diverge from ORDER (set by sort_by: ORDER re-derives for the new
        # row order, the old positional labels ride along hidden). Consumed
        # by to_pandas (display) and sort_index (restore); survives row
        # subsets like order_is_position.
        self.labels_col: str | None = None
        # ORDER values came from monotonically_increasing_id and NO row has
        # been dropped/duplicated since: every (pid, local_index) encoded in
        # the value (pid<<33 | idx) is still present, so global positions
        # derive from the VALUE alone (no per-bucket row_number window —
        # with_global_position's fast path). Set by ensure_order/sort_by at
        # mid-attach; survives column-level ops (_same_rows); cleared by any
        # row subset/reorder construction (r15 opt).
        self.order_mid_complete: bool = False
        # ORDER values are EXACTLY the contiguous global positions 0..n-1
        # (dense, no gaps): positions derive as a pure projection of ORDER —
        # no bucket/row_number exchange, no offsets table at all. Set where
        # density holds by construction (a transpose output's __cid__ stream,
        # from_pandas default-index ingest); propagated only by _same_rows
        # (same rows keep the same dense values), cleared by any row
        # subset/reorder (order_is_position deliberately SURVIVES subsets —
        # labels keep gaps — so it cannot prove density; this flag can).
        self.order_dense: bool = False
        # offsets provenance for the order_mid_complete fast path: the sdf AT
        # MID-ATTACH time (narrowest lineage that can produce the per-pid row
        # counts) plus a memo dict SHARED BY REFERENCE through _same_rows, so
        # every positional consumer of one attach event reuses the identical
        # offsets DataFrame (one broadcast, reused exchange) instead of
        # replaying its own full lineage as a pruned aggregate (r16 opt).
        self._mid_offsets_src = None
        self._mid_offsets_memo: dict | None = None
        assert len(self.columns) == len(self.data_cols)
        if _config is not None and _config._benchmark_on and sdf is not None:
            # BenchmarkMode (config parity, reference envvars.py:950): force
            # the plan to execute NOW so user-side wall-clock brackets real
            # work instead of deferring everything to the final action.
            sdf.count()

    @property
    def sdf(self) -> SDF:
        if self._sdf is None:
            self._sdf = self._ingest()
            self._ingest = None
        if self._pending:
            self._sdf = self._sdf.select("*", *[c for _, c in self._pending])
            self._pending = []
        return self._sdf

    def _available_cols(self) -> set[str]:
        """Physical columns an expression could reference on this frame —
        answered from the (pyspark-cached) base schema plus pending adds,
        WITHOUT flushing the pending projection."""
        if self._sdf is None:
            if getattr(self, "_native_schema", None) is not None:
                return set(self._native_schema)
            return set(self.sdf.columns)
        return set(self._sdf.columns) | {n for n, _ in self._pending}

    def ensure_order(self) -> "SparkFrame":
        """Materialize ORDER_COL if this frame still rides on natural order.

        Called at the top of every order-consuming operator. User filters
        issued before this point already sit *below* the nondeterministic
        projection in the plan, so they keep pushing down to the scan.
        """
        if self.has_order:
            return self
        cached = getattr(self, "_ordered_cache", None)
        if cached is not None:
            return cached
        sdf = self.sdf.withColumn(ORDER_COL, F.monotonically_increasing_id())
        nf = SparkFrame(
            sdf, self.columns, self.data_cols, self.index_cols, self.index_names,
            _lid=self._lid, _chain=self._chain, has_order=True,
        )
        # monotonically_increasing_id over the same base plan is deterministic,
        # so every ensure_order() of this frame yields the same values —
        # cache the derived frame so repeat calls cost zero py4j traffic
        nf.order_epoch = ("mid", self._lid)
        nf.nonnull_cols = self.nonnull_cols
        nf.order_mid_complete = True  # fresh mid over the complete row set
        nf._mid_offsets_src = sdf
        nf._mid_offsets_memo = {}
        self._ordered_cache = nf
        return nf

    # lineage helpers -------------------------------------------------------
    def _same_rows(self, sdf, columns=None, data_cols=None, index_cols=None, index_names=None, has_order=None):
        """Derive a frame with identical rows/order (column-level op)."""
        nf = SparkFrame(
            sdf,
            self.columns if columns is None else columns,
            self.data_cols if data_cols is None else data_cols,
            self.index_cols if index_cols is None else index_cols,
            self.index_names if index_names is None else index_names,
            _lid=self._lid,
            _chain=self._chain,
            has_order=self.has_order if has_order is None else has_order,
        )
        nf.order_epoch = self.order_epoch
        nf.nonnull_cols = self.nonnull_cols
        nf.order_is_position = self.order_is_position
        nf.labels_col = self.labels_col
        nf.order_mid_complete = self.order_mid_complete  # same rows: ids stay complete
        nf.order_dense = self.order_dense  # same rows: values stay 0..n-1
        # same rows => same per-pid counts: the attach-time offsets source
        # (and its shared memo) stays valid
        nf._mid_offsets_src = self._mid_offsets_src
        nf._mid_offsets_memo = self._mid_offsets_memo
        return nf

    def _subset_rows(self, sdf, columns=None, data_cols=None, index_cols=None,
                     index_names=None, has_order=None):
        """Derive a frame whose rows are a subset/reorder of this frame's."""
        lid = next(_lid_counter)
        nf = SparkFrame(
            sdf,
            self.columns if columns is None else columns,
            self.data_cols if data_cols is None else data_cols,
            self.index_cols if index_cols is None else index_cols,
            self.index_names if index_names is None else index_names,
            _lid=lid,
            _chain=self._chain | {lid},
            has_order=self.has_order if has_order is None else has_order,
        )
        nf.order_epoch = self.order_epoch  # subset keeps the parent's values
        nf.nonnull_cols = self.nonnull_cols  # row subsets cannot introduce nulls
        nf.order_is_position = self.order_is_position
        nf.labels_col = self.labels_col
        return nf

    def can_rebase(self, anchor: "SparkFrame", refs: set[str]) -> bool:
        """True if a pure column expression anchored at ``anchor`` with
        physical references ``refs`` can be evaluated directly on ``self``."""
        return anchor._lid in self._chain and refs.issubset(self._available_cols())

    # ------------------------------------------------------------------ ctor
    @classmethod
    def from_spark(cls, sdf: SDF) -> "SparkFrame":
        """Wrap an external Spark DataFrame. Order contract: read order.

        No ORDER_COL is attached here (has_order=False): scans stay pure so
        later filters push down into the source; order materializes lazily.
        """
        labels = pd.Index(sdf.columns)
        phys = fresh_names(len(labels))
        # ONE selectExpr call instead of per-column F.col().alias() pairs —
        # each Column object costs a py4j round-trip and this runs on every
        # ingest. Backtick-quote (doubled inner backticks): source names may
        # contain dots (`x.1` from header mangling) or other specials.
        projected = sdf.selectExpr(
            *[
                "`%s` AS %s" % (str(c).replace("`", "``"), p)
                for c, p in zip(sdf.columns, phys)
            ]
        )
        return cls(projected, labels, phys, has_order=False)

    @classmethod
    def from_pandas(cls, pdf: pd.DataFrame, spark: SparkSession | None = None) -> "SparkFrame":
        index_names = list(pdf.index.names)
        n_levels = pdf.index.nlevels
        default_range = (
            n_levels == 1
            and index_names == [None]
            and isinstance(pdf.index, pd.RangeIndex)
            and pdf.index.equals(pd.RangeIndex(len(pdf)))
        )
        idx_phys = [] if default_range else fresh_names(n_levels)
        # keep the column Index OBJECT (pd.Index(mi) would flatten a
        # MultiIndex to tuples); pdf.columns is always already a pd.Index
        data_labels = pdf.columns
        data_phys = fresh_names(len(data_labels))

        # native deferral requires a RUNNING session: non-dispatched ops
        # build Column expressions (F.col) before ever touching .sdf, and
        # those assert an active SparkContext. The very first from_pandas in
        # a process therefore spins the session up NOW (same cost the eager
        # path paid inside _ingest) and still defers — otherwise the first
        # frame of a process silently loses the native marker and e.g.
        # duplicate-label positional binaries fall to the alignment join.
        from pyspark import SparkContext as _SC

        # 0 is a HARD off switch (len-0 frames must not sneak through the
        # <= comparison: the differential suite sets MAX_ROWS=0 to force
        # every case — including empty frames — onto the Spark path)
        _native_limit = native_max_rows()
        _use_native = _native_limit > 0 and len(pdf) <= _native_limit
        if _use_native and _SC._active_spark_context is None:
            # _active_spark_context is the pure-Python liveness flag —
            # getActiveSession() itself would cost 4 py4j round-trips per frame
            from modin_spark.session import get_spark

            spark = spark or get_spark()
        native_schema = (
            _native_ingest_schema(pdf, idx_phys, data_phys)
            if _use_native
            else None
        )
        if native_schema is not None:
            # snapshot once: the deferred ingest closure and native_pdf must
            # see the SAME data even if the caller mutates their frame later
            pdf = pdf.copy()

        def _ingest() -> SDF:
            from modin_spark.session import get_spark

            sp = spark or get_spark()
            flat = pd.DataFrame()
            flat[ORDER_COL] = range(len(pdf))
            for i, p in enumerate(idx_phys):
                flat[p] = pdf.index.get_level_values(i).to_numpy()
            for j, p in enumerate(data_phys):
                flat[p] = pdf.iloc[:, j].to_numpy()
            if len(flat) == 0:
                # empty frames can't infer a schema — build it from pandas dtypes
                fields = [T.StructField(ORDER_COL, T.LongType())]
                for c in list(flat.columns)[1:]:
                    fields.append(T.StructField(
                        c, pandas_dtype_to_spark(str(flat[c].dtype))))
                return sp.createDataFrame([], schema=T.StructType(fields))
            return sp.createDataFrame(flat)

        if native_schema is not None:
            # tiny frame: keep the pandas object driver-side, DEFER the JVM
            # ingest behind the lazy .sdf property (reference parity:
            # NativeQueryCompiler small-frame mode). Pure-native op chains
            # (pandas/native.py) and pristine to_pandas round-trips never
            # touch Spark; the first distributed op materializes the
            # identical plan.
            nf = cls(None, data_labels, data_phys, idx_phys, index_names if idx_phys else [None])
            nf._ingest = _ingest
            nf.native_pdf = pdf
            nf._native_schema = native_schema
        else:
            nf = cls(_ingest(), data_labels, data_phys, idx_phys, index_names if idx_phys else [None])
        nf.order_epoch = ("pd", nf._lid)  # contiguous 0..n-1, unique to this ingest
        # ingest ORDER is literally range(n): positions are a projection
        nf.order_dense = True
        # default-RangeIndex ingest: ORDER values literally ARE the pandas
        # row labels, so filtered frames can recover them for free
        nf.order_is_position = default_range
        # exact null statistics are free at ingest: null-free columns keep
        # the plain `=` equi-join plan in later merges
        nf.nonnull_cols = frozenset(
            p for j, p in enumerate(data_phys) if pdf.iloc[:, j].notna().all()
        ) | frozenset(
            p for i, p in enumerate(idx_phys) if pdf.index.get_level_values(i).notna().all()
        )
        return nf

    # ------------------------------------------------------------- metadata
    @property
    def spark(self) -> SparkSession:
        return self.sdf.sparkSession

    @property
    def schema_map(self) -> dict[str, T.DataType]:
        if self._sdf is None and getattr(self, "_native_schema", None) is not None:
            # deferred-ingest frame: the schema createDataFrame would infer,
            # derived without the JVM (verified identical in tests)
            return dict(self._native_schema)
        return {f.name: f.dataType for f in self.sdf.schema.fields}

    def spark_type_of(self, pos: int) -> T.DataType:
        return self.schema_map[self.data_cols[pos]]

    def dtype_of(self, pos: int) -> str:
        return spark_to_pandas_dtype(self.spark_type_of(pos))

    @property
    def dtypes(self) -> pd.Series:
        import numpy as np

        # real np.dtype values (pandas contract); every mapped name parses
        return pd.Series(
            [np.dtype(self.dtype_of(i)) for i in range(len(self.columns))], index=self.columns, dtype=object
        )

    def positions_of(self, labels) -> list[int]:
        """Resolve label(s) -> positions (supports duplicates, preserves request order)."""
        out: list[int] = []
        for lbl in labels:
            hits = [i for i, c in enumerate(self.columns) if c == lbl]
            if not hits:
                raise KeyError(lbl)
            out.extend(hits)
        return out

    def phys_of_label(self, label) -> str:
        hits = [i for i, c in enumerate(self.columns) if c == label]
        if not hits:
            raise KeyError(label)
        return self.data_cols[hits[0]]

    def scol(self, pos: int) -> Column:
        return F.col(self.data_cols[pos])

    # --------------------------------------------------------- column ops
    def project(self, labels: Iterable, exprs: Sequence[Column]) -> "SparkFrame":
        """Make ``exprs`` the visible data columns. Order contract: narrow.

        Existing physical columns stay in ``sdf`` (hidden) so sibling
        expressions can still rebase; Catalyst prunes unused ones.
        """
        labels = pd.Index(list(labels))
        if len(labels) == len(self.columns) and list(labels) == list(self.columns):
            # value-only projection (fillna/clip/where/...): pandas keeps the
            # columns-Index name(s) — reuse the existing label Index object
            labels = self.columns
        phys = fresh_names(len(labels))
        sdf = self.sdf.select("*", *[e.alias(p) for e, p in zip(exprs, phys)])
        nf = self._same_rows(sdf, columns=labels, data_cols=phys)
        # a sibling frame of one lineage replays this projection on its own
        # plan (compiler.align_frames)
        nf._projection = (self._lid, list(zip(phys, exprs)))
        return nf

    def select_positions(self, positions: Sequence[int]) -> "SparkFrame":
        labels = pd.Index([self.columns[i] for i in positions])
        phys = [self.data_cols[i] for i in positions]
        return self._same_rows(self.sdf, columns=labels, data_cols=phys)

    def with_columns(self, labels: Sequence, exprs: Sequence[Column],
                     refs: set[str] | None = None) -> "SparkFrame":
        """Set/append columns (pandas ``__setitem__``): existing label ->
        replaced (fresh physical name); new label -> appended at the end.

        When the caller knows the physical columns the expressions reference
        (``refs``), the projection is BUFFERED (``_pending``) instead of
        issuing a py4j ``select`` per call — a chain of setitems collapses
        to one select at the next .sdf access. Referencing a still-pending
        column (or refs=None) flushes first: a select list cannot read its
        own aliases."""
        new_labels = list(self.columns)
        new_phys = list(self.data_cols)
        pairs = []
        for lbl, e in zip(labels, exprs):
            p = _fresh_name()
            pairs.append((p, e.alias(p)))
            hits = [i for i, c in enumerate(new_labels) if c == lbl]
            if hits:
                for i in hits:
                    new_phys[i] = p
            else:
                new_labels.append(lbl)
                new_phys.append(p)
        if (refs is not None and self._sdf is not None
                and not (refs & {n for n, _ in self._pending})):
            nf = SparkFrame(
                self._sdf, pd.Index(new_labels), new_phys, self.index_cols,
                self.index_names, _lid=self._lid, _chain=self._chain,
                has_order=self.has_order,
            )
            nf.order_epoch = self.order_epoch
            nf.nonnull_cols = self.nonnull_cols
            nf.order_is_position = self.order_is_position
            nf.labels_col = self.labels_col
            nf._pending = list(self._pending) + pairs
            return nf
        sdf = self.sdf.select("*", *[c for _, c in pairs])
        return self._same_rows(sdf, columns=pd.Index(new_labels), data_cols=new_phys)

    def rename(self, mapping: dict) -> "SparkFrame":
        labels = pd.Index([mapping.get(c, c) for c in self.columns])
        return self._same_rows(self.sdf, columns=labels)

    def set_labels(self, labels) -> "SparkFrame":
        return self._same_rows(self.sdf, columns=pd.Index(list(labels)))

    # -------------------------------------------------------------- row ops
    def filter(self, cond: Column) -> "SparkFrame":
        """Order contract: preserves relative order (narrow)."""
        return self._subset_rows(self.sdf.where(cond))

    def sort_by(
        self,
        exprs: Sequence[Column],
        ascending: Sequence[bool],
        na_position: str = "last",
    ) -> "SparkFrame":
        """Global stable sort; re-derives ORDER_COL after the range shuffle.

        Spark's ``orderBy`` does sampled range partitioning (the TeraSort
        scheme the reference hand-rolls in
        /root/reference/modin/core/dataframe/pandas/dataframe/utils.py:111),
        so this is shuffle-parallel, never single-task. The old ORDER_COL is
        the final tiebreak (stability); pandas puts NaN last by default.
        """
        base = self.ensure_order()  # stable: old order is the final tiebreak
        keys = []
        for e, asc in zip(exprs, ascending):
            if asc:
                keys.append(e.asc_nulls_last() if na_position == "last" else e.asc_nulls_first())
            else:
                keys.append(e.desc_nulls_last() if na_position == "last" else e.desc_nulls_first())
        keys.append(F.col(ORDER_COL).asc())
        presdf = base.sdf
        lblc = None
        if not base.index_cols and base.order_is_position:
            # pandas keeps the PERMUTED original labels through a sort; stash
            # them in a hidden column before ORDER is re-derived (consumed by
            # to_pandas for display and by sort_index to restore)
            lblc = fresh_names(1)[0]
            presdf = presdf.withColumn(lblc, F.col(ORDER_COL).cast("long"))
        sorted_sdf = presdf.orderBy(*keys).withColumn(ORDER_COL, F.monotonically_increasing_id())
        nf = base._subset_rows(sorted_sdf, has_order=True)
        nf.order_epoch = ("sort", nf._lid)  # ORDER re-derived: new epoch
        nf.order_is_position = False  # fresh mono ids, not original positions
        nf.order_mid_complete = True  # fresh mid over the complete row set
        nf._mid_offsets_src = sorted_sdf
        nf._mid_offsets_memo = {}
        nf.labels_col = lblc if lblc is not None else base.labels_col
        # sort().head(n) fusion: head() on THIS frame (and only this frame —
        # _presort never propagates to derived frames) can re-plan as
        # orderBy+limit, which compiles to TakeOrderedAndProject instead of a
        # full range-partitioned sort followed by a limit
        nf._presort = (base.sdf, keys)
        return nf

    def align_keyed(self, pos_col: str) -> tuple["SparkFrame", list[str]]:
        """Frame + key columns for cross-frame index alignment joins.

        Indexed frames align on their index columns. Default-index frames
        align on their TRUE pandas labels (ORDER values / post-sort
        labels_col stash / blocked global position for scan lineage) — NOT
        on raw ORDER_COL: unrelated frames have incomparable ORDER_COL
        values (from_pandas is contiguous 0..n-1, parquet reads are
        partition-major ids where partition p starts at p<<33), so equating
        them across frames silently misaligns rows. Labels (not fresh
        positions) matter when one side was SORTED or FILTERED: pandas
        aligns ``df[c] = other.sort_values(...)[c]`` back by label.
        """
        if self.index_cols:
            return self, list(self.index_cols)
        fr = self.with_pandas_labels(pos_col)
        return fr, [pos_col]

    def align_keyed_with(self, other: "SparkFrame", pos_col: str) -> tuple["SparkFrame", list[str]]:
        """Like align_keyed, but when both sides are default-index frames
        whose ORDER values come from the SAME derivation (equal non-None
        ``order_epoch``), the raw ORDER_COL is directly comparable — skip the
        global-position passes and join on it (the common
        ``df[c] = derived_series`` same-lineage case)."""
        if self.index_cols:
            return self, list(self.index_cols)
        if (
            not other.index_cols
            and self.order_epoch is not None
            and self.order_epoch == other.order_epoch
        ):
            return self.ensure_order(), [ORDER_COL]
        return self.align_keyed(pos_col)

    # ------------------------------------------------------------ positional
    def with_pandas_labels(self, name: str) -> "SparkFrame":
        """Attach a column holding the pandas default-index LABELS: the
        ORDER values when order_is_position (from_pandas lineage, gaps kept
        through filters), the stashed ``labels_col`` after a sort, else the
        blocked global position (scan lineage, positions-as-labels)."""
        base = self.ensure_order()
        if base.order_is_position:
            return base._same_rows(base.sdf.withColumn(name, F.col(ORDER_COL).cast("long")))
        lc = base.labels_col
        if lc is not None and lc in base.sdf.columns:
            return base._same_rows(base.sdf.withColumn(name, F.col(lc).cast("long")))
        return base.with_global_position(name)

    def _order_bucket_sql(self) -> str | None:
        """A DETERMINISTIC, order-monotone bucket id derived from the stored
        ORDER value, as SQL (one py4j round trip when embedded in
        selectExpr): ``order >> 16`` (65536-row buckets for contiguous
        range-ingest orders; per-scan-partition sub-buckets for
        monotonically_increasing_id orders, whose upper bits are the scan
        partition). Struct orders (merge outputs) bucket on their leading
        integral leaf (``leaf_bucket_sql``). None when that leaf is not
        integral (caller falls back to a range shuffle)."""
        return leaf_bucket_sql(self.schema_map.get(ORDER_COL), sql_name(ORDER_COL))

    def with_global_position(self, pos_col: str) -> "SparkFrame":
        """Attach a contiguous 0-based global position column.

        Scale-safe AND branch-deterministic: rows bucket by a pure function
        of the stored ORDER value (``_order_bucket_sql``), rank within each
        bucket, and add per-bucket offsets from a tiny aggregate — no
        single-task global window (``dense_positions``). The bucket id must
        NOT come from ``spark_partition_id`` over a range shuffle: AQE
        coalescing and the range sampler can assign DIFFERENT pids in the
        offsets branch vs the stream branch of the same query, and the inner
        join then silently drops every row whose pid has no offsets entry.
        """
        if not self.has_order:
            return self.ensure_order().with_global_position(pos_col)
        oq = sql_name(ORDER_COL)
        if self.order_dense:
            # ORDER values ARE the contiguous positions 0..n-1 (transpose
            # output / fresh default-index ingest): a pure projection — no
            # exchange, no offsets table, no extra job at any scale.
            pq = str(pos_col).replace("`", "``")
            sdf = self.sdf.selectExpr("*", f"cast({oq} as bigint) as `{pq}`")
            if os.environ.get("MODIN_SPARK_DEBUG_ORDER"):
                # same audit as the mid fast path: a row subset smuggled
                # through _same_rows would corrupt every positional consumer
                n, mx, nd = sdf.selectExpr(
                    "count(1)", f"max(`{pq}`)", f"count(distinct `{pq}`)").first()
                assert n == nd and (n == 0 or mx == n - 1), (
                    f"order_dense violated: {n} rows, {nd} distinct "
                    f"positions, max {mx} — a row subset/reorder went "
                    f"through _same_rows without clearing the flag")
            return self._same_rows(sdf)
        if self.order_mid_complete:
            # mid values already ENCODE (pid, local index) in (order>>33,
            # order & 2^33-1), and no row of the assignment is missing — the
            # local ranks per pid are contiguous 0..k-1 by construction, so
            # the per-bucket row_number window (a full-data exchange + sort)
            # is unnecessary. Only the #partitions-row offsets table
            # shuffles; the data itself never moves (measured 1.01s -> 0.48s
            # on the 600k-row 2-col melt input, and at scale the win is an
            # entire O(data) exchange).
            sdf = self.sdf.selectExpr(
                "*",
                f"shiftright({oq}, 33) as __pid__",
                f"cast({oq} & 8589934591 as bigint) as __local_rank__",
            )
            # Per-pid counts depend only on the mid-ATTACH row set (invariant
            # under _same_rows), so compute them from the attach-time source —
            # typically scan(+sort)+mid, which Catalyst prunes to a near-empty
            # read — instead of replaying this frame's full current lineage
            # (shift joins, halo unions, ...) once per positional consumer.
            # The memo dict is shared by reference across _same_rows
            # descendants: every consumer of one attach event gets the SAME
            # offsets DataFrame, so Spark plans one broadcast and reuses it.
            memo = self._mid_offsets_memo
            offsets = memo.get("offsets") if memo is not None else None
            if offsets is None:
                src = self._mid_offsets_src if self._mid_offsets_src is not None else self.sdf
                offsets = carry_table(
                    src.selectExpr(f"shiftright({oq}, 33) as __pid__").groupBy("__pid__").count(),
                    "__pid__", [("__offset__", "sum(count)", CARRY_FWD, 0)])
                if memo is not None:
                    memo["offsets"] = offsets
            sdf = carry_join(sdf, offsets, "__pid__", "inner")
            sdf = sdf.selectExpr(
                "*", f"cast(__local_rank__ + __offset__ as bigint) as {sql_name(pos_col)}")
            sdf = sdf.drop("__pid__", carry_key("__pid__"), "__local_rank__", "__offset__")
            if os.environ.get("MODIN_SPARK_DEBUG_ORDER"):
                # opt-in invariant audit: order_mid_complete promises the mid
                # assignment is complete (no row dropped/duplicated since
                # attach), making positions a pure function of the ORDER
                # value. A row-dropping path that wrongly reused _same_rows
                # would silently corrupt every positional consumer — under
                # MODIN_SPARK_DEBUG_ORDER it fails fast here instead (one
                # extra action per positional derivation; debug only).
                pq = sql_name(pos_col)
                n, mx, nd = sdf.selectExpr(
                    "count(1)", f"max({pq})", f"count(distinct {pq})").first()
                assert n == nd and (n == 0 or mx == n - 1), (
                    f"order_mid_complete violated: {n} rows, {nd} distinct "
                    f"positions, max {mx} — a row subset/duplication went "
                    f"through _same_rows without clearing the flag")
            return self._same_rows(sdf)
        bkt = self._order_bucket_sql()
        if bkt is not None:
            sdf = self.sdf.selectExpr("*", f"{bkt} as __pid__")
        else:
            # non-integral ORDER leaf (exotic): range shuffle with an
            # EXPLICIT partition count (AQE never re-coalesces a
            # user-specified N, so the two branches stay consistent)
            np_ = int(self.sdf.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            sdf = self.sdf.repartitionByRange(np_, F.col(ORDER_COL)).withColumn(
                "__pid__", F.spark_partition_id())
        sdf = dense_positions(sdf, "__pid__", oq, pos_col, "__local_rank__", "__offset__")
        return self._same_rows(
            sdf.drop("__pid__", carry_key("__pid__"), "__local_rank__", "__offset__"))

    def head(self, n: int) -> "SparkFrame":
        if n < 0:
            n = max(0, self.sdf.count() + n)
        if getattr(self, "_presort", None) is not None:
            presdf, keys = self._presort
            if self.labels_col is not None and self.labels_col not in presdf.columns:
                # the TakeOrdered fusion replays from the PRE-sort plan: the
                # stashed pandas labels live in the pre-sort ORDER values
                presdf = presdf.withColumn(self.labels_col, F.col(ORDER_COL).cast("long"))
            limited = presdf.orderBy(*keys).limit(n).withColumn(
                ORDER_COL, F.monotonically_increasing_id()
            )
            nf = self._subset_rows(limited, has_order=True)
            nf.order_epoch = self.order_epoch
            return nf
        if not self.has_order:
            # natural order: plain limit short-circuits the scan (GlobalLimit
            # consumes partitions in order for file sources) — no sort
            return self._subset_rows(self.sdf.limit(n))
        return self._subset_rows(self.sdf.orderBy(ORDER_COL).limit(n))

    def tail(self, n: int) -> "SparkFrame":
        cnt = self.sdf.count()
        lo = -n if n < 0 else max(0, cnt - n)
        fr = self.with_global_position("__pos__")
        return self._subset_rows(fr.sdf.where(F.col("__pos__") >= lo).drop("__pos__"))

    def slice_positions(self, start: int, stop: int, step: int = 1) -> "SparkFrame":
        fr = self.with_global_position("__pos__")
        c = F.col("__pos__")
        cond = (c >= start) & (c < stop)
        if step != 1:
            cond = cond & (((c - start) % step) == 0)
        return self._subset_rows(fr.sdf.where(cond).drop("__pos__"))

    # ---------------------------------------------------------------- index
    def set_index_from_columns(self, labels: list, drop: bool = True) -> "SparkFrame":
        positions = self.positions_of(labels)
        idx_phys = [self.data_cols[i] for i in positions]
        names = [self.columns[i] for i in positions]
        if drop:
            keep_pos = [i for i in range(len(self.columns)) if i not in set(positions)]
        else:
            keep_pos = list(range(len(self.columns)))
        return self._same_rows(
            self.sdf,
            columns=pd.Index([self.columns[i] for i in keep_pos]),
            data_cols=[self.data_cols[i] for i in keep_pos],
            index_cols=idx_phys,
            index_names=names,
        )

    def _reset_index_label(self, level: int = 0) -> str:
        """pandas naming for an unnamed index level on reset_index(drop=False):
        a single unnamed level becomes "index" UNLESS a column named "index"
        already exists, in which case pandas falls back to the first free
        "level_N"."""
        existing = set(self.columns)
        if len(self.index_cols) <= 1:
            return "index" if "index" not in existing else "level_0"
        return f"level_{level}"

    def reset_index(self, drop: bool = False) -> "SparkFrame":
        if not self.index_cols:
            # pandas semantics on a default positional index (reference:
            # modin dataframe.py:1451 from_labels): drop=True renumbers the
            # labels 0..n-1; drop=False ADDS an "index" column holding the
            # CURRENT labels, then renumbers. The renumbered labels are
            # materialized INTO ORDER_COL (blocked global position — range
            # repartition + per-partition rank + tiny offset join, no
            # single-task window) with order_is_position set, so a LATER
            # filter preserves gapped labels exactly like pandas.
            ri = fresh_names(1)[0]
            if not drop:
                # current labels: ORDER values / post-sort labels_col stash /
                # blocked global position (with_pandas_labels picks)
                base = self.with_pandas_labels(ri)
            else:
                base = self
            pc = fresh_names(1)[0]
            fr2 = base.with_global_position(pc)
            sdf = fr2.sdf.withColumn(ORDER_COL, F.col(pc)).drop(pc)
            nf = fr2._subset_rows(
                sdf,
                columns=pd.Index(([self._reset_index_label()] if not drop else []) + list(self.columns),
                                 name=self.columns.name
                                 if not isinstance(self.columns, pd.MultiIndex) else None),
                data_cols=([ri] if not drop else []) + list(self.data_cols),
                has_order=True,
            )
            nf.order_epoch = ("reset", nf._lid)  # ORDER re-derived: new epoch
            nf.order_is_position = True
            nf.labels_col = None  # labels are positions again
            return nf
        if drop:
            return self._same_rows(self.sdf, index_cols=[], index_names=[None])
        labels = [
            n if n is not None else self._reset_index_label(i)
            for i, n in enumerate(self.index_names)
        ]
        return self._same_rows(
            self.sdf,
            # pandas preserves the columns-Index NAME through reset_index
            columns=pd.Index(labels + list(self.columns), name=self.columns.name
                             if not isinstance(self.columns, pd.MultiIndex) else None),
            data_cols=self.index_cols + self.data_cols,
            index_cols=[],
            index_names=[None],
        )

    # ------------------------------------------------------------ materialize
    def count_rows(self) -> int:
        if self._sdf is None and self.native_pdf is not None:
            return len(self.native_pdf)
        return self.sdf.count()

    def to_pandas(self, small: bool = False) -> pd.DataFrame | None:
        """The frame as driver pandas. ``small``: only when it has at most
        ``native_max_rows()`` rows (``collect_small``), else None."""
        if self._sdf is None and self.native_pdf is not None:
            # pristine deferred-ingest frame: the stored pandas object IS the
            # round-trip result (and keeps dtypes Spark would widen)
            return self.native_pdf.copy()
        lbl_extra = ([self.labels_col] if self.labels_col is not None
                     and not self.index_cols and self.labels_col in self.sdf.columns else [])
        if not self.has_order:
            # natural order: toPandas collects partitions in order already
            cols = list(dict.fromkeys(self.index_cols + self.data_cols)) + lbl_extra
            sel = self.sdf.select(*cols)
        else:
            cols = [ORDER_COL] + list(dict.fromkeys(self.index_cols + self.data_cols)) + lbl_extra
            sel = self.sdf.select(*cols).orderBy(ORDER_COL)
        pdf = collect_small(sel) if small else sel.toPandas()
        if pdf is None:
            return None
        out = pd.DataFrame({i: pdf[p] for i, p in enumerate(self.data_cols)})
        if len(self.data_cols) == 0:
            out = pd.DataFrame(index=pdf.index)
        out.columns = self.columns
        if self.index_cols:
            if len(self.index_cols) == 1:
                out.index = pd.Index(pdf[self.index_cols[0]].values, name=self.index_names[0])
            else:
                out.index = pd.MultiIndex.from_arrays(
                    [pdf[p].values for p in self.index_cols], names=self.index_names
                )
        else:
            out.index = pd.RangeIndex(len(out))
            if (
                self.has_order
                and self.order_is_position
                and len(out)
                and pdf[ORDER_COL].dtype.kind in "iu"
            ):
                labels = pdf[ORDER_COL].to_numpy()
                # only deviate from RangeIndex when rows were actually
                # dropped — pandas keeps the ORIGINAL labels there
                if labels[-1] != len(out) - 1:
                    out.index = pd.Index(labels, dtype="int64")
            elif self.labels_col is not None and self.labels_col in pdf.columns and len(out):
                # post-sort frames: the stashed PERMUTED labels (pandas keeps
                # them through sort_values)
                labels = pdf[self.labels_col].to_numpy()
                if not (labels == pd.RangeIndex(len(out))).all():
                    out.index = pd.Index(labels, dtype="int64")
        return out

    def to_spark(self, include_index: bool = False, ordered: bool = True) -> SDF:
        """Egress with user-facing column names (labels stringified, deduped)."""
        sel = []
        if include_index:
            for i, (p, n) in enumerate(zip(self.index_cols, self.index_names)):
                sel.append(F.col(p).alias(str(n) if n is not None else ("index" if len(self.index_cols) == 1 else f"level_{i}")))
        seen: dict[str, int] = {}
        for lbl, p in zip(self.columns, self.data_cols):
            name = str(lbl)
            if name in seen:
                seen[name] += 1
                name = f"{name}_{seen[name]}"
            else:
                seen[name] = 0
            sel.append(F.col(p).alias(name))
        base = self.sdf.orderBy(ORDER_COL) if (ordered and self.has_order) else self.sdf
        return base.select(*sel)
