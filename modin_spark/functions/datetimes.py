"""Datetime accessor ops as JVM-side Spark expressions.

Covers the reference's ``dt_*`` surface
(/root/reference/modin/core/storage_formats/pandas/query_compiler.py:2284-2331)
with built-in functions. pandas conventions preserved:
``dayofweek`` Monday=0 (Spark ``dayofweek`` is Sunday=1), nanoseconds capped
at microsecond precision (Spark timestamps are µs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# _TS: no-op for TIMESTAMP; exact epoch mapping for TIMESTAMP_NTZ under the
# session's fixed UTC timezone (unix_micros/unix_timestamp reject NTZ inputs)
_TS = lambda c: c.cast("timestamp")
_SECONDS = lambda c: F.unix_timestamp(_TS(c))
# day-time interval -> fractional seconds (double)
_TD_SECONDS = lambda c: c.cast("interval second").cast("decimal(30,6)").cast("double")

DT_FUNCS = {
    "year": lambda c: F.year(c),
    "month": lambda c: F.month(c),
    "day": lambda c: F.dayofmonth(c),
    "hour": lambda c: F.hour(c),
    "minute": lambda c: F.minute(c),
    "second": lambda c: F.second(c).cast("int"),
    "microsecond": lambda c: (F.unix_micros(_TS(c)) % 1_000_000).cast("int"),
    "nanosecond": lambda c: ((F.unix_micros(_TS(c)) % 1_000_000) % 1000 * 0).cast("int"),
    "date": lambda c: F.to_date(c),
    # pandas str(time) omits a zero fraction — match that
    "time": lambda c: F.when(
        F.date_format(c, "SSSSSS") == "000000", F.date_format(c, "HH:mm:ss")
    ).otherwise(F.date_format(c, "HH:mm:ss.SSSSSS")),
    "dayofweek": lambda c: ((F.dayofweek(c) + 5) % 7).cast("int"),
    "day_of_week": lambda c: ((F.dayofweek(c) + 5) % 7).cast("int"),
    "day_of_year": lambda c: F.dayofyear(c).cast("int"),
    "weekday": lambda c: ((F.dayofweek(c) + 5) % 7).cast("int"),
    "dayofyear": lambda c: F.dayofyear(c),
    "day_of_year": lambda c: F.dayofyear(c),
    "quarter": lambda c: F.quarter(c),
    "daysinmonth": lambda c: F.dayofmonth(F.last_day(c)),
    "days_in_month": lambda c: F.dayofmonth(F.last_day(c)),
    "is_month_start": lambda c: F.coalesce(F.dayofmonth(c) == 1, F.lit(False)),
    "is_month_end": lambda c: F.coalesce(F.to_date(c) == F.last_day(c), F.lit(False)),
    "is_quarter_start": lambda c: F.coalesce((F.dayofmonth(c) == 1) & (F.month(c).isin(1, 4, 7, 10)), F.lit(False)),
    "is_quarter_end": lambda c: F.coalesce((F.to_date(c) == F.last_day(c)) & (F.month(c).isin(3, 6, 9, 12)), F.lit(False)),
    "is_year_start": lambda c: F.coalesce((F.dayofmonth(c) == 1) & (F.month(c) == 1), F.lit(False)),
    "is_year_end": lambda c: F.coalesce((F.dayofmonth(c) == 31) & (F.month(c) == 12), F.lit(False)),
    "is_leap_year": lambda c: F.coalesce((F.year(c) % 4 == 0) & ((F.year(c) % 100 != 0) | (F.year(c) % 400 == 0)), F.lit(False)),
    "isocalendar_week": lambda c: F.weekofyear(c),
    "week": lambda c: F.weekofyear(c),
    "strftime": lambda c, date_format: F.date_format(c, _strftime_to_java(date_format)),
    "month_name": lambda c, locale=None: F.date_format(c, "MMMM"),
    "day_name": lambda c, locale=None: F.date_format(c, "EEEE"),
    "normalize": lambda c: F.date_trunc("day", c),
    "floor": lambda c, freq: _dt_floor(c, freq),
    "ceil": lambda c, freq: _dt_ceil(c, freq),
    "round": lambda c, freq: _dt_round(c, freq),
    # timedelta accessors: DayTimeIntervalType -> fractional seconds via the
    # decimal cast (interval cannot cast to double directly)
    "total_seconds": lambda c: _TD_SECONDS(c),
    "days": lambda c: F.floor(_TD_SECONDS(c) / 86400).cast("int"),
    "seconds": lambda c: (c.cast("long") % 86400).cast("int"),
    "epoch_seconds": lambda c: F.unix_timestamp(_TS(c)),
    "timetz": lambda c: F.date_format(c, "HH:mm:ss"),
    # timedelta component accessors (values are seconds-as-double)
    "microseconds": lambda c: (F.round(_TD_SECONDS(c) * 1e6) % 1_000_000).cast("int"),
    "nanoseconds": lambda c: (F.lit(0)).cast("int"),  # µs storage precision
    "to_timestamp": lambda c: F.to_timestamp(c),
    # tz surface (Spark timestamps are instants rendered in the session tz;
    # pandas' tz-aware dtype is represented by its instant):
    #   tz_localize(tz): reinterpret the wall-clock value as being in `tz`
    #   tz_convert(tz):  render the UTC instant as wall-clock time in `tz`
    "tz_localize": lambda c, tz, ambiguous="raise", nonexistent="raise":
        _tz_localize(c, tz, ambiguous, nonexistent),
    "tz_convert": lambda c, tz: F.from_utc_timestamp(_TS(c), tz),
    # periods as canonical strings (pandas Period repr) — the reference
    # default-to-pandas's Period objects have no Spark type; the string form
    # is groupable/joinable, which is what period conversion is used for
    "to_period": lambda c, freq="M": _to_period(c, freq),
    "qyear": lambda c: F.year(c),
    "start_time": lambda c: F.date_trunc("day", c),
    "end_time": lambda c: F.date_trunc("day", c) + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND"),
}


def _tz_localize(c: Column, tz, ambiguous="raise", nonexistent="raise") -> Column:
    """pandas tz_localize semantics on naive wall clocks. Default
    (ambiguous='raise', nonexistent='raise') keeps the engine's documented
    resolution — Spark's to_utc_timestamp choice — with no extra exprs; a
    distributed engine cannot raise per-row without an action.

    ambiguous=True/False/'NaT' resolve fall-back overlap walls: a wall w is
    ambiguous iff another UTC instant (u0 +/- the DST gap; 1 h or 30 min
    covers every real zone) renders to the same wall. True picks the DST
    (earliest-UTC) interpretation, False the standard (latest), 'NaT'
    nulls. nonexistent='NaT' nulls spring-forward gap walls (detected by
    the wall round trip failing)."""
    if tz is None:
        return c
    w = _TS(c)
    u0 = F.to_utc_timestamp(w, tz)
    if ambiguous == "raise" and nonexistent == "raise":
        return u0

    def wall(u):
        return F.from_utc_timestamp(u, tz)

    h1 = F.expr("INTERVAL 1 HOUR")
    m30 = F.expr("INTERVAL 30 MINUTE")
    earlier = [u0 - h1, u0 - m30]
    later = [u0 + h1, u0 + m30]
    m_ok = [wall(u) == w for u in earlier]
    p_ok = [wall(u) == w for u in later]
    is_amb = m_ok[0] | m_ok[1] | p_ok[0] | p_ok[1]
    expr = u0
    if ambiguous is True:  # DST interpretation = earliest UTC instant
        expr = F.when(m_ok[0], earlier[0]).when(m_ok[1], earlier[1]).otherwise(expr)
    elif ambiguous is False:  # standard time = latest UTC instant
        expr = F.when(p_ok[0], later[0]).when(p_ok[1], later[1]).otherwise(expr)
    elif ambiguous == "NaT":
        expr = F.when(is_amb, F.lit(None).cast("timestamp")).otherwise(expr)
    elif ambiguous != "raise":
        raise NotImplementedError(
            f"tz_localize ambiguous={ambiguous!r}: only True/False/'NaT'/"
            "'raise' are supported")
    if nonexistent == "NaT":
        expr = F.when(wall(u0) != w, F.lit(None).cast("timestamp")).otherwise(expr)
    elif nonexistent != "raise":
        raise NotImplementedError(
            f"tz_localize nonexistent={nonexistent!r}: only 'NaT'/'raise' "
            "are supported")
    return expr


def _to_period(c: Column, freq: str) -> Column:
    f = freq.upper()
    if f in ("M", "MS"):
        return F.date_format(c, "yyyy-MM")
    if f in ("Y", "A", "YS"):
        return F.date_format(c, "yyyy")
    if f == "Q":
        return F.concat(F.date_format(c, "yyyy"), F.lit("Q"), F.quarter(c).cast("string"))
    if f == "D":
        return F.date_format(c, "yyyy-MM-dd")
    if f in ("H", "h"):
        return F.date_format(c, "yyyy-MM-dd HH:00")
    raise NotImplementedError(f"to_period freq {freq!r}")


_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"), ("%M", "mm"),
    ("%S", "ss"), ("%y", "yy"), ("%B", "MMMM"), ("%b", "MMM"), ("%A", "EEEE"),
    ("%a", "EEE"), ("%j", "DDD"), ("%f", "SSSSSS"), ("%p", "a"), ("%I", "hh"),
]


def _strftime_to_java(fmt: str) -> str:
    out = fmt
    for k, v in _STRFTIME_MAP:
        out = out.replace(k, v)
    return out


_FREQ_TRUNC = {
    "D": "day", "H": "hour", "h": "hour", "T": "minute", "min": "minute",
    "S": "second", "s": "second", "W": "week", "M": "month", "MS": "month",
    "Y": "year", "YS": "year", "A": "year", "Q": "quarter",
}


def _freq_us(freq: str) -> int:
    import pandas as _pd

    # bare unit names ("h", "min") mean one unit
    f = freq if freq[:1].isdigit() else "1" + freq
    return int(_pd.Timedelta(f).value // 1000)


def _dt_floor(c: Column, freq: str) -> Column:
    """Single units keep date_trunc; multiples ("15min") bucket on exact
    integer microsecond math (pmod — never double division)."""
    if freq in _FREQ_TRUNC:
        return F.date_trunc(_FREQ_TRUNC[freq], c)
    d = _freq_us(freq)
    e = F.unix_micros(_TS(c))
    return F.timestamp_micros((e - F.pmod(e, F.lit(d))).cast("long"))


def _dt_ceil(c: Column, freq: str) -> Column:
    fl = _dt_floor(c, freq)
    d = _freq_us(freq)
    return F.when(fl == _TS(c), c).otherwise(
        F.timestamp_micros((F.unix_micros(fl) + F.lit(d)).cast("long"))
    )


def _dt_round(c: Column, freq: str) -> Column:
    """pandas dt.round: round-half-to-EVEN at exact midpoints."""
    d = _freq_us(freq)
    e = F.unix_micros(_TS(c))
    rem = F.pmod(e, F.lit(d))
    base = e - rem
    q = (base / F.lit(d)).cast("long")
    # Half-to-even tie-break only exists when d is even (odd d has no exact
    # midpoint). NB: parenthesize the Python ternary — `A | (B if ...)` not
    # `(A | B) if ...` which would freeze `up` to False for odd d.
    half = ((rem == F.lit(d // 2)) & (F.pmod(q, F.lit(2)) == 1)) if d % 2 == 0 else F.lit(False)
    up = (rem > F.lit(d // 2)) | half
    return F.timestamp_micros((base + F.when(up, F.lit(d)).otherwise(F.lit(0))).cast("long"))


def dt_func(name: str, c: Column, *args, **kwargs) -> Column:
    fn = DT_FUNCS.get(name)
    if fn is None:
        raise NotImplementedError(f"dt.{name}")
    return fn(c, *args, **kwargs)
