"""Shared column-expression helpers.

All time-bucket math is pure int64 arithmetic on ``ts_ns`` — the reference's
DuckDB ``floor(ts_ns/W)*W`` on BIGINT (aggregation/domain/services.py:36) is
reproduced bit-exactly as ``ts_ns - ts_ns % W`` to avoid double-precision
floor drift at ns magnitudes (SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
NS_PER_MIN = 60 * NS_PER_SEC
NS_PER_DAY = 86_400 * NS_PER_SEC

#: 13:30 UTC (09:30 ET) daily-bar label offset, ns.  The reference labels 1d
#: bars at market open: epoch(utc_day) + 13.5h
#: (aggregation/domain/services.py:16-30).
DAILY_LABEL_OFFSET_NS = 48_600 * NS_PER_SEC


def col_or_expr(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bucket_ns(ts_ns: str | Column, window_ns: int) -> Column:
    """Tumbling-window bucket label: integer-exact ``ts_ns - ts_ns % W``."""
    c = col_or_expr(ts_ns)
    return (c - (c % F.lit(window_ns))).cast("long")


def day_ns(ts_ns: str | Column) -> Column:
    """UTC-day floor of a ns timestamp (integer arithmetic)."""
    return bucket_ns(ts_ns, NS_PER_DAY)


def daily_label_ns(ts_ns: str | Column) -> Column:
    """Reference 1d bar label: UTC midnight + 13:30 (services.py:21)."""
    return (day_ns(ts_ns) + F.lit(DAILY_LABEL_OFFSET_NS)).cast("long")


def timestamp_from_ts_ns(ts_ns: str | Column) -> Column:
    """int64 ns -> µs TimestampType (display only; truncates sub-µs)."""
    return F.timestamp_micros((col_or_expr(ts_ns) / F.lit(1000)).cast("long"))


def trading_date(ts_ns: str | Column) -> Column:
    """UTC calendar date of a ns timestamp
    (reference: domain/value_objects.py:230-236)."""
    return F.to_date(timestamp_from_ts_ns(day_ns(ts_ns)))


def typical_price(high: str | Column, low: str | Column, close: str | Column) -> Column:
    """(H+L+C)/3 — VWAP fallback price (domain/services.py:49-56)."""
    return (col_or_expr(high) + col_or_expr(low) + col_or_expr(close)) / F.lit(3.0)


# ---------------------------------------------------------------------------
# Trading calendar (reference TradingCalendarService,
# domain/services.py:610-689: weekday-only trading days; fixed UTC-5 ET
# approximation — pre 04:00, open 09:30, close 16:00, post 20:00 ET).
# All ns-level predicates use pure integer epoch math (day index, weekday by
# modular arithmetic off 1970-01-01 = Thursday) so any SQL engine reproduces
# them bit-exactly — no session-zone-dependent functions.

SESSION_OPEN_NS = 52_200 * NS_PER_SEC  # 09:30 ET = 14:30 UTC
SESSION_CLOSE_NS = 75_600 * NS_PER_SEC  # 16:00 ET = 21:00 UTC


def weekday_idx(ts_ns: str | Column) -> Column:
    """0=Mon .. 6=Sun by modular arithmetic (1970-01-01 was a Thursday).

    ns-since-epoch (~1.7e18) exceeds 2^53, so a direct double division
    would lose ulps; instead reduce mod one week FIRST (exact long %), then
    divide the sub-week remainder (< 2^53, exact multiple of a day)."""
    week_ns = day_ns(ts_ns) % F.lit(7 * NS_PER_DAY)
    d = (week_ns / F.lit(NS_PER_DAY)).cast("long")
    return ((d + F.lit(3)) % F.lit(7)).cast("int")


def is_trading_day_ns(ts_ns: str | Column) -> Column:
    """Weekday check on the ns timestamp (services.py:617-631 simplified
    calendar: weekdays only, no holiday table)."""
    return weekday_idx(ts_ns) <= F.lit(4)


def is_regular_session_ns(ts_ns: str | Column) -> Column:
    """Inside the regular session [open, close) on a trading day
    (services.py:633-654 session times, UTC-5 approximation)."""
    c = col_or_expr(ts_ns)
    intra = c % F.lit(NS_PER_DAY)
    return (
        is_trading_day_ns(ts_ns)
        & (intra >= F.lit(SESSION_OPEN_NS))
        & (intra < F.lit(SESSION_CLOSE_NS))
    )


def next_trading_day(d: str | Column) -> Column:
    """Next weekday strictly after ``d`` (services.py:656-671). Date column."""
    dow = F.dayofweek(col_or_expr(d))  # Spark: 1=Sun .. 7=Sat
    step = F.when(dow == 6, 3).when(dow == 7, 2).otherwise(1)  # Fri->Mon, Sat->Mon
    return F.date_add(col_or_expr(d), step)


def previous_trading_day(d: str | Column) -> Column:
    """Previous weekday strictly before ``d`` (services.py:673-689)."""
    dow = F.dayofweek(col_or_expr(d))
    step = F.when(dow == 2, 3).when(dow == 1, 2).otherwise(1)  # Mon->Fri, Sun->Fri
    return F.date_sub(col_or_expr(d), step)
