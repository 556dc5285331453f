"""Seeded OHLCV input generator for the benchmark.

Independent of ``marketpipe_spark.sources.fake``: bars are built with numpy
from ``numpy.random.default_rng(seed)`` only, so the program under test never
generates its own inputs. Every bar is clean by construction:

- one bar per minute, 13:30-19:59 UTC (390 bars), on weekdays;
- ``open`` is the previous ``close`` of the same symbol (the walk continues
  across days), moves are a fraction of a percent, so no rule on price jumps,
  price range or OHLC order fires;
- ``volume`` is uniform in [1000, 5000], so no zero-volume or volume-spike
  rule fires (a spike needs 10x the trailing mean).

On top of that, a day can carry about 1% injected violations and a re-sent
slice of the previous day:

- ``ohlc``: ``high`` set below ``min(open, close)`` -> ``ohlc_inconsistent``;
- ``misaligned``: ``ts_ns`` moved 17 s off the minute ->
  ``timestamp_not_minute_aligned``;
- ``dup``: the same row sent twice -> ``non_monotonic_timestamp`` on one copy,
  and both copies leave the valid set (errors are keyed by (symbol, ts_ns)).

Each violation yields exactly one error row. Violations sit in minutes
[1, RESEND_MINUTES_FROM) so the re-sent tail (the last minutes of the
previous day, byte-identical to what was sent then) never holds one.

The generator also returns what a correct pipeline must produce: the valid
row count, the error row count and the 1d bars of each day.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS_PER_SEC = 1_000_000_000
NS_PER_MIN = 60 * NS_PER_SEC
NS_PER_DAY = 86_400 * NS_PER_SEC
OPEN_OFFSET_NS = (13 * 3600 + 1800) * NS_PER_SEC  # 13:30 UTC
BARS_PER_DAY = 390
FIRST_DAY = dt.date(2024, 1, 2)
VIOLATION_SHARE = 0.01
VIOLATION_KINDS = ("ohlc", "misaligned", "dup")
RESEND_MINUTES = 15
RESEND_MINUTES_FROM = BARS_PER_DAY - RESEND_MINUTES

BARS_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("ts_ns", pa.int64()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.int64()),
    ]
)
COLUMNS = BARS_SCHEMA.names


def trading_days(n: int, first: dt.date = FIRST_DAY) -> list[dt.date]:
    """The first ``n`` weekdays from ``first``."""
    out, d = [], first
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def day_start_ns(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * NS_PER_DAY


def symbol_names(n: int) -> list[str]:
    return [f"S{i:03d}" for i in range(n)]


@dataclasses.dataclass
class Day:
    """One day's increment as delivered, plus the expected outcome."""

    date: dt.date
    bars: pa.Table  # as delivered: clean bars, violations, re-sent slice
    clean: pa.Table  # the rows of this date a correct pipeline lands
    n_valid: int  # rows of this date a correct pipeline lands
    n_errors: int  # error rows validation must report
    n_injected: dict  # violation kind -> count
    daily: dict  # (symbol, label_ns) -> (open, high, low, close, volume)


class BarGenerator:
    """Deterministic generator of daily 1m increments for ``n_symbols``.

    Days are produced in order; the random walk of each symbol continues
    from one day to the next. The same seed gives the same bytes. With
    ``violations=False`` days are clean: no injected violations and no
    re-sent slice.
    """

    def __init__(self, seed: int, n_symbols: int, violations: bool = True):
        self.rng = np.random.default_rng(seed)
        self.symbols = symbol_names(n_symbols)
        self.violations = violations
        self.last_close = np.round(self.rng.uniform(20.0, 500.0, n_symbols), 4)
        self._prev_tail: pa.Table | None = None

    def _clean_day(self, day: dt.date) -> dict[str, np.ndarray]:
        s, m = len(self.symbols), BARS_PER_DAY
        rng = self.rng
        ret = rng.normal(0.0, 0.0008, (s, m))
        close = np.round(self.last_close[:, None] * np.exp(np.cumsum(ret, axis=1)), 4)
        open_ = np.concatenate([self.last_close[:, None], close[:, :-1]], axis=1)
        top, bottom = np.maximum(open_, close), np.minimum(open_, close)
        high = np.round(top + rng.uniform(0.0, 0.002, (s, m)) * open_, 4)
        low = np.round(bottom - rng.uniform(0.0, 0.002, (s, m)) * open_, 4)
        volume = rng.integers(1000, 5001, (s, m), dtype=np.int64)
        self.last_close = close[:, -1].copy()
        ts = day_start_ns(day) + OPEN_OFFSET_NS + np.arange(m, dtype=np.int64) * NS_PER_MIN
        return {
            "symbol": np.repeat(np.array(self.symbols, dtype=object), m),
            "ts_ns": np.tile(ts, s),
            "open": open_.ravel(),
            "high": high.ravel(),
            "low": low.ravel(),
            "close": close.ravel(),
            "volume": volume.ravel(),
        }

    def next_day(self, day: dt.date) -> Day:
        cols = self._clean_day(day)
        n = len(cols["ts_ns"])
        valid = np.ones(n, dtype=bool)
        injected = {k: 0 for k in VIOLATION_KINDS}
        extra: dict[str, np.ndarray] | None = None
        if self.violations:
            n_viol = max(len(VIOLATION_KINDS), round(VIOLATION_SHARE * n))
            minute = np.arange(n) % BARS_PER_DAY
            eligible = np.flatnonzero((minute >= 1) & (minute < RESEND_MINUTES_FROM))
            picks = self.rng.choice(eligible, size=n_viol, replace=False)
            kinds = np.array(VIOLATION_KINDS)[np.arange(n_viol) % len(VIOLATION_KINDS)]
            for kind in VIOLATION_KINDS:
                idx = np.sort(picks[kinds == kind])
                injected[kind] = len(idx)
                valid[idx] = False
                if kind == "ohlc":
                    low_side = np.minimum(cols["open"][idx], cols["close"][idx])
                    cols["high"][idx] = np.round(low_side * 0.99, 4)
                elif kind == "misaligned":
                    cols["ts_ns"][idx] += 17 * NS_PER_SEC
                else:
                    extra = {c: cols[c][idx].copy() for c in COLUMNS}
        daily = _daily_bars({c: cols[c][valid] for c in COLUMNS})
        today = pa.table({c: cols[c] for c in COLUMNS}, schema=BARS_SCHEMA)
        parts = [self._prev_tail] if self.violations and self._prev_tail is not None else []
        parts.append(today)
        if extra is not None:
            parts.append(pa.table(extra, schema=BARS_SCHEMA))
        minute = np.arange(n) % BARS_PER_DAY
        self._prev_tail = today.filter(pa.array(minute >= RESEND_MINUTES_FROM))
        return Day(
            date=day,
            bars=pa.concat_tables(parts),
            clean=today.filter(pa.array(valid)),
            n_valid=int(valid.sum()),
            n_errors=sum(injected.values()),
            n_injected=injected,
            daily=daily,
        )


def _daily_bars(cols: dict[str, np.ndarray]) -> dict:
    """1d bars of clean rows, labelled at 13:30 UTC of the day."""
    out = {}
    order = np.lexsort((cols["ts_ns"], cols["symbol"]))
    sym = cols["symbol"][order]
    ts = cols["ts_ns"][order]
    starts = np.flatnonzero(np.r_[True, sym[1:] != sym[:-1]])
    ends = np.r_[starts[1:], len(sym)]
    for a, b in zip(starts, ends):
        o = order[a:b]
        label = int(ts[a] - ts[a] % NS_PER_DAY + OPEN_OFFSET_NS)
        out[(str(sym[a]), label)] = (
            float(cols["open"][o[0]]),
            float(cols["high"][o].max()),
            float(cols["low"][o].min()),
            float(cols["close"][o[-1]]),
            int(cols["volume"][o].sum()),
        )
    return out


def generate_days(seed: int, n_symbols: int, n_days: int, violations: bool = True) -> list[Day]:
    gen = BarGenerator(seed, n_symbols, violations=violations)
    return [gen.next_day(d) for d in trading_days(n_days)]


def last_ts(table: pa.Table) -> dict[str, int]:
    """Symbol -> its latest ``ts_ns`` in ``table``."""
    t = table.group_by("symbol").aggregate([("ts_ns", "max")])
    return dict(zip(t["symbol"].to_pylist(), t["ts_ns_max"].to_pylist()))


def write_parquet(table: pa.Table, path: str) -> int:
    """Stage a table as one Parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)
