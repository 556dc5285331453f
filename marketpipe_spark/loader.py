"""``load_ohlcv`` — the reference's public Python loading API
(src/marketpipe/loader.py:29-99) on Spark.

Differences by design: one partition-pruned scan covers all requested
symbols (the reference loops per symbol, J5 multi-symbol assembly
loader.py:101-133); the return is a DataFrame — ``.toPandas()`` reproduces
the reference's pandas (timestamp[, symbol]) MultiIndex shape.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from .lake import BAR_COLUMNS, read_bars

VALID_TIMEFRAMES = ("1m", "5m", "15m", "1h", "1d")

_UNBOUNDED_START = 0
# The reference uses 9_999_999_999_999_999_999 (loader.py:93-94) which
# overflows a JVM long; clamp to Long.MAX_VALUE — same "unbounded" semantics.
_UNBOUNDED_END = 9_223_372_036_854_775_807


def _to_ns(value) -> int:
    """datetime/date/ISO string/int-ns → int ns (reference loader.py:215-232)."""
    if value is None:
        return None
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    if isinstance(value, dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=dt.timezone.utc)
        return int(value.timestamp() * 1_000_000_000)
    if isinstance(value, dt.date):
        return _to_ns(dt.datetime(value.year, value.month, value.day, tzinfo=dt.timezone.utc))
    raise TypeError(f"cannot convert {type(value)} to ns")


def load_ohlcv(
    spark: SparkSession,
    root: str,
    symbols: str | list[str],
    timeframe: str = "1m",
    start=None,
    end=None,
    to_pandas: bool = False,
    as_polars: bool = False,
):
    """Load OHLCV bars for one or more symbols.

    Mirrors the reference's contract: timeframe validated against
    {1m,5m,15m,1h,1d}; symbols upper-cased; start/end inclusive BETWEEN on
    ts_ns with unbounded defaults (loader.py:92-94); output ordered by
    (ts_ns, symbol) (loader.py:124-133). ``as_polars=True`` converts the
    pandas result via ``pl.from_pandas`` (reference loader.py:137-139) —
    requires the optional polars dependency.

    The scan lists only the frame's directories of the requested symbols
    and days (``lake.read_bars``) and reads the seven canonical columns
    under a fixed schema, so planning runs no schema-inference job and does
    not grow with the lake; symbols or days without a partition contribute
    no rows, and a missing ``root`` raises. The rows are sorted inside one
    partition after a ``repartition(1)``: the order of a global sort
    without its range-sampling job, while the scan stays parallel.
    """
    if timeframe not in VALID_TIMEFRAMES:
        raise ValueError(f"invalid timeframe {timeframe!r}; expected one of {VALID_TIMEFRAMES}")
    if isinstance(symbols, str):
        symbols = [symbols]
    symbols = [s.upper() for s in symbols]
    start_ns = _to_ns(start) if start is not None else _UNBOUNDED_START
    end_ns = _to_ns(end) if end is not None else _UNBOUNDED_END

    df = (
        read_bars(spark, root, frame=timeframe, symbols=symbols,
                  start_ns=start_ns, end_ns=end_ns, columns=BAR_COLUMNS)
        .select(*BAR_COLUMNS)
        .repartition(1)
        .sortWithinPartitions("ts_ns", "symbol")
    )
    if not (to_pandas or as_polars):
        return df
    pdf = df.toPandas()
    if len(pdf):
        import pandas as pd

        pdf["timestamp"] = pd.to_datetime(pdf["ts_ns"], utc=True)
        if len(symbols) > 1:
            pdf = pdf.set_index(["timestamp", "symbol"]).sort_index()
        else:
            pdf = pdf.set_index("timestamp").drop(columns=["symbol"])
    if as_polars:
        try:
            import polars as pl
        except ImportError as e:  # optional dep, reference loader.py:137-139
            raise ImportError(
                "as_polars=True requires the optional 'polars' package"
            ) from e
        return pl.from_pandas(pdf.reset_index() if len(pdf) else pdf)
    return pdf
