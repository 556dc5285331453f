"""OHLCV resampling — the reference's core aggregation operators.

Reference semantics (src/marketpipe/aggregation/domain/services.py:16-45):

- Intraday (A1): ``GROUP BY symbol, floor(ts_ns/W)*W`` with
  ``open = first(open ORDER BY ts_ns)``, ``high = max``, ``low = min``,
  ``close = last(close ORDER BY ts_ns)``, ``volume = sum``.
- Daily (A2): group by UTC calendar day, bar labeled at 13:30 UTC
  (market open): ``ts_ns = epoch(day)*1e9 + 48_600e9``.

Spark-first notes:
- Ordered first/last inside GROUP BY maps exactly to ``min_by``/``max_by``
  (value at min/max ts) — stays inside hash aggregation with map-side partial
  aggregation; no window, no sort, one shuffle on the group keys.
- Bucket label is pure int64 arithmetic (``ts_ns - ts_ns % W``) — bit-exact
  parity with DuckDB's BIGINT floor-divide (SURVEY §7.4).
- Input with duplicate timestamps makes ordered-first/last nondeterministic in
  ANY engine; dedup first (operators.dedup.keep_last) like the reference's
  upsert path (parquet_engine.py:156-173).

Scale: a 100 TB bars lake partitioned by frame/symbol/date aggregates with a
single shuffle keyed on (symbol, bucket); AQE handles hot-symbol skew. No
per-row Python executes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import NS_PER_SEC, bucket_ns, daily_label_ns

#: FrameSpec(name, seconds) — reference DEFAULT_SPECS
#: (aggregation/domain/value_objects.py:7-24).
DEFAULT_SPECS: dict[str, int] = {
    "5m": 300,
    "15m": 900,
    "1h": 3600,
    "4h": 14400,
    "1d": 86400,
}


def _ohlcv_aggs() -> list:
    return [
        F.min_by("open", "ts_ns").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "ts_ns").alias("close"),
        F.sum("volume").alias("volume"),
    ]


def resample_intraday(bars: DataFrame, seconds: int) -> DataFrame:
    """A1 — tumbling-window OHLCV resample.

    ``bars`` must have columns (symbol, ts_ns, open, high, low, close, volume).
    Returns the same shape with ts_ns = bucket start.
    """
    window_ns = seconds * NS_PER_SEC
    return (
        bars.groupBy("symbol", bucket_ns("ts_ns", window_ns).alias("bucket_ns"))
        .agg(*_ohlcv_aggs())
        .withColumnRenamed("bucket_ns", "ts_ns")
        .select("symbol", "ts_ns", "open", "high", "low", "close", "volume")
    )


def resample_daily(bars: DataFrame) -> DataFrame:
    """A2 — daily resample labeled at 13:30 UTC (market open)."""
    return (
        bars.groupBy("symbol", daily_label_ns("ts_ns").alias("label_ns"))
        .agg(*_ohlcv_aggs())
        .withColumnRenamed("label_ns", "ts_ns")
        .select("symbol", "ts_ns", "open", "high", "low", "close", "volume")
    )


def resample(bars: DataFrame, frame: str) -> DataFrame:
    """Resample 1m bars to a named frame ('5m','15m','1h','4h','1d')."""
    if frame not in DEFAULT_SPECS:
        raise ValueError(f"unknown frame {frame!r}; expected one of {sorted(DEFAULT_SPECS)}")
    if frame == "1d":
        return resample_daily(bars)
    return resample_intraday(bars, DEFAULT_SPECS[frame])


def resample_all(bars: DataFrame, frames: list[str] | None = None) -> DataFrame:
    """Every frame of ``frames`` (default: all) from one input, as the
    reference aggregates a job (aggregation/application/services.py:46-107):
    one DataFrame, the union of ``resample(bars, f)`` with a ``frame`` column,
    which one ``lake._write_partitioned`` writes."""
    return functools.reduce(
        DataFrame.unionByName,
        (resample(bars, f).withColumn("frame", F.lit(f)) for f in frames or DEFAULT_SPECS),
    )


def refresh_resample(
    agg_old: DataFrame, base: DataFrame, batch: DataFrame, seconds: int
) -> DataFrame:
    """Incremental rollup maintenance: refresh a materialized intraday
    aggregate after a new batch lands, recomputing ONLY touched buckets.

    OHLC first/last/min/max are not subtractable, so the refresh re-reads the
    base rows of each touched (symbol, bucket) group — as the upsert path
    (lake.upsert_bars) reads only its touched partitions — and keeps every
    untouched aggregate row as-is:

    - ``touched`` = distinct (symbol, bucket) of the batch — tiny, broadcast.
    - untouched rows: broadcast ANTI join on ``agg_old`` (no shuffle).
    - recomputed rows: broadcast SEMI join prunes ``base`` to touched groups
      (on a frame/symbol/date-partitioned lake this prunes at the file level
      too), then the normal one-shuffle resample over that small slice.

    At 100 TB this turns a nightly full rebuild into work proportional to
    the day's arrivals: the full-history scan disappears, and the shuffle
    moves only the touched groups' rows. ``base`` must already contain the
    batch rows (refresh runs after the upsert). Result is EXACTLY
    ``resample_intraday(base, seconds)`` — the registry entry
    ``incremental_rollup`` proves that equality against the full-recompute
    oracle value-for-value.
    """
    window_ns = seconds * NS_PER_SEC
    touched = (
        batch.select("symbol", bucket_ns("ts_ns", window_ns).alias("ts_ns")).distinct()
    )
    keep = agg_old.join(F.broadcast(touched), ["symbol", "ts_ns"], "left_anti")
    affected = base.withColumn("_b", bucket_ns("ts_ns", window_ns)).join(
        F.broadcast(touched.withColumnRenamed("ts_ns", "_b")), ["symbol", "_b"], "left_semi"
    ).drop("_b")
    return keep.unionByName(resample_intraday(affected, seconds))
