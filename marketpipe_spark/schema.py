"""Canonical schemas (explicit StructTypes — never inferred).

Mirrors the reference's canonical bar schema ``schema/schema_v1.json``
(name ``ohlcv_1m_bars_v1``) and the minimal enforced write schema
(reference: src/marketpipe/infrastructure/storage/parquet_engine.py:83-86).
Timestamps in the data plane are int64 **nanoseconds since epoch** (``ts_ns``);
Spark's TimestampType is µs-precision so ts_ns stays a LongType at rest and
human timestamps are derived columns only.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Minimal enforced bar schema — what the reference actually writes
#: (parquet_engine.py:83-86,220-231) plus the symbol column.
BARS_MIN_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("ts_ns", T.LongType(), False),
        T.StructField("open", T.DoubleType(), False),
        T.StructField("high", T.DoubleType(), False),
        T.StructField("low", T.DoubleType(), False),
        T.StructField("close", T.DoubleType(), False),
        T.StructField("volume", T.LongType(), False),
    ]
)

#: Full canonical schema_v1 (27 fields, reference schema/schema_v1.json).
BARS_V1_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), True),  # µs display copy
        T.StructField("ts_ns", T.LongType(), False),  # physical key (ns)
        T.StructField("date", T.DateType(), True),
        T.StructField("open", T.DoubleType(), False),
        T.StructField("high", T.DoubleType(), False),
        T.StructField("low", T.DoubleType(), False),
        T.StructField("close", T.DoubleType(), False),
        T.StructField("volume", T.LongType(), True),
        T.StructField("vwap", T.DoubleType(), True),
        T.StructField("trade_count", T.IntegerType(), True),
        T.StructField("bid", T.DoubleType(), True),
        T.StructField("ask", T.DoubleType(), True),
        T.StructField("spread", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("exchange", T.StringType(), True),
        T.StructField("frame", T.StringType(), True),
        T.StructField("session", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("adjusted", T.BooleanType(), True),
        T.StructField("halted", T.BooleanType(), True),
        T.StructField("ingest_id", T.StringType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)

#: SCD-2 symbol master (reference: ingestion/normalizer/scd_writer.py:444-465).
SYMBOLS_MASTER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("natural_key", T.StringType(), False),
        T.StructField("symbol", T.StringType(), True),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("exchange", T.StringType(), True),
        T.StructField("asset_type", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("market_cap", T.LongType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("industry", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("valid_from", T.DateType(), False),
        T.StructField("valid_to", T.DateType(), True),  # NULL = current
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("as_of", T.DateType(), False),
    ]
)

#: Raw provider symbol rows before normalization (domain/symbol.py:58-104).
SYMBOL_STAGE_SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType(), False),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("exchange_mic", T.StringType(), True),
        T.StructField("figi", T.StringType(), True),
        T.StructField("asset_type", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("market_cap", T.LongType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("industry", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("currency", T.StringType(), True),
        T.StructField("provider", T.StringType(), False),
        T.StructField("as_of", T.DateType(), False),
    ]
)

#: Control-plane metrics history (reference: metrics.py:145-156).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # unix seconds
        T.StructField("name", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("provider", T.StringType(), True),
        T.StructField("feed", T.StringType(), True),
    ]
)

SCHEMA_VERSION = 1
