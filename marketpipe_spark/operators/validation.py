"""Data-quality validation — the reference's 13-rule set as column expressions.

Reference: src/marketpipe/validation/domain/services.py:14-170 and the batch
variant src/marketpipe/domain/services.py:374-607. The reference validates
row-by-row Python objects; here every rule is a vectorized predicate and the
output is one ``errors(symbol, ts_ns, reason)`` DataFrame
(value shape: validation/domain/value_objects.py:9-29).

Design: each rule contributes ``when(violation, reason)`` into an array;
``explode`` emits one error row per violated rule. One scan + one per-symbol
window (for the lag/trailing rules) — no unions of N filtered subplans, so a
100 TB validation pass stays a single job with two stages; ``split_valid``
pins that pass once and reads its valid and its error rows from the pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import NS_PER_MIN

#: 9:30–16:00 ET expressed as 13:30–20:00 UTC (the reference's approximation,
#: validation/domain/services.py:126-138).
MARKET_OPEN_SEC_UTC = 13 * 3600 + 1800
MARKET_CLOSE_SEC_UTC = 20 * 3600

PRICE_MIN = 0.01
PRICE_MAX = 100_000.0
VOLUME_CAP = 1_000_000_000


def validate_bars(
    bars: DataFrame, *, market_hours: bool = True, skew_span: int | str | None = None
) -> DataFrame:
    """Run all rules; return errors(symbol, ts_ns, reason).

    ``bars`` needs (symbol, ts_ns, open, high, low, close, volume).
    ``market_hours=False`` disables the session/weekend rules (9-10) for
    24/7 data.

    ``skew_span`` (ns): hot-symbol mitigation. Every window rule here looks
    back ≤ 20 rows, so the per-symbol window can be chunked with a bounded
    carry (``skew.chunked_trailing_frame``) — bit-identical output, but one
    hot symbol's rows spread over time-range/span tasks instead of one
    straggler (SURVEY §7.4). Use ~1 day for minute bars; ``None`` keeps the
    single-window plan; ``"auto"`` profiles the table and chunks only
    diagnosed hot symbols (``skew.plan_trailing_skew`` — plain plan when
    no symbol crosses the straggler threshold).
    """
    return _with_reasons(bars, market_hours, skew_span).select(
        "symbol", "ts_ns", F.explode("reasons").alias("reason")
    )


def _with_reasons(bars: DataFrame, market_hours: bool, skew_span: int | str | None = None) -> DataFrame:
    """``bars`` plus ``reasons``, the rules each row violates (args: ``validate_bars``)."""
    from .skew import chunked_trailing_frame, resolve_trailing_skew

    skew_span, hot = resolve_trailing_skew(bars, "symbol", "ts_ns", skew_span)
    src = bars
    if skew_span is not None:
        src = chunked_trailing_frame(
            bars, "symbol", "ts_ns", 20, skew_span, hot_keys=hot
        )
        wo = W.partitionBy("symbol", "_chunk").orderBy("ts_ns")
    else:
        wo = W.partitionBy("symbol").orderBy("ts_ns")
    w10 = wo.rowsBetween(-9, 0)
    w20 = wo.rowsBetween(-20, -1)

    prev_ts = F.lag("ts_ns").over(wo)
    prev_close = F.lag("close").over(wo)
    sec_of_day = (F.col("ts_ns") % F.lit(86_400 * 10**9)) / F.lit(10**9)
    # 1970-01-01 was a Thursday → day_index % 7: 0=Thu ... 2=Sat, 3=Sun.
    dow = F.floor(F.col("ts_ns") / F.lit(86_400 * 10**9)) % 7
    zero_vol_in_10 = F.sum(F.when(F.col("volume") == 0, 1).otherwise(0)).over(w10)
    pos_vol_avg_20 = F.avg(F.when(F.col("volume") > 0, F.col("volume"))).over(w20)

    rules: list[tuple[str, Column]] = [
        # 1. monotonic timestamps per symbol (services.py:21-23)
        ("non_monotonic_timestamp", prev_ts.isNotNull() & (F.col("ts_ns") <= prev_ts)),
        # 2. prices > 0 (services.py:25-32)
        (
            "non_positive_price",
            (F.col("open") <= 0) | (F.col("high") <= 0) | (F.col("low") <= 0) | (F.col("close") <= 0),
        ),
        # 3. volume >= 0 (services.py:34-36)
        ("negative_volume", F.col("volume") < 0),
        # 4. OHLC consistency (services.py:74-82)
        (
            "ohlc_inconsistent",
            (F.col("high") < F.col("open"))
            | (F.col("high") < F.col("close"))
            | (F.col("high") < F.col("low"))
            | (F.col("low") > F.col("open"))
            | (F.col("low") > F.col("close")),
        ),
        # 5. minute alignment (services.py:84-87)
        ("timestamp_not_minute_aligned", (F.col("ts_ns") % F.lit(NS_PER_MIN)) != 0),
        # 6. zero volume with price movement (services.py:51-58)
        ("zero_volume_with_movement", (F.col("volume") == 0) & (F.col("open") != F.col("close"))),
        # 7. extreme movement vs prev close (services.py:89-109)
        (
            "extreme_price_movement",
            prev_close.isNotNull()
            & (prev_close > 0)
            & (F.try_divide(F.abs(F.col("open") - prev_close), prev_close) > 0.5),
        ),
        # 8. volume sanity cap (services.py:111-124)
        ("volume_above_cap", F.col("volume") > VOLUME_CAP),
        # 11. price range sanity (services.py:140-170)
        (
            "price_out_of_range",
            (F.col("low") < PRICE_MIN) | (F.col("high") > PRICE_MAX),
        ),
        # 12. sustained zero volume: >=5 zero bars in trailing 10
        # (domain/services.py:590-596)
        ("sustained_zero_volume", zero_vol_in_10 >= 5),
        # 13. volume spike >10x trailing-20 positive average
        # (domain/services.py:598-606)
        (
            "volume_spike",
            pos_vol_avg_20.isNotNull() & (F.col("volume") > pos_vol_avg_20 * 10),
        ),
    ]
    if market_hours:
        rules += [
            # 9. trading-hours window (services.py:126-138)
            (
                "outside_market_hours",
                (sec_of_day < MARKET_OPEN_SEC_UTC) | (sec_of_day > MARKET_CLOSE_SEC_UTC),
            ),
            # 10. weekend (domain/services.py:525-527)
            ("weekend_bar", (dow == 2) | (dow == 3)),
        ]

    reasons = F.array_compact(
        F.array(*[F.when(cond, F.lit(reason)) for reason, cond in rules])
    )
    out = src.withColumn("reasons", reasons)
    return out if skew_span is None else out.filter(F.col("_carry") == 0).drop("_carry", "_chunk")


def split_valid(bars: DataFrame, *, market_hours: bool = True) -> tuple[DataFrame, DataFrame]:
    """(valid, errors) — the reference lets valid bars pass through and
    reports the rest (ingestion/application/services.py:512-529).

    The rules run once, pinned eagerly; ``valid`` (``bars``' columns) and
    ``errors`` (``validate_bars``' output) read the pin. A row is invalid when
    any row with its ``(symbol, ts_ns)`` key has a reason, so every copy of a
    dup leaves; a row with a null ``symbol`` or ``ts_ns`` stays valid."""
    # Reuses the rules' symbol shuffle and ts_ns sort: no new exchange or sort.
    key_bad = F.max(F.size("reasons")).over(W.partitionBy("symbol", "ts_ns")) > 0
    bad = key_bad & F.col("symbol").isNotNull() & F.col("ts_ns").isNotNull()
    pinned = _with_reasons(bars, market_hours).withColumn("_bad", bad).localCheckpoint(eager=True)
    valid = pinned.filter(~F.col("_bad")).select(*bars.columns)
    errors = pinned.select("symbol", "ts_ns", F.explode("reasons").alias("reason"))
    return valid, errors


def write_validation_report(errors: DataFrame, path: str, job_id: str | None = None) -> None:
    """K5 — CSV report sink (reference: validation/infrastructure/
    repositories.py:22-59), partitioned by symbol like the reference's
    one-file-per-symbol layout."""
    out = errors.withColumn("job_id", F.lit(job_id)) if job_id else errors
    out.write.mode("overwrite").partitionBy("symbol").option("header", True).csv(path)
