"""Golden-value tests replicating the reference's resample unit test
(reference: tests/unit/aggregation/test_duckdb_engine.py:31-91)."""

from __future__ import annotations

from marketpipe_spark.functions import DAILY_LABEL_OFFSET_NS, NS_PER_DAY
from marketpipe_spark.operators.resample import resample, resample_all


def test_5m_golden(golden_bars):
    out = resample(golden_bars, "5m").orderBy("ts_ns").collect()
    assert len(out) == 2
    b1, b2 = out
    assert (b1.open, b1.high, b1.low, b1.close, b1.volume) == (100.0, 105.0, 99.0, 104.5, 6000)
    assert (b2.open, b2.high, b2.low, b2.close, b2.volume) == (105.0, 110.0, 104.0, 109.5, 8500)
    # bucket labels are exact multiples of 300e9
    assert all(r.ts_ns % 300_000_000_000 == 0 for r in out)


def test_15m_covers_all(golden_bars):
    out = resample(golden_bars, "15m").collect()
    assert sum(r.volume for r in out) == sum(1000 + 100 * i for i in range(10))


def test_daily_label(golden_bars):
    out = resample(golden_bars, "1d").collect()
    assert len(out) == 1
    r = out[0]
    assert r.ts_ns % NS_PER_DAY == DAILY_LABEL_OFFSET_NS
    assert (r.open, r.high, r.low, r.close, r.volume) == (100.0, 110.0, 99.0, 109.5, 14500)


def test_multi_symbol_independent(spark, golden_bars):
    from pyspark.sql import functions as F

    two = golden_bars.union(golden_bars.withColumn("symbol", F.lit("MSFT")))
    out = resample(two, "5m")
    assert out.count() == 4
    assert out.select("symbol").distinct().count() == 2


def test_resample_all_frames(golden_bars):
    """One DataFrame: each frame's resample, tagged with its frame."""
    out = resample_all(golden_bars)
    assert out.columns == [*resample(golden_bars, "5m").columns, "frame"]
    counts = dict(out.groupBy("frame").count().collect())
    assert counts == {"5m": 2, "15m": 2, "1h": 1, "4h": 1, "1d": 1}
    picked = resample_all(golden_bars, ["1d", "5m"])
    assert sorted(r.frame for r in picked.collect()) == ["1d", "5m", "5m"]


# ---------------------------------------------------------------------------
# Incremental rollup maintenance

def test_refresh_resample_equals_full_recompute(spark, golden_bars):
    """Refresh after a batch that (a) extends an existing bucket and
    (b) opens a brand-new bucket must equal a from-scratch resample."""
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.resample import refresh_resample, resample_intraday

    base_old = golden_bars.filter(F.col("ts_ns") < F.lit(1_640_995_800_000_000_000 + 7 * 60_000_000_000))
    batch = golden_bars.filter(F.col("ts_ns") >= F.lit(1_640_995_800_000_000_000 + 7 * 60_000_000_000))
    agg_old = resample_intraday(base_old, 300)
    out = refresh_resample(agg_old, base=golden_bars, batch=batch, seconds=300)
    full = resample_intraday(golden_bars, 300)
    assert out.exceptAll(full).count() == 0
    assert full.exceptAll(out).count() == 0


def test_refresh_resample_broadcasts_touched_keys(spark, golden_bars):
    """The touched-key joins must be broadcast (anti + semi), never a
    full-shuffle join of the aggregate table."""
    from pyspark.sql import functions as F

    from marketpipe_spark.operators.resample import refresh_resample, resample_intraday

    batch = golden_bars.filter(F.col("ts_ns") >= F.lit(1_640_995_800_000_000_000 + 5 * 60_000_000_000))
    agg_old = resample_intraday(golden_bars, 300)
    out = refresh_resample(agg_old, base=golden_bars, batch=batch, seconds=300)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
