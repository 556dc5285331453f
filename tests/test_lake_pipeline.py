"""End-to-end pipeline roundtrip (reference SURVEY §7.1 minimum slice):
fake bars → partitioned lake → resample → agg lake → views → SQL → loader."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from marketpipe_spark.lake import BAR_COLUMNS, _write_partitioned, age_to_cutoff, read_bars, upsert_bars, write_bars
from marketpipe_spark.loader import load_ohlcv
from marketpipe_spark.operators.resample import resample, resample_all
from marketpipe_spark.plans.views import ensure_views, query, render
from marketpipe_spark.sources.fake import fake_bars

DAY_NS = 86_400 * 10**9
START = 1_704_067_200_000_000_000  # 2024-01-01 00:00 UTC


@pytest.fixture(scope="module")
def lake_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("lake"))


def test_full_roundtrip(spark, lake_root):
    bars = fake_bars(spark, ["AAPL", "MSFT"], START, 120)
    write_bars(bars, f"{lake_root}/raw", "1m", ingest_id="job1")

    raw = read_bars(spark, f"{lake_root}/raw", frame="1m")
    assert raw.count() == 240
    # partition columns materialized by the hive layout
    assert {"frame", "symbol", "date"} <= set(raw.columns)

    five = resample(raw.select("symbol", "ts_ns", "open", "high", "low", "close", "volume"), "5m")
    write_bars(five, f"{lake_root}/agg", "5m")

    views = ensure_views(spark, f"{lake_root}/agg", frames=("5m", "1h"))
    assert views == ["bars_5m", "bars_1h"]
    out = query(spark, "SELECT symbol, count(*) AS n FROM bars_5m GROUP BY symbol ORDER BY symbol")
    rows = out.collect()
    assert [r.symbol for r in rows] == ["AAPL", "MSFT"]
    assert all(r.n == 24 for r in rows)
    # empty-frame fallback view is queryable with typed schema
    assert query(spark, "SELECT * FROM bars_1h").count() == 0
    # K6 rendering
    assert "symbol" in render(out, limit=5)


def test_volume_conservation(spark, lake_root):
    raw = read_bars(spark, f"{lake_root}/raw", frame="1m")
    agg = read_bars(spark, f"{lake_root}/agg", frame="5m")
    v_raw = raw.agg(F.sum("volume")).collect()[0][0]
    v_agg = agg.agg(F.sum("volume")).collect()[0][0]
    assert v_raw == v_agg


def test_loader_api(spark, lake_root):
    df = load_ohlcv(spark, f"{lake_root}/raw", "aapl", "1m")
    assert df.count() == 120
    assert df.select("symbol").distinct().collect()[0][0] == "AAPL"

    sub = load_ohlcv(
        spark,
        f"{lake_root}/raw",
        ["AAPL"],
        "1m",
        start=START + 10 * 60 * 10**9,
        end=START + 19 * 60 * 10**9,
    )
    assert sub.count() == 10  # inclusive BETWEEN

    pdf = load_ohlcv(spark, f"{lake_root}/raw", ["AAPL", "MSFT"], "1m", to_pandas=True)
    assert list(pdf.index.names) == ["timestamp", "symbol"]

    with pytest.raises(ValueError):
        load_ohlcv(spark, f"{lake_root}/raw", "AAPL", "2m")


def test_upsert_keep_last(spark, lake_root):
    root = f"{lake_root}/upsert"
    bars = fake_bars(spark, ["AAPL"], START, 60)
    upsert_bars(bars, root, "1m")  # first write
    # overlapping rewrite: same 30 timestamps, shifted values
    patch = fake_bars(spark, ["AAPL"], START, 30, seed=99)
    upsert_bars(patch, root, "1m")
    out = read_bars(spark, root, frame="1m")
    assert out.count() == 60  # no duplicates on (symbol, ts_ns)
    # patched rows won: values match the seed=99 generation
    patched = {r.ts_ns: r.close for r in patch.collect()}
    got = {r.ts_ns: r.close for r in out.filter(F.col("ts_ns").isin(list(patched))).collect()}
    assert got == patched


def test_age_expressions():
    # reference approximation: month = 30 days, year = 365 days, unit-less =
    # days (cli/prune.py:17-35)
    today = dt.date(2026, 8, 13)
    assert age_to_cutoff("30d", today) == dt.date(2026, 7, 14)
    assert age_to_cutoff("30", today) == dt.date(2026, 7, 14)  # default unit
    assert age_to_cutoff("18m", today) == today - dt.timedelta(days=18 * 30)
    assert age_to_cutoff("5y", today) == today - dt.timedelta(days=5 * 365)
    with pytest.raises(ValueError):
        age_to_cutoff("soon")


def test_upsert_preserves_columns_and_batch_order(spark, lake_root):
    from pyspark.sql import Row

    root = f"{lake_root}/upsert_cols"
    first = fake_bars(spark, ["AAPL"], START, 10)
    upsert_bars(first, root, "1m", ingest_id="job-A")
    # second upsert WITHOUT ingest_id must not erase job-A from old rows
    upsert_bars(fake_bars(spark, ["AAPL"], START + 10 * 60 * 10**9, 5, seed=7), root, "1m")
    out = read_bars(spark, root, frame="1m")
    ids = {r.ts_ns: r.ingest_id for r in out.select("ts_ns", "ingest_id").collect()}
    assert all(ids[r.ts_ns] == "job-A" for r in first.collect())

    # intra-batch duplicate keys: the later row in batch order wins
    # (reference drop_duplicates keep='last', parquet_engine.py:162-164)
    dup = spark.createDataFrame(
        [("AAPL", START, 1.0, 1.0, 1.0, 111.0, 1), ("AAPL", START, 2.0, 2.0, 2.0, 222.0, 2)],
        "symbol string, ts_ns long, open double, high double, low double, close double, volume long",
    ).coalesce(1)
    upsert_bars(dup, root, "1m")
    row = read_bars(spark, root, frame="1m").filter(F.col("ts_ns") == START).collect()
    assert len(row) == 1 and row[0].close == 222.0


def test_written_files_sorted_by_ts_ns(spark, lake_root):
    """Each lake file is sorted by ts_ns, whether the write's frame is one
    literal (write_bars) or a column of the batch (the multi-frame write of
    an increment's frames)."""
    import glob

    import pyarrow.parquet as pq

    write_bars(fake_bars(spark, ["AAPL", "MSFT"], START, 2 * 390, bar_seconds=120),
               f"{lake_root}/sorted_raw", "1m")
    bars = read_bars(spark, f"{lake_root}/sorted_raw", frame="1m", columns=BAR_COLUMNS)
    write_bars(resample(bars, "5m"), f"{lake_root}/sorted_one", "5m")
    _write_partitioned(resample_all(bars, ["5m", "1h"]), f"{lake_root}/sorted_all", None, "append")
    for root, n_files in ((f"{lake_root}/sorted_one", 4), (f"{lake_root}/sorted_all", 8)):
        files = glob.glob(f"{root}/frame=*/symbol=*/date=*/*.parquet")
        assert len(files) == n_files
        for path in files:
            ts = pq.read_table(path, columns=["ts_ns"]).column("ts_ns").to_pylist()
            assert ts == sorted(ts), path


@pytest.fixture(scope="module")
def gappy_lake(spark, lake_root):
    """1m bars on days 0 and 2 only (day 1 has no partition) for AAPL and
    BRK/B, a symbol whose directory name Spark percent-escapes."""
    root = f"{lake_root}/gappy"
    bars = [fake_bars(spark, ["AAPL", "BRK/B"], START + day * DAY_NS, 5) for day in (0, 2)]
    for b in bars:
        write_bars(b, root, "1m")
    return root, sorted((tuple(r) for b in bars for r in b.collect()), key=lambda t: (t[1], t[0]))


def test_load_keeps_exactly_the_rows_present(spark, gappy_lake):
    root, rows = gappy_lake
    # NOPE has no directory; days -1, 1 and 3 of the range have no partition
    got = load_ohlcv(spark, root, ["AAPL", "NOPE", "brk/b"], "1m",
                     start=START - DAY_NS, end=START + 4 * DAY_NS)
    assert [tuple(r) for r in got.collect()] == rows
    assert load_ohlcv(spark, root, "AAPL", "1m", start=START + DAY_NS,
                      end=START + 2 * DAY_NS - 1).count() == 0


def test_load_of_absent_symbols_is_empty_and_missing_root_raises(spark, gappy_lake):
    root, _ = gappy_lake
    out = load_ohlcv(spark, root, ["NOPE", "ZZZ"], "1m")
    assert out.columns == list(BAR_COLUMNS) and out.count() == 0
    with pytest.raises(AnalysisException):
        load_ohlcv(spark, f"{root}/missing", "AAPL", "1m")
    with pytest.raises(ValueError, match="vwap"):
        read_bars(spark, root, frame="1m", columns=["vwap"])


def test_point_load_runs_at_most_two_jobs_on_a_40_day_symbol(spark, lake_root):
    # 40 date partitions under one symbol: over the 32 paths above which
    # Spark lists a directory with a parallel job
    root = f"{lake_root}/forty"
    # one more input column and an int volume: the write keeps the lake schema
    bars = fake_bars(spark, ["AAPL"], START, 40, bar_seconds=86_400)
    write_bars(bars.withColumn("vwap", F.col("close")).withColumn("volume", F.col("volume").cast("int")),
               root, "1d")
    sc = spark.sparkContext
    group = "test-lake-pipeline-point-load"
    sc.setJobGroup(group, "point load")
    try:
        rows = load_ohlcv(spark, root, "AAPL", "1d", start=START + 20 * DAY_NS,
                          end=START + 21 * DAY_NS - 1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.ts_ns for r in rows] == [START + 20 * DAY_NS]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    # a lone frame=1d directory still reads its partition column as a string
    dtypes = dict(read_bars(spark, root, frame="1d").dtypes)
    assert dtypes["frame"] == "string"
    assert "vwap" not in dtypes and dtypes["volume"] == "bigint"


def test_upsert_of_one_day_reads_only_its_partition(spark, lake_root):
    # a 1m lake of 40 date partitions; upsert one bar into one of them
    root = f"{lake_root}/upsert_forty"
    write_bars(fake_bars(spark, ["AAPL"], START, 40, bar_seconds=86_400), root, "1m")
    day20 = START + 20 * DAY_NS
    patch = spark.createDataFrame(
        [("AAPL", day20, 1.0, 1.0, 1.0, 7.0, 1)],
        "symbol string, ts_ns long, open double, high double, low double, close double, volume long",
    )
    sc = spark.sparkContext
    group = "test-lake-pipeline-upsert-one-day"
    sc.setJobGroup(group, "upsert one day")
    try:
        upsert_bars(patch, root, "1m", ingest_id="patch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    out = read_bars(spark, root, frame="1m", columns=["ts_ns", "close"])
    assert out.count() == 40
    assert out.filter(F.col("ts_ns") == day20).collect()[0].close == 7.0

    # a file without ts_ns in the touched partition fails the upsert, which
    # leaves the partition as it was
    day30 = START + 30 * DAY_NS
    part = f"{root}/frame=1m/symbol=AAPL/date={dt.date(2024, 1, 31)}"
    spark.range(2).selectExpr("id AS wrong_col").write.mode("append").parquet(part)
    before = sorted(os.listdir(part))
    with pytest.raises(Exception, match="has no ts_ns"):
        upsert_bars(patch.withColumn("ts_ns", F.lit(day30)), root, "1m")
    assert sorted(os.listdir(part)) == before


def test_increment_resending_part_of_a_landed_day(spark, tmp_path):
    """An increment that re-sends part of a landed day rewrites each touched
    frame partition as the resample of the merged raw day, reads no file of
    the aggregate lake, and leaves the other day's aggregate files as they
    were."""
    from glob import glob

    from marketpipe_spark.streaming.incremental import CheckpointStore, incremental_job

    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    frames = ["5m", "1h", "1d"]
    landed = fake_bars(spark, ["AAPL"], START, 60).unionByName(fake_bars(spark, ["AAPL"], START + DAY_NS, 60))
    incremental_job(spark, "land", landed, raw, agg, cps, frames=frames)

    untouched = {p: open(p, "rb").read() for p in glob(f"{agg}/frame=*/symbol=AAPL/date=2024-01-02/*")}
    touched = glob(f"{agg}/frame=*/symbol=AAPL/date=2024-01-01/*.parquet")
    assert len(untouched) == len(touched) == 3
    for path in touched:  # landing fails if it reads any of them
        with open(path, "wb") as f:
            f.write(b"not parquet")

    # minutes 30-89 of day 1 with other values, under a job without a checkpoint
    resend = fake_bars(spark, ["AAPL"], START + 30 * 60 * 10**9, 60, seed=7)
    out = incremental_job(spark, "resend", resend, raw, agg, cps, frames=frames)

    raw_day = read_bars(spark, raw, frame="1m", start_ns=START, end_ns=START + DAY_NS - 1).select(*BAR_COLUMNS)
    assert raw_day.count() > 60  # the re-sent minutes extend the day (invalid bars stay out)
    for frame in frames:
        want = sorted(resample(raw_day, frame).collect())
        part = read_bars(spark, agg, frame=frame, start_ns=START, end_ns=START + DAY_NS - 1)
        assert sorted(part.select(*BAR_COLUMNS).collect()) == want
        assert {r.ingest_id for r in part.select("ingest_id").collect()} == {"resend"}
        assert sorted(out[frame].select(*BAR_COLUMNS).collect()) == want
    assert {p: open(p, "rb").read() for p in glob(f"{agg}/frame=*/symbol=AAPL/date=2024-01-02/*")} == untouched
