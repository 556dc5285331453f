"""SCD-2 symbol master, gap detection, provider normalization, and
checkpointed incremental jobs — correctness of the reference's pipeline
behaviors (SURVEY §2.3 J1-J3, §2.5 W1-W3, §2.9)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from marketpipe_spark.lake import age_to_cutoff, prune_bars, read_bars, write_bars
from marketpipe_spark.operators.gaps import gaps_by_symbol, missing_days
from marketpipe_spark.operators.scd import apply_scd2, latest_view, normalize_stage, null_ratios
from marketpipe_spark.sources.providers import normalize_provider_rows
from marketpipe_spark.streaming.incremental import CheckpointStore, incremental_job

STAGE_SCHEMA = (
    "provider string, ticker string, figi string, exchange_mic string, as_of date, "
    "company_name string, asset_type string, status string, market_cap long, "
    "sector string, industry string, country string, currency string"
)


def _stage_row(ticker, figi=None, company="Co", as_of=dt.date(2024, 1, 1), provider="polygon", mic="XNAS"):
    return (provider, ticker, figi, mic, as_of, company, "equity", "active", 1000, "tech", "sw", "US", "USD")


@pytest.fixture(scope="module")
def snap1(spark):
    return spark.createDataFrame(
        [_stage_row("AAPL", figi="BBG01"), _stage_row("MSFT"), _stage_row("GOOG")],
        STAGE_SCHEMA,
    )


def test_normalize_stage_natural_key_and_dedup(spark):
    # two provider snapshots of the same key: newest as_of wins, provider ASC tiebreak
    rows = [
        _stage_row("AAPL", figi="BBG01", company="Old", as_of=dt.date(2023, 1, 1)),
        _stage_row("AAPL", figi="BBG01", company="New", as_of=dt.date(2024, 1, 1)),
        _stage_row("MSFT", company="A", provider="b_prov"),
        _stage_row("MSFT", company="B", provider="a_prov"),
    ]
    out = normalize_stage(spark.createDataFrame(rows, STAGE_SCHEMA))
    by_key = {r.natural_key: r for r in out.collect()}
    assert by_key["BBG01"].company_name == "New"  # as_of DESC
    assert by_key["MSFT|XNAS"].company_name == "B"  # provider ASC
    assert set(by_key) == {"BBG01", "MSFT|XNAS"}


def test_scd2_insert_update_cycle(spark, snap1):
    d1 = dt.date(2024, 1, 1)
    m1 = apply_scd2(None, snap1, d1, spark)
    rows1 = m1.collect()
    assert len(rows1) == 3
    assert all(r.valid_from == d1 and r.valid_to is None for r in rows1)
    # dense IDs 1..3 ordered by natural_key
    ids = {r.natural_key: r.id for r in rows1}
    assert sorted(ids.values()) == [1, 2, 3]
    assert ids["BBG01"] == 1  # BBG01 < GOOG|XNAS < MSFT|XNAS

    # snapshot 2: AAPL renamed (update), TSLA appears (insert), GOOG/MSFT unchanged
    d2 = dt.date(2024, 2, 1)
    snap2 = spark.createDataFrame(
        [
            _stage_row("AAPL", figi="BBG01", company="Apple Inc", as_of=d2),
            _stage_row("MSFT", as_of=d2),
            _stage_row("GOOG", as_of=d2),
            _stage_row("TSLA", as_of=d2),
        ],
        STAGE_SCHEMA,
    )
    m2 = apply_scd2(m1, snap2, d2, spark)
    rows2 = m2.collect()
    assert len(rows2) == 5  # 3 original + 1 closed-out replacement + 1 insert

    aapl = sorted([r for r in rows2 if r.natural_key == "BBG01"], key=lambda r: r.valid_from)
    assert len(aapl) == 2
    # close-out: valid_to = snapshot_date - 1 day (reference scd_writer.py:118)
    assert aapl[0].valid_to == d2 - dt.timedelta(days=1)
    assert aapl[1].valid_to is None and aapl[1].company_name == "Apple Inc"
    assert aapl[0].id == aapl[1].id  # same surrogate id across versions

    tsla = [r for r in rows2 if r.natural_key == "TSLA|XNAS"]
    assert len(tsla) == 1 and tsla[0].id == 4  # offset past current max id

    # exactly one current row per id; latest_view returns them
    latest = latest_view(m2).collect()
    assert len(latest) == 4
    assert all(r.valid_to is None for r in latest)


def test_null_ratios(spark):
    df = spark.createDataFrame([(1, None), (2, "x"), (None, "y"), (4, "z")], "a int, b string")
    r = null_ratios(df).collect()[0]
    assert r["null_ratio_a"] == 0.25 and r["null_ratio_b"] == 0.25


def test_missing_days_weekdays(spark):
    # 2024-01-01 (Mon) .. 2024-01-12 (Fri); observe all weekdays except Jan 3 + Jan 10
    days = [dt.date(2024, 1, d) for d in (1, 2, 4, 5, 8, 9, 11, 12)]
    observed = spark.createDataFrame([(d,) for d in days], "date date")
    miss = [r.day for r in missing_days(spark, observed, dt.date(2024, 1, 1), dt.date(2024, 1, 12)).collect()]
    assert miss == [dt.date(2024, 1, 3), dt.date(2024, 1, 10)]


def test_gaps_by_symbol(spark):
    lake = spark.createDataFrame(
        [("A", dt.date(2024, 1, 1)), ("A", dt.date(2024, 1, 3)), ("B", dt.date(2024, 1, 1)),
         ("B", dt.date(2024, 1, 2)), ("B", dt.date(2024, 1, 3))],
        "symbol string, date date",
    )
    out = {(r.symbol, r.day) for r in gaps_by_symbol(lake, dt.date(2024, 1, 1), dt.date(2024, 1, 3)).collect()}
    assert out == {("A", dt.date(2024, 1, 2))}


def test_provider_normalization_polygon_ms_epoch(spark):
    rows = [
        {"t": 1_700_000_000_000, "o": "1.5", "h": "2", "l": "1", "c": "1.8", "v": "100"},
        {"t": 1_700_000_060_000, "o": "x", "h": "2", "l": "1", "c": "1.8", "v": "100"},  # bad open -> dropped
        {"o": "1", "h": "2", "l": "1", "c": "1.8", "v": "5"},  # missing ts -> dropped
    ]
    out = normalize_provider_rows(spark, "polygon", rows, "aapl").collect()
    assert len(out) == 1
    r = out[0]
    assert r.symbol == "AAPL" and r.ts_ns == 1_700_000_000_000 * 1_000_000
    assert r.open == 1.5 and r.volume == 100


def test_provider_normalization_alpaca_rfc3339(spark):
    rows = [{"t": "2024-01-02T14:30:00Z", "o": "10", "h": "11", "l": "9", "c": "10.5", "v": "42"}]
    r = normalize_provider_rows(spark, "alpaca", rows, "MSFT").collect()[0]
    expected_ns = int(dt.datetime(2024, 1, 2, 14, 30, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    assert r.ts_ns == expected_ns and r.volume == 42


def test_age_to_cutoff():
    today = dt.date(2024, 6, 15)
    assert age_to_cutoff("30d", today) == today - dt.timedelta(days=30)
    assert age_to_cutoff("18m", today) == today - dt.timedelta(days=18 * 30)
    assert age_to_cutoff("5y", today) == today - dt.timedelta(days=5 * 365)
    with pytest.raises(ValueError):
        age_to_cutoff("fortnight")


NS_MIN = 60_000_000_000


def _bars(spark, symbol, day_start_ns, n, base=100.0):
    rows = [
        (symbol, day_start_ns + i * NS_MIN, base + i, base + i + 1, base + i - 1, base + i + 0.5, 10 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "symbol string, ts_ns long, open double, high double, low double, close double, volume long"
    )


def test_incremental_job_checkpoints_and_slices(spark, tmp_path, monkeypatch):
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    day1 = 1_704_153_600_000_000_000  # 2024-01-02 00:00 UTC

    out1 = incremental_job(spark, "job1", _bars(spark, "AAPL", day1, 10), raw, agg, cps)
    assert cps.last_processed("job1", "AAPL") == day1 + 9 * NS_MIN
    assert out1["5m"].count() == 2  # 10 minutes -> two 5m buckets

    # second increment overlaps the checkpoint: first 10 rows already seen.
    # It lands raw 1m and all three frames in a bounded number of Spark jobs.
    sc = spark.sparkContext
    group = "test-incremental-second-increment"
    # The resume step reads the job's positions in a job group of its own.
    resume_group = "test-incremental-resume"
    read_positions = cps.positions
    resumed = []

    def positions(job_id):
        sc.setJobGroup(resume_group, "resume")
        try:
            resumed.append(read_positions(job_id))
            return resumed[-1]
        finally:
            sc.setJobGroup(group, "second increment")

    monkeypatch.setattr(cps, "positions", positions)
    sc.setJobGroup(group, "second increment")
    try:
        out2 = incremental_job(spark, "job1", _bars(spark, "AAPL", day1, 15), raw, agg, cps)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert resumed == [{"AAPL": day1 + 9 * NS_MIN}]
    assert sc.statusTracker().getJobIdsForGroup(resume_group) == []
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 13, n_jobs
    assert cps.last_processed("job1", "AAPL") == day1 + 14 * NS_MIN
    raw_rows = read_bars(spark, raw, frame="1m").count()
    assert raw_rows == 15  # no duplicates landed
    assert out2["5m"].count() == 3  # re-aggregated touched day: 15 min -> 3 buckets
    agg_rows = read_bars(spark, agg, frame="5m").count()
    assert agg_rows == 3  # upsert replaced, not duplicated


def test_prune_bars(spark, tmp_path):
    root = str(tmp_path / "lake")
    old_ns = int(dt.datetime(2020, 1, 6, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    new_ns = int(dt.datetime.now(dt.timezone.utc).timestamp() // 60 * 60 * 1e9)
    write_bars(_bars(spark, "AAPL", old_ns, 3), root, "1m")
    write_bars(_bars(spark, "AAPL", new_ns, 3), root, "1m")
    doomed = prune_bars(spark, root, "30d", dry_run=True)
    assert len(doomed) == 1 and "2020-01-06" in doomed[0]
    prune_bars(spark, root, "30d")
    left = read_bars(spark, root, frame="1m")
    assert left.count() == 3
    assert left.select(F.min("ts_ns")).collect()[0][0] == new_ns


def test_dense_ids_matches_global_row_number(spark):
    from pyspark.sql.window import Window as W

    from marketpipe_spark.operators.scd import dense_ids

    df = spark.createDataFrame(
        [(f"k{i:04d}", i * 2) for i in range(977)], "k string, v long"
    ).repartition(7)  # arbitrary incoming layout
    got = {r.k: r.id for r in dense_ids(df, ["k"], start=100, num_partitions=5).collect()}
    want = {
        r.k: r.id
        for r in df.select(
            "k", (F.row_number().over(W.orderBy("k")) + 99).cast("long").alias("id")
        ).collect()
    }
    assert got == want
    # empty input
    assert dense_ids(df.filter("v < 0"), ["k"]).count() == 0
