"""Control plane: job state machine, metrics store, and their wiring into
incremental_job (reference: ingestion/domain/entities.py:254-335,
cli/jobs.py:165-185, metrics.py:131-255,
ingestion/application/services.py:475-491)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from marketpipe_spark import control
from marketpipe_spark.control import JobsStore, MetricsStore
from marketpipe_spark.streaming.incremental import CheckpointStore, incremental_job

NS_MIN = 60_000_000_000
DAY1 = 1_704_153_600_000_000_000  # 2024-01-02 00:00 UTC
D1 = dt.date(2024, 1, 2)


def _bars(spark, symbol, day_start_ns, n, base=100.0):
    rows = [
        (symbol, day_start_ns + i * NS_MIN, base + i, base + i + 1, base + i - 1, base + i + 0.5, 10 + i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "symbol string, ts_ns long, open double, high double, low double, close double, volume long"
    )


# ---------------------------------------------------------------------------
# job state machine (entities.py:254-335)

def test_job_lifecycle(spark, tmp_path):
    jobs = JobsStore(spark, str(tmp_path / "jobs"))
    jobs.create("j1", [("AAPL", D1), ("MSFT", D1)])
    assert {r.state for r in jobs.load().collect()} == {"pending"}
    with pytest.raises(ValueError, match="already exists"):
        jobs.create("j1", [("IBM", D1)])
    with pytest.raises(ValueError, match="Cannot complete job in state pending"):
        jobs.complete("j1")

    jobs.start("j1")
    assert {r.state for r in jobs.load().collect()} == {"in_progress"}

    jobs.complete("j1", bars={("AAPL", D1): 10, ("MSFT", D1): 20})
    rows = {r.symbol: r for r in jobs.load().collect()}
    assert rows["AAPL"].state == "completed" and rows["AAPL"].bars_processed == 10
    assert rows["MSFT"].bars_processed == 20

    counts = {r.state: r.n_jobs for r in jobs.state_counts().collect()}
    assert counts == {"completed": 2}


def test_job_invalid_transitions(spark, tmp_path):
    jobs = JobsStore(spark, str(tmp_path / "jobs"))
    jobs.create("j1", [("AAPL", D1)])
    with pytest.raises(ValueError, match="Cannot complete job in state pending"):
        jobs.complete("j1")
    with pytest.raises(ValueError, match="already exists"):
        jobs.create("j1", [("MSFT", D1)])
    jobs.fail("j1", "boom")  # fail allowed from pending (entities.py:264-266)
    row = jobs.load().collect()[0]
    assert row.state == "failed" and row.error_message == "boom"
    with pytest.raises(ValueError, match="Cannot start job in state failed"):
        jobs.start("j1")


def test_job_cancel(spark, tmp_path):
    jobs = JobsStore(spark, str(tmp_path / "jobs"))
    jobs.create("j1", [("AAPL", D1)])
    jobs.cancel("j1")
    assert jobs.load().collect()[0].state == "cancelled"
    with pytest.raises(ValueError, match="Cannot cancel job in state cancelled"):
        jobs.cancel("j1")


# ---------------------------------------------------------------------------
# metrics store (metrics.py:131-255)

def test_metrics_record_history_average_trend(spark, tmp_path):
    m = MetricsStore(spark, str(tmp_path / "metrics"))
    for i, v in enumerate([10.0, 20.0, 30.0]):
        m.record("ingest_job_total_bars", v, provider="fake", feed="iex", ts=1000 + i * 3600)
    m.record("other_metric", 99.0, ts=2000)

    hist = m.history("ingest_job_total_bars").collect()
    assert [r.value for r in hist] == [10.0, 20.0, 30.0]
    assert all(r.provider == "fake" and r.feed == "iex" for r in hist)
    assert m.list_names() == ["ingest_job_total_bars", "other_metric"]

    # window catching the last two points: avg (20+30)/2
    avg = m.average("ingest_job_total_bars", window_minutes=90, now_ts=1000 + 2 * 3600).collect()[0]
    assert avg.avg_value == 25.0 and avg.n == 2

    tr = m.trend("ingest_job_total_bars", now_ts=1000 + 2 * 3600 + 1, buckets=4).collect()
    assert len(tr) == 4  # empty buckets included, reference metrics.py:239-246
    nonzero = [r for r in tr if r.n > 0]
    assert [r.avg_value for r in nonzero] == [10.0, 20.0, 30.0]  # one per hourly bucket
    assert tr[0].n == 0 and tr[0].avg_value == 0.0  # oldest bucket empty


# ---------------------------------------------------------------------------
# crash safety: each store write is one transaction

def test_job_transition_crash_rolls_back_every_unit(spark, tmp_path, monkeypatch):
    jobs = JobsStore(spark, str(tmp_path / "control.db"))
    jobs.create("j1", [("AAPL", D1), ("MSFT", D1)])
    jobs.start("j1")
    original, updates = control._Executor.execute, []

    def crash_after_first_update(self, sql, params=()):
        cur = original(self, sql, params)
        if sql.startswith("UPDATE"):
            updates.append(params)
            raise RuntimeError("crash after the first unit's UPDATE")
        return cur

    monkeypatch.setattr(control._Executor, "execute", crash_after_first_update)
    with pytest.raises(RuntimeError, match="first unit"):
        jobs.complete("j1", bars={("AAPL", D1): 10, ("MSFT", D1): 20})
    monkeypatch.undo()
    assert len(updates) == 1
    rows = jobs.load().collect()
    assert sorted((r.symbol, r.state, r.bars_processed) for r in rows) == [
        ("AAPL", "in_progress", None), ("MSFT", "in_progress", None)]


def test_checkpoint_save_crash_keeps_old_positions(spark, tmp_path, monkeypatch):
    cps = CheckpointStore(spark, str(tmp_path / "control.db"))
    cps.save("j1", {"AAPL": 100, "MSFT": 200})
    original = control._Executor.executemany

    def crash_after_first_symbol(self, sql, rows):
        original(self, sql, list(rows)[:1])
        raise RuntimeError("crash after the first symbol's upsert")

    monkeypatch.setattr(control._Executor, "executemany", crash_after_first_symbol)
    with pytest.raises(RuntimeError, match="first symbol"):
        cps.save("j1", {"AAPL": 300, "MSFT": 400})
    monkeypatch.undo()
    assert (cps.last_processed("j1", "AAPL"), cps.last_processed("j1", "MSFT")) == (100, 200)


# ---------------------------------------------------------------------------
# store arguments that would misbehave silently are refused

def test_store_refuses_a_directory(spark, tmp_path):
    old_table = tmp_path / "raw_ctl" / "jobs"  # a Parquet control table's directory
    old_table.mkdir(parents=True)
    with pytest.raises(ValueError, match="is a directory") as ei:
        JobsStore(spark, str(old_table))
    assert str(old_table) in str(ei.value)


def test_store_refuses_a_non_postgres_uri(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    for uri in ("s3a://bucket/raw_ctl/control.db", "hdfs:///lake/raw_ctl/control.db"):
        with pytest.raises(ValueError, match="not a Postgres DSN") as ei:
            MetricsStore(spark, uri)
        assert uri in str(ei.value)
    assert os.listdir(tmp_path) == []  # no junk 's3a:' / 'hdfs:' directory


# ---------------------------------------------------------------------------
# incremental_job wiring

def test_incremental_job_writes_control_plane(spark, tmp_path):
    from marketpipe_spark.lake import read_bars

    db = str(tmp_path / "control.db")  # one file for all three stores, as the CLI keeps them
    jobs = JobsStore(spark, db)
    metrics = MetricsStore(spark, db)
    cps = CheckpointStore(spark, db)
    day2 = DAY1 + 24 * 60 * NS_MIN
    bad = spark.createDataFrame(
        [
            # a dup pair: rule 1 flags the second copy, and both leave raw
            ("DUP", DAY1, 100.0, 101.0, 99.0, 100.5, 10),
            ("DUP", DAY1, 100.0, 101.0, 99.0, 100.5, 10),
            # MSFT's second day holds only this row, which violates two rules
            ("MSFT", day2, 102.0, 101.0, 103.0, 102.0, -1),
        ],
        "symbol string, ts_ns long, open double, high double, low double, close double, volume long",
    )
    bars = _bars(spark, "AAPL", DAY1, 10).union(_bars(spark, "MSFT", DAY1, 3)).union(bad)
    sc = spark.sparkContext
    group = "test-control-plane-increment"
    sc.setJobGroup(group, "increment")
    try:
        outputs = incremental_job(
            spark, "job1", bars, str(tmp_path / "raw"), str(tmp_path / "agg"), cps,
            jobs=jobs, metrics=metrics, provider="fake", feed="iex",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one validation pass: its pin, one grouped collect, the upsert and the frames
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 13, n_jobs

    raw = read_bars(spark, str(tmp_path / "raw"), frame="1m")
    assert {r.symbol: r["count"] for r in raw.groupBy("symbol").count().collect()} == {"AAPL": 10, "MSFT": 3}
    assert sorted((r.symbol, r.ts_ns, r.reason) for r in outputs["errors"].collect()) == [
        ("DUP", DAY1, "non_monotonic_timestamp"),
        ("MSFT", day2, "negative_volume"),
        ("MSFT", day2, "ohlc_inconsistent"),
    ]
    # checkpoints advance to the newest valid row only
    assert cps.positions("job1") == {"AAPL": DAY1 + 9 * NS_MIN, "MSFT": DAY1 + 2 * NS_MIN}
    jrows = {(r.symbol, r.day): r for r in jobs.load().collect()}
    # the units include the days that hold only invalid rows
    assert set(jrows) == {("AAPL", D1), ("MSFT", D1), ("DUP", D1), ("MSFT", D1 + dt.timedelta(days=1))}
    assert {r.state for r in jrows.values()} == {"completed"}
    assert jrows[("AAPL", D1)].bars_processed == 10 and jrows[("MSFT", D1)].bars_processed == 3
    names = set(metrics.list_names())
    assert {"ingest_jobs", "ingest_job_success", "ingest_job_total_bars",
            "ingest_symbols_success", "validation_errors"} <= names
    total = metrics.history("ingest_job_total_bars").collect()[0]
    assert total.value == 13.0 and total.provider == "fake"
    assert metrics.history("validation_errors").collect()[0].value == 3.0


# ---------------------------------------------------------------------------
# checkpoint staleness (services.py:475-491)

def test_stale_checkpoint_ignored(spark, tmp_path):
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    # checkpoint far BEFORE the job window → stale → full window ingested
    cps.save("job1", {"AAPL": DAY1 - 30 * 24 * 3600 * 10**9})
    out = incremental_job(
        spark, "job1", _bars(spark, "AAPL", DAY1, 10), raw, agg, cps,
        window_start_ns=DAY1, window_end_ns=DAY1 + 10 * NS_MIN,
    )
    from marketpipe_spark.lake import read_bars

    assert read_bars(spark, raw, frame="1m").count() == 10
    # checkpoint advanced into the window now
    assert cps.last_processed("job1", "AAPL") == DAY1 + 9 * NS_MIN


def test_valid_checkpoint_resumes(spark, tmp_path):
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    # checkpoint INSIDE the window → resume after it: only rows 6..9 land
    cps.save("job1", {"AAPL": DAY1 + 5 * NS_MIN})
    incremental_job(
        spark, "job1", _bars(spark, "AAPL", DAY1, 10), raw, agg, cps,
        window_start_ns=DAY1, window_end_ns=DAY1 + 10 * NS_MIN,
    )
    from marketpipe_spark.lake import read_bars

    assert read_bars(spark, raw, frame="1m").count() == 4


def test_checkpoint_at_or_after_window_end_ignored(spark, tmp_path):
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    cps.save("job1", {"AAPL": DAY1 + 10 * NS_MIN})  # == window end → stale
    incremental_job(
        spark, "job1", _bars(spark, "AAPL", DAY1, 10), raw, agg, cps,
        window_start_ns=DAY1, window_end_ns=DAY1 + 10 * NS_MIN,
    )
    from marketpipe_spark.lake import read_bars

    assert read_bars(spark, raw, frame="1m").count() == 10


def test_backfill_gaps_fills_missing_days(spark, tmp_path):
    from marketpipe_spark.control import JobsStore
    from marketpipe_spark.lake import read_bars, write_bars
    from marketpipe_spark.sources.fake import fake_minute_bars_for_day
    from marketpipe_spark.streaming.incremental import backfill_gaps

    raw, agg = str(tmp_path / "raw"), str(tmp_path / "agg")
    day = lambda d: int(dt.datetime(2024, 1, d, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    # seed lake with Tue Jan 2 and Thu Jan 4 — Wed Jan 3 and Fri Jan 5 missing
    for d in (2, 4):
        write_bars(fake_minute_bars_for_day(spark, ["AAPL"], day(d)), raw, "1m")

    jobs = JobsStore(spark, str(tmp_path / "jobs"))
    cps = CheckpointStore(spark, str(tmp_path / "cps"))
    fetch = lambda syms, d: fake_minute_bars_for_day(
        spark, syms, int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1e9)
    )
    filled = backfill_gaps(
        spark, raw, agg, dt.date(2024, 1, 2), dt.date(2024, 1, 5), cps, fetch, jobs=jobs
    )
    assert sorted(filled) == [dt.date(2024, 1, 3), dt.date(2024, 1, 5)]
    assert filled[dt.date(2024, 1, 3)] == ["AAPL"]
    # every expected weekday now has data
    days = {r.date for r in read_bars(spark, raw, frame="1m").select("date").distinct().collect()}
    assert {dt.date(2024, 1, d) for d in (2, 3, 4, 5)} <= days
    # one job per gap day, completed
    jrows = jobs.load().collect()
    assert {r.job_id for r in jrows} == {"backfill-2024-01-03", "backfill-2024-01-05"}
    assert all(r.state == "completed" for r in jrows)

    # idempotent: nothing left to fill
    assert backfill_gaps(
        spark, raw, agg, dt.date(2024, 1, 2), dt.date(2024, 1, 5), cps, fetch, jobs=jobs
    ) == {}


# ---------------------------------------------------------------------------
# control-store migrations (reference cli/utils.py:263-276, migrations.apply_pending)

def test_cli_providers_and_migrate(spark, tmp_path, capsys):
    from marketpipe_spark.cli import main

    rc = main(["providers"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "fake" in out and "polygon" in out and "alpaca" in out
    assert "Total:" in out

    db = str(tmp_path / "ctl2" / "control.db")
    jobs = JobsStore(spark, db)  # a store migrates its file when it opens it
    jobs.create("j1", [("AAPL", D1)])
    rc = main(["migrate", "--db", db])
    out = capsys.readouterr().out
    assert rc == 0
    assert "applied: nothing (up-to-date)" in out
    assert [r.job_id for r in jobs.load().collect()] == ["j1"]  # rows untouched
