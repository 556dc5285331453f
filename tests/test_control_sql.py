"""SQL control plane below the stores (reference: src/marketpipe/migrations/
__init__.py apply_pending, infrastructure/repositories/sqlite_domain.py and
postgres_domain.py): versioned migrations and downgrades, both dialects,
concurrent writers, keep-newest checkpoints, and a full incremental_job
through both dialects."""

from __future__ import annotations

import datetime as dt
import sqlite3
import threading

import pytest

from marketpipe_spark.control import (
    MIGRATIONS,
    CheckpointStore,
    JobsStore,
    MetricsStore,
    applied_versions,
    apply_pending,
)

D1, D2 = dt.date(2024, 1, 2), dt.date(2024, 1, 3)


# ---------------------------------------------------------------------------
# migrations

def test_apply_pending_idempotent(tmp_path):
    db = str(tmp_path / "core.db")
    assert apply_pending(db) == sorted(MIGRATIONS)
    assert apply_pending(db) == []  # second run: nothing pending
    assert applied_versions(db) == sorted(MIGRATIONS)


def test_migration_adds_label_columns(tmp_path):
    db = str(tmp_path / "core.db")
    apply_pending(db)
    cols = {r[1] for r in sqlite3.connect(db).execute("PRAGMA table_info(metrics)")}
    assert {"ts", "name", "value", "provider", "feed"} <= cols


# ---------------------------------------------------------------------------
# jobs

def test_jobs_lifecycle_and_guards(spark, tmp_path):
    js = JobsStore(spark, str(tmp_path / "core.db"))
    js.create("j1", [("AAPL", D1), ("MSFT", D1)])
    with pytest.raises(ValueError, match="already exists"):
        js.create("j1", [("IBM", D2)])
    with pytest.raises(ValueError, match="Cannot complete job in state pending"):
        js.complete("j1")
    js.start("j1")
    js.complete("j1", bars={("AAPL", D1): 390, ("MSFT", D1): 380})
    rows = {(r.symbol): r for r in js.load().collect()}
    assert rows["AAPL"].state == "completed" and rows["AAPL"].bars_processed == 390
    assert rows["MSFT"].bars_processed == 380
    counts = {r.state: r.n_jobs for r in js.state_counts().collect()}
    assert counts == {"completed": 2}


def test_jobs_fail_records_error(spark, tmp_path):
    js = JobsStore(spark, str(tmp_path / "core.db"))
    js.create("j2", [("AAPL", D1)])
    js.fail("j2", "boom")
    r = js.load().collect()[0]
    assert r.state == "failed" and r.error_message == "boom"
    with pytest.raises(ValueError, match="not found"):
        js.start("nope")


# ---------------------------------------------------------------------------
# metrics: same query functions over SQLite rows

def test_metrics_record_and_query(spark, tmp_path):
    ms = MetricsStore(spark, str(tmp_path / "core.db"))
    for ts, v in [(100, 1.0), (200, 3.0), (300, 5.0)]:
        ms.record("ingest.bars", v, provider="fake", feed="iex", ts=ts)
    ms.record("other", 9.0, ts=100)
    assert ms.list_names() == ["ingest.bars", "other"]
    hist = ms.history("ingest.bars").collect()
    assert [r.value for r in hist] == [1.0, 3.0, 5.0]
    avg = ms.average("ingest.bars", window_minutes=60, now_ts=300).collect()[0]
    assert avg.avg_value == pytest.approx(3.0) and avg.n == 3


def test_metrics_concurrent_writers(spark, tmp_path):
    """Concurrent writers serialize via IMMEDIATE transactions; no write
    is lost."""
    ms = MetricsStore(spark, str(tmp_path / "core.db"))

    def writer(base):
        for i in range(20):
            ms.record(f"m{base}", float(i), ts=base + i)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (1000, 2000, 3000)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert ms.load().count() == 60


# ---------------------------------------------------------------------------
# checkpoints: keep-newest upsert

def test_checkpoint_upsert_keeps_newest(spark, tmp_path):
    cs = CheckpointStore(spark, str(tmp_path / "core.db"))
    assert cs.last_processed("j", "AAPL") is None
    cs.save("j", {"AAPL": 100, "MSFT": 200})
    cs.save("j", {"AAPL": 50})  # older position must NOT regress
    cs.save("j", {"MSFT": 300})
    assert cs.last_processed("j", "AAPL") == 100
    assert cs.last_processed("j", "MSFT") == 300
    assert cs.load().count() == 2


# ---------------------------------------------------------------------------
# e2e: incremental_job against a SQLite file

def test_incremental_job_with_sqlite_backend(spark, tmp_path):
    from marketpipe_spark.sources.fake import fake_bars
    from marketpipe_spark.streaming.incremental import incremental_job

    db = str(tmp_path / "core.db")
    bars = fake_bars(spark, ["AAPL"], 1_704_202_200_000_000_000, 30)
    outputs = incremental_job(
        spark, "sql-job", bars, str(tmp_path / "raw"), str(tmp_path / "agg"),
        CheckpointStore(spark, db),
        jobs=JobsStore(spark, db),
        metrics=MetricsStore(spark, db),
        provider="fake", feed="iex", market_hours=False,
    )
    assert outputs["errors"].count() == 0
    js = JobsStore(spark, db)
    states = {r.state for r in js.load().filter("job_id = 'sql-job'").collect()}
    assert states == {"completed"}
    cs = CheckpointStore(spark, db)
    assert cs.last_processed("sql-job", "AAPL") is not None
    ms = MetricsStore(spark, db)
    assert "ingest.job.success" in ms.list_names() or len(ms.list_names()) > 0


# ---------------------------------------------------------------------------
# CLI over a SQLite file

def test_cli_jobs_and_metrics_against_sqlite(spark, tmp_path, capsys):
    from marketpipe_spark.cli import main

    db = str(tmp_path / "core.db")
    js = JobsStore(spark, db)
    js.create("j9", [("AAPL", D1)])
    MetricsStore(spark, db).record("ingest.bars", 42.0, ts=100)

    assert main(["jobs", "--db", db]) == 0
    out = capsys.readouterr().out
    assert "pending" in out and "TOTAL" in out

    assert main(["metrics", "--db", db]) == 0
    assert "ingest.bars" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# Postgres backend, e2e through a DB-API substitute (no Postgres server in
# this sandbox): the shim hands the EXACT SQL the PostgresDialect emits
# (%s placeholders, GREATEST upsert) to an embedded engine after a
# mechanical placeholder swap — proving the dialect translation, migration
# runner, transactions, and every store code path against a live DB-API
# driver, the reference's own fake-adapter strategy (tests/fakes/).

def _pg_sql_to_sqlite(sql: str) -> str:
    assert "?" not in sql, "dialect failed to translate placeholders"
    return sql.replace("%s", "?").replace("GREATEST(", "MAX(")


class _PgShimCursor:
    def __init__(self, cur):
        self._cur = cur

    def execute(self, sql, params=()):
        self._cur.execute(_pg_sql_to_sqlite(sql), params)
        return self

    def executemany(self, sql, seq):
        self._cur.executemany(_pg_sql_to_sqlite(sql), seq)
        return self

    def __getattr__(self, item):  # fetchone/fetchall/description...
        return getattr(self._cur, item)


class _PgShimConnection:
    def __init__(self, path):
        import sqlite3

        self._con = sqlite3.connect(path, timeout=30.0)

    def cursor(self):
        return _PgShimCursor(self._con.cursor())

    def commit(self):
        self._con.commit()

    def rollback(self):
        self._con.rollback()

    def close(self):
        self._con.close()


def _pg_stores(spark, tmp_path):
    path = str(tmp_path / "pg-substitute.db")
    factory = lambda: _PgShimConnection(path)  # noqa: E731
    dsn = "postgresql://shim/control"
    stores = tuple(cls(spark, dsn, connect_factory=factory)
                   for cls in (JobsStore, MetricsStore, CheckpointStore))
    assert all(st.dialect.name == "postgres" for st in stores)
    return stores


def test_postgres_dialect_translates_sql():
    from marketpipe_spark.control import PostgresDialect

    d = PostgresDialect(dsn="postgresql://ignored/db")
    assert d.sql("SELECT * FROM t WHERE a = ? AND b = ?") == "SELECT * FROM t WHERE a = %s AND b = %s"
    assert "GREATEST(x, y)" in d.sql("SET v = {MAX2}(x, y)")


def test_postgres_dialect_requires_dsn_or_factory():
    import pytest as _pytest

    from marketpipe_spark.control import PostgresDialect

    with _pytest.raises(ValueError):
        PostgresDialect()


def test_postgres_backend_jobs_lifecycle(spark, tmp_path):
    js, _, _ = _pg_stores(spark, tmp_path)
    js.create("pgj", [("AAPL", D1), ("MSFT", D1)])
    js.start("pgj")
    js.complete("pgj", bars={("AAPL", D1): 10, ("MSFT", D1): 20})
    rows = {r.symbol: r for r in js.load().filter("job_id = 'pgj'").collect()}
    assert rows["AAPL"].state == "completed" and rows["AAPL"].bars_processed == 10
    import pytest as _pytest

    with _pytest.raises(ValueError):
        js.start("pgj")  # guard: completed can't restart


def test_postgres_backend_checkpoint_upsert_keeps_newest(spark, tmp_path):
    _, _, cs = _pg_stores(spark, tmp_path)
    cs.save("j", {"AAPL": 100})
    cs.save("j", {"AAPL": 50})  # GREATEST keeps the newest position
    cs.save("j", {"AAPL": 300})
    assert cs.last_processed("j", "AAPL") == 300
    assert cs.load().count() == 1


def test_incremental_job_with_postgres_backend(spark, tmp_path):
    """The same incremental_job drives jobs/metrics/checkpoints through the
    Postgres dialect unchanged."""
    from marketpipe_spark.sources.fake import fake_bars
    from marketpipe_spark.streaming.incremental import incremental_job

    js, ms, cs = _pg_stores(spark, tmp_path)
    bars = fake_bars(spark, ["AAPL"], 1_704_202_200_000_000_000, 30)
    outputs = incremental_job(
        spark, "pg-job", bars, str(tmp_path / "raw"), str(tmp_path / "agg"),
        cs, jobs=js, metrics=ms,
        provider="fake", feed="iex", market_hours=False,
    )
    assert outputs["errors"].count() == 0
    states = {r.state for r in js.load().filter("job_id = 'pg-job'").collect()}
    assert states == {"completed"}
    assert cs.last_processed("pg-job", "AAPL") is not None
    assert len(ms.list_names()) > 0


# ---------------------------------------------------------------------------
# downgrades (reference alembic downgrade())


def test_downgrade_roundtrip(tmp_path):
    from marketpipe_spark.control import downgrade_to

    db = str(tmp_path / "core.db")
    apply_pending(db)

    # Step down to 001: the label columns are gone, core tables remain.
    assert downgrade_to(db, "001") == ["002"]
    cols = {r[1] for r in sqlite3.connect(db).execute("PRAGMA table_info(metrics)")}
    assert "provider" not in cols and "feed" not in cols
    assert {"ts", "name", "value"} <= cols
    assert applied_versions(db) == ["001"]

    # Re-upgrade restores the columns (idempotent runner resumes from 001).
    assert apply_pending(db) == ["002"]
    cols = {r[1] for r in sqlite3.connect(db).execute("PRAGMA table_info(metrics)")}
    assert {"provider", "feed"} <= cols


def test_downgrade_to_zero_drops_everything(tmp_path):
    from marketpipe_spark.control import downgrade_to

    db = str(tmp_path / "core.db")
    apply_pending(db)
    assert downgrade_to(db, "000") == ["002", "001"]
    names = {
        r[0]
        for r in sqlite3.connect(db).execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        )
    }
    assert "ingestion_jobs" not in names and "metrics" not in names
    assert applied_versions(db) == []
    # A fresh apply_pending rebuilds the whole schema.
    assert apply_pending(db) == sorted(MIGRATIONS)


def test_downgrade_never_migrated_and_bad_target(tmp_path):
    import pytest as _pytest

    from marketpipe_spark.control import downgrade_to

    db = str(tmp_path / "empty.db")
    sqlite3.connect(db).close()
    assert downgrade_to(db, "001") == []  # nothing ever applied
    with _pytest.raises(ValueError):
        downgrade_to(db, "999")


def test_postgres_downgrade_through_shim(tmp_path):
    from marketpipe_spark.control import (
        PostgresDialect,
        apply_pending_dialect,
        downgrade_to_dialect,
    )

    path = str(tmp_path / "pg-substitute.db")
    dialect = PostgresDialect(connect_factory=lambda: _PgShimConnection(path))
    assert apply_pending_dialect(dialect) == sorted(MIGRATIONS)
    assert downgrade_to_dialect(dialect, "001") == ["002"]
    cols = {r[1] for r in sqlite3.connect(path).execute("PRAGMA table_info(metrics)")}
    assert "provider" not in cols
    assert apply_pending_dialect(dialect) == ["002"]


def test_cli_migrate_db_up_and_down(tmp_path, capsys):
    from marketpipe_spark.cli import main

    db = str(tmp_path / "cli.db")
    assert main(["migrate", "--db", db]) == 0
    assert "applied: 001, 002" in capsys.readouterr().out
    assert main(["migrate", "--db", db, "--downgrade", "001"]) == 0
    assert "reverted: 002" in capsys.readouterr().out
    assert main(["migrate", "--db", db]) == 0
    assert "applied: 002" in capsys.readouterr().out


def test_sqlite_migration_failure_rolls_back_whole_version(tmp_path, monkeypatch):
    """A mid-script failure must leave NO partial statements applied (review
    fix: sqlite3.executescript autocommits, permanently wedging the runner
    on retry with 'duplicate column'). After the bad version is fixed,
    apply_pending must succeed — not die on a half-applied script."""
    from marketpipe_spark import control as cs

    db = str(tmp_path / "core.db")
    apply_pending(db)

    bad = dict(cs.MIGRATIONS)
    bad["003"] = (
        "ALTER TABLE metrics ADD COLUMN extra TEXT;\n"
        "THIS IS NOT SQL;"
    )
    monkeypatch.setattr(cs, "MIGRATIONS", bad)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="migration 003 failed"):
        apply_pending(db)
    # The first statement of 003 must NOT have survived the rollback.
    cols = {r[1] for r in sqlite3.connect(db).execute("PRAGMA table_info(metrics)")}
    assert "extra" not in cols

    good = dict(bad)
    good["003"] = "ALTER TABLE metrics ADD COLUMN extra TEXT;"
    monkeypatch.setattr(cs, "MIGRATIONS", good)
    assert apply_pending(db) == ["003"]  # retry succeeds; no duplicate-column wedge
    cols = {r[1] for r in sqlite3.connect(db).execute("PRAGMA table_info(metrics)")}
    assert "extra" in cols


def test_postgres_dsn_sniffing_and_normalization():
    from marketpipe_spark.control import PostgresDialect, is_postgres_dsn, normalize_pg_dsn

    assert is_postgres_dsn("postgresql://u@h/db")
    assert is_postgres_dsn("postgres://u@h/db")
    assert is_postgres_dsn("postgresql+psycopg2://u@h/db")  # SQLAlchemy-style
    assert not is_postgres_dsn("data/core.db")
    assert not is_postgres_dsn("/tmp/postgresql.db")
    assert normalize_pg_dsn("postgresql+psycopg2://u@h/db") == "postgresql://u@h/db"
    assert PostgresDialect("postgres+psycopg://u@h/db").dsn == "postgresql://u@h/db"
