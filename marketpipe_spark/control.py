"""Control plane: ingestion jobs, checkpoints and metrics history as SQL rows.

Reference semantics reproduced:
- ``ProcessingState`` and transition guards (ingestion/domain/entities.py:
  20-27, 254-335): pending → in_progress → completed/failed, with
  fail/cancel also allowed from pending; invalid transitions raise
  ``ValueError("Cannot <verb> job in state <state>")`` exactly like the
  reference entity.
- Job-state summary counts (cli/jobs.py:165-185) — A10.
- Metrics repository (metrics.py:131-255): ``record`` appends
  (ts, name, value, provider, feed); ``get_metrics_history`` /
  ``get_average_metrics`` / ``get_performance_trends`` become the shared
  DataFrame functions below, so the SAME code path serves the stores and
  the registry's oracle-checked entries.
- Checkpoints (sqlite_domain.py:447-501): per-(job, symbol) resume
  positions, upserted keep-newest.

Storage: the reference keeps these rows in SQLite OR Postgres behind
repository classes selected by DATABASE_URL (alembic/env.py), with an
idempotent file-versioned migration runner (migrations/__init__.py:16-100
``apply_pending``; versions/001_core_schema.sql,
003_provider_feed_labels.sql, 005_ingestion_jobs_sqlite.sql). Here every
store takes ``(spark, path)``: a Postgres DSN (:func:`is_postgres_dsn`)
selects Postgres (multi-host; driver import-gated — psycopg/psycopg2 — or
an injected DB-API ``connect_factory``), anything else is a SQLite file
(single host, concurrent writers serialized). The CLI keeps all three
stores in one file, ``<lake>_ctl/control.db``.

Each write is one short transaction (SQLite: BEGIN IMMEDIATE; Postgres:
MVCC), so a crash mid-write leaves the previous rows. Reads materialize into
Spark DataFrames with fixed schemas, so every query function below is
backend-agnostic. The rows are control-plane-sized (one per job×symbol×day,
metric point or job×symbol), so no write launches a Spark job.

Canonical SQL is written with ``?`` placeholders and a ``{MAX2}`` macro for
the two-argument scalar max (SQLite ``MAX(a,b)``, Postgres
``GREATEST(a,b)``); dialects translate. No other statement differs.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import sqlite3
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import METRICS_SCHEMA

JOB_STATES = ("pending", "in_progress", "completed", "failed", "cancelled")

#: verb → states it may be applied from (entities.py:254-271)
_CAN = {
    "start": {"pending"},
    "complete": {"in_progress"},
    "fail": {"pending", "in_progress"},
    "cancel": {"pending", "in_progress"},
}
_TARGET = {"start": "in_progress", "complete": "completed", "fail": "failed", "cancel": "cancelled"}

JOBS_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("day", T.DateType(), False),
        T.StructField("state", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("bars_processed", T.LongType(), True),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("last_processed_ns", T.LongType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# migrations (reference migrations/__init__.py:16-100, embedded rather than
# sibling .sql files so the package stays single-directory). The DDL below
# is the portable intersection of the reference's sqlite and postgres
# variants (001_core_schema.sql / 005_ingestion_jobs_sqlite.sql).

MIGRATIONS: dict[str, str] = {
    # core schema (reference versions/001_core_schema.sql + 005_...jobs)
    "001": """
CREATE TABLE IF NOT EXISTS ingestion_jobs (
    job_id TEXT NOT NULL,
    symbol TEXT NOT NULL,
    day DATE NOT NULL,
    state TEXT NOT NULL DEFAULT 'pending'
        CHECK (state IN ('pending','in_progress','completed','failed','cancelled')),
    created_at TIMESTAMP NOT NULL,
    updated_at TIMESTAMP NOT NULL,
    error_message TEXT,
    bars_processed BIGINT,
    UNIQUE(job_id, symbol, day)
);
CREATE TABLE IF NOT EXISTS metrics (
    ts BIGINT NOT NULL,
    name TEXT NOT NULL,
    value DOUBLE PRECISION NOT NULL
);
CREATE TABLE IF NOT EXISTS checkpoints (
    job_id TEXT NOT NULL,
    symbol TEXT NOT NULL,
    last_processed_ns BIGINT NOT NULL,
    updated_at TIMESTAMP NOT NULL,
    PRIMARY KEY (job_id, symbol)
);
CREATE INDEX IF NOT EXISTS idx_jobs_job ON ingestion_jobs(job_id);
CREATE INDEX IF NOT EXISTS idx_metrics_ts_name ON metrics(ts, name);
CREATE INDEX IF NOT EXISTS idx_metrics_name ON metrics(name);
""",
    # provider/feed labels (reference versions/003_provider_feed_labels.sql)
    "002": """
ALTER TABLE metrics ADD COLUMN provider TEXT NOT NULL DEFAULT 'unknown';
ALTER TABLE metrics ADD COLUMN feed TEXT NOT NULL DEFAULT 'unknown';
""",
}

#: Reverse scripts, one per version (reference alembic ``downgrade()``
#: functions; both dialects support ALTER TABLE DROP COLUMN — SQLite since
#: 3.35). Downgrading is destructive by nature: 002's columns are dropped
#: with their data, 001 removes the control tables entirely.
DOWNGRADES: dict[str, str] = {
    "002": """
ALTER TABLE metrics DROP COLUMN provider;
ALTER TABLE metrics DROP COLUMN feed;
""",
    "001": """
DROP INDEX IF EXISTS idx_jobs_job;
DROP INDEX IF EXISTS idx_metrics_ts_name;
DROP INDEX IF EXISTS idx_metrics_name;
DROP TABLE IF EXISTS ingestion_jobs;
DROP TABLE IF EXISTS metrics;
DROP TABLE IF EXISTS checkpoints;
""",
}


# ---------------------------------------------------------------------------
# dialects

#: Postgres DSN shapes: libpq URLs plus SQLAlchemy-style driver-qualified
#: forms (postgresql+psycopg2://...) — the reference's DATABASE_URL
#: convention produces both.
_PG_DSN_RE = re.compile(r"^postgres(ql)?(\+\w+)?://")
_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def is_postgres_dsn(db: str) -> bool:
    """True for any postgres-flavored URL (mis-sniffing one as a SQLite
    file path would mkdir a junk 'postgresql+psycopg2:' directory and
    silently serve an empty database)."""
    return bool(_PG_DSN_RE.match(db))


def normalize_pg_dsn(dsn: str) -> str:
    """Strip the SQLAlchemy ``+driver`` qualifier — psycopg wants plain
    ``postgresql://``."""
    return _PG_DSN_RE.sub("postgresql://", dsn)


class SqliteDialect:
    """File-backed SQLite: ``?`` placeholders, BEGIN IMMEDIATE write lock."""

    name = "sqlite"

    def __init__(self, db_path: str | os.PathLike):
        self.db_path = os.fspath(db_path)
        # Both would misbehave silently: sqlite3 cannot open a directory (a
        # Parquet control table from before the SQL stores), and a
        # hdfs:// or s3a:// URI would become a junk local 's3a:' directory.
        if _URI_RE.match(self.db_path):
            raise ValueError(
                f"control store {self.db_path!r} is a URI but not a Postgres DSN; "
                "SQLite needs a local file path"
            )
        if os.path.isdir(self.db_path):
            raise ValueError(
                f"control store {self.db_path!r} is a directory (a Parquet control "
                "table?); pass a SQLite file path such as <lake>_ctl/control.db"
            )
        parent = os.path.dirname(self.db_path)
        if parent:
            os.makedirs(parent, exist_ok=True)

    def connect(self):
        return sqlite3.connect(self.db_path, timeout=30.0)

    def sql(self, q: str) -> str:
        return q.replace("{MAX2}", "MAX")

    def begin_write(self, con) -> None:
        # Takes the write lock up front so concurrent writers serialize
        # instead of failing mid-transaction.
        con.execute("BEGIN IMMEDIATE")

    def executescript(self, con, script: str) -> None:
        # NOT sqlite3's Connection.executescript: that API commits the open
        # transaction first and runs in autocommit, so a mid-script failure
        # leaves earlier statements applied with no schema_version row —
        # permanently wedging the migration runner ("duplicate column" on
        # every retry). And Python's implicit-transaction rule covers DML
        # only — DDL outside an open transaction autocommits — so an
        # explicit BEGIN is required for the per-version rollback guarantee
        # (SQLite DDL is transactional once inside one).
        cur = con.cursor()
        if not con.in_transaction:
            cur.execute("BEGIN")
        for stmt in script.split(";"):
            if stmt.strip():
                cur.execute(stmt)


class PostgresDialect:
    """Server Postgres: ``%s`` placeholders, MVCC transactions, GREATEST.

    ``dsn`` is a libpq connection string / URL handed to psycopg (v3) or
    psycopg2, whichever is importable — both are import-gated since neither
    ships in minimal deployments. ``connect_factory`` injects any DB-API
    connection source instead (a pool, a test substitute), mirroring how the
    reference's repositories take an engine/session rather than building
    their own (reference: postgres_domain.py repository constructors).
    """

    name = "postgres"

    def __init__(self, dsn: str | None = None, connect_factory=None):
        if dsn is None and connect_factory is None:
            raise ValueError("PostgresDialect needs a dsn or a connect_factory")
        self.dsn = normalize_pg_dsn(dsn) if dsn is not None else None
        self._factory = connect_factory

    def connect(self):
        if self._factory is not None:
            return self._factory()
        try:
            import psycopg  # type: ignore[import-not-found]

            return psycopg.connect(self.dsn)
        except ImportError:
            try:
                import psycopg2  # type: ignore[import-not-found]

                return psycopg2.connect(self.dsn)
            except ImportError as e:
                raise ImportError(
                    "Postgres backend needs psycopg (v3) or psycopg2 installed, "
                    "or pass connect_factory="
                ) from e

    def sql(self, q: str) -> str:
        return q.replace("?", "%s").replace("{MAX2}", "GREATEST")

    def begin_write(self, con) -> None:
        pass  # DB-API transactions are implicit; commit/rollback by caller

    def executescript(self, con, script: str) -> None:
        cur = con.cursor()
        for stmt in script.split(";"):
            if stmt.strip():
                cur.execute(stmt)


def dialect_for(db: str | os.PathLike, connect_factory=None):
    """The dialect a store argument names: a Postgres DSN (or an injected
    ``connect_factory``) selects Postgres, anything else is a SQLite file."""
    db = os.fspath(db)
    if connect_factory is not None or is_postgres_dsn(db):
        return PostgresDialect(db, connect_factory)
    return SqliteDialect(db)


def apply_pending_dialect(dialect) -> list[str]:
    """Apply unapplied migrations in version order, one transaction each,
    tracked in ``schema_version`` (reference apply_pending semantics:
    idempotent, rollback-per-version on failure). Returns applied versions."""
    applied: list[str] = []
    con = dialect.connect()
    try:
        cur = con.cursor()
        cur.execute(
            "CREATE TABLE IF NOT EXISTS schema_version ("
            "version TEXT PRIMARY KEY, applied_at TIMESTAMP NOT NULL)"
        )
        con.commit()
        cur.execute("SELECT version FROM schema_version")
        done = {r[0] for r in cur.fetchall()}
        for version in sorted(MIGRATIONS):
            if version in done:
                continue
            try:
                dialect.executescript(con, MIGRATIONS[version])
                cur = con.cursor()
                cur.execute(
                    dialect.sql(
                        "INSERT INTO schema_version(version, applied_at) VALUES (?, ?)"
                    ),
                    (version, dt.datetime.now(dt.timezone.utc).isoformat()),
                )
                con.commit()
                applied.append(version)
            except Exception as e:
                con.rollback()
                raise RuntimeError(f"migration {version} failed: {e}") from e
    finally:
        con.close()
    return applied


def apply_pending(db: str | os.PathLike) -> list[str]:
    """:func:`apply_pending_dialect` for a store argument (SQLite path or
    Postgres DSN)."""
    return apply_pending_dialect(dialect_for(db))


def downgrade_to_dialect(dialect, target: str) -> list[str]:
    """Revert applied migrations ABOVE ``target`` in reverse order, one
    transaction each (reference alembic ``downgrade`` semantics). ``target``
    of ``"000"`` (or any version below the first) reverts everything.
    Returns the reverted versions, newest first.
    """
    if target != "000" and target not in MIGRATIONS:
        raise ValueError(f"unknown target version: {target!r}")
    reverted: list[str] = []
    con = dialect.connect()
    try:
        cur = con.cursor()
        try:
            cur.execute("SELECT version FROM schema_version")
        except Exception:
            con.rollback()
            return []  # never migrated -> nothing to revert
        done = sorted((r[0] for r in cur.fetchall()), reverse=True)
        for version in done:
            if version <= target:
                continue
            if version not in DOWNGRADES:
                raise RuntimeError(f"no downgrade script for version {version}")
            try:
                dialect.executescript(con, DOWNGRADES[version])
                cur = con.cursor()
                cur.execute(
                    dialect.sql("DELETE FROM schema_version WHERE version = ?"),
                    (version,),
                )
                con.commit()
                reverted.append(version)
            except Exception as e:
                con.rollback()
                raise RuntimeError(f"downgrade {version} failed: {e}") from e
    finally:
        con.close()
    return reverted


def downgrade_to(db: str | os.PathLike, target: str) -> list[str]:
    """:func:`downgrade_to_dialect` for a store argument."""
    return downgrade_to_dialect(dialect_for(db), target)


def applied_versions(db_path: str | os.PathLike) -> list[str]:
    with sqlite3.connect(os.fspath(db_path)) as con:
        try:
            return sorted(r[0] for r in con.execute("SELECT version FROM schema_version"))
        except sqlite3.OperationalError:
            return []


# ---------------------------------------------------------------------------
# stores

def _now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _parse_ts(v) -> dt.datetime | None:
    if v is None or isinstance(v, dt.datetime):
        return v
    return dt.datetime.fromisoformat(v)


def _parse_day(v) -> dt.date:
    if isinstance(v, dt.datetime):
        return v.date()
    if isinstance(v, dt.date):
        return v
    return dt.date.fromisoformat(v)


class _Executor:
    """Thin cursor wrapper translating canonical SQL per dialect."""

    def __init__(self, cur, dialect):
        self._cur = cur
        self._dialect = dialect

    def execute(self, sql: str, params: tuple = ()):
        self._cur.execute(self._dialect.sql(sql), params)
        return self._cur

    def executemany(self, sql: str, seq) -> None:
        self._cur.executemany(self._dialect.sql(sql), seq)


class _SqlStore:
    """``(spark, path)``: ``path`` is a SQLite file path or a Postgres DSN
    (see :func:`dialect_for`); the schema is migrated on construction."""

    def __init__(self, spark: SparkSession, path: str, connect_factory=None):
        self.spark = spark
        self.path = path
        self.dialect = dialect_for(path, connect_factory)
        apply_pending_dialect(self.dialect)

    @contextmanager
    def _tx(self):
        """One write transaction: all of the block's statements commit, or
        none do. Yields an :class:`_Executor`."""
        con = self.dialect.connect()
        try:
            self.dialect.begin_write(con)
            yield _Executor(con.cursor(), self.dialect)
            con.commit()
        except Exception:
            con.rollback()
            raise
        finally:
            con.close()

    def _read(self, sql: str, params: tuple = ()) -> list[tuple]:
        con = self.dialect.connect()
        try:
            cur = con.cursor()
            cur.execute(self.dialect.sql(sql), params)
            return cur.fetchall()
        finally:
            con.close()


class JobsStore(_SqlStore):
    """Ingestion jobs, one row per (job_id, symbol, day) (reference
    ingestion_jobs table, sqlite_domain.py:56-120; state machine
    entities.py:254-335). Each transition is one transaction over all of
    the job's rows."""

    def load(self) -> DataFrame:
        rows = [
            (j, s, _parse_day(d), st, _parse_ts(c), _parse_ts(u), e, b)
            for j, s, d, st, c, u, e, b in self._read(
                "SELECT job_id, symbol, day, state, created_at, updated_at, "
                "error_message, bars_processed FROM ingestion_jobs"
            )
        ]
        return self.spark.createDataFrame(rows, JOBS_SCHEMA)

    def create(self, job_id: str, symbol_days: list[tuple[str, dt.date]]) -> None:
        """Register a job's (symbol, day) work units in state 'pending'."""
        now = _now().isoformat()
        with self._tx() as x:
            n = x.execute(
                "SELECT COUNT(*) FROM ingestion_jobs WHERE job_id = ?", (job_id,)
            ).fetchone()[0]
            if n:
                raise ValueError(f"job {job_id!r} already exists")
            x.executemany(
                "INSERT INTO ingestion_jobs (job_id, symbol, day, state, created_at, updated_at)"
                " VALUES (?, ?, ?, 'pending', ?, ?)",
                [(job_id, s, d.isoformat(), now, now) for s, d in symbol_days],
            )

    def _transition(self, job_id: str, verb: str, error: str | None = None,
                    bars: dict[tuple[str, dt.date], int] | None = None) -> None:
        target = _TARGET[verb]
        with self._tx() as x:
            mine = x.execute(
                "SELECT symbol, day, state, bars_processed FROM ingestion_jobs WHERE job_id = ?",
                (job_id,),
            ).fetchall()
            if not mine:
                raise ValueError(f"job {job_id!r} not found")
            for _s, _d, state, _b in mine:
                if state not in _CAN[verb]:
                    raise ValueError(f"Cannot {verb} job in state {state}")
            now = _now().isoformat()
            for s, d, _state, b in mine:
                day = _parse_day(d)
                n = bars.get((s, day)) if bars else b
                x.execute(
                    "UPDATE ingestion_jobs SET state = ?, updated_at = ?, error_message = ?,"
                    " bars_processed = ? WHERE job_id = ? AND symbol = ? AND day = ?",
                    (target, now, error if verb == "fail" else None,
                     n if n is not None else b, job_id, s, day.isoformat()),
                )

    def start(self, job_id: str) -> None:
        self._transition(job_id, "start")

    def complete(self, job_id: str, bars: dict[tuple[str, dt.date], int] | None = None) -> None:
        self._transition(job_id, "complete", bars=bars)

    def fail(self, job_id: str, error_message: str) -> None:
        self._transition(job_id, "fail", error=error_message)

    def cancel(self, job_id: str) -> None:
        self._transition(job_id, "cancel")

    def state_counts(self) -> DataFrame:
        return job_state_counts(self.load())


class MetricsStore(_SqlStore):
    """Append-only metrics history (reference metrics.py:145-156); ``record``
    is the reference's single INSERT."""

    def load(self) -> DataFrame:
        rows = self._read("SELECT ts, name, value, provider, feed FROM metrics")
        return self.spark.createDataFrame(rows, METRICS_SCHEMA)

    def record(self, name: str, value: float, provider: str = "unknown",
               feed: str = "unknown", ts: int | None = None) -> None:
        ts = int(time.time()) if ts is None else int(ts)
        with self._tx() as x:
            x.execute(
                "INSERT INTO metrics (ts, name, value, provider, feed) VALUES (?, ?, ?, ?, ?)",
                (ts, name, float(value), provider, feed),
            )

    def history(self, name: str, since_ts: int | None = None) -> DataFrame:
        return metrics_history(self.load(), name, since_ts)

    def average(self, name: str, window_minutes: int, now_ts: int | None = None) -> DataFrame:
        now_ts = int(time.time()) if now_ts is None else now_ts
        return metrics_average(self.load(), name, now_ts - window_minutes * 60)

    def trend(self, name: str, now_ts: int | None = None, buckets: int = 24,
              bucket_minutes: int = 60) -> DataFrame:
        now_ts = int(time.time()) if now_ts is None else now_ts
        return metrics_trend(self.load(), name, now_ts, buckets, bucket_minutes)

    def list_names(self) -> list[str]:
        return [r[0] for r in self._read("SELECT DISTINCT name FROM metrics ORDER BY name")]


class CheckpointStore(_SqlStore):
    """Per-(job, symbol) resume positions (reference sqlite_domain.py:
    447-501); ``save`` is one UPSERT transaction keeping the newest position
    per (job, symbol). Public as ``streaming.incremental.CheckpointStore``."""

    def load(self) -> DataFrame:
        rows = [
            (j, s, n, _parse_ts(u))
            for j, s, n, u in self._read(
                "SELECT job_id, symbol, last_processed_ns, updated_at FROM checkpoints"
            )
        ]
        return self.spark.createDataFrame(rows, CHECKPOINT_SCHEMA)

    def positions(self, job_id: str) -> dict[str, int]:
        """symbol -> last processed ``ts_ns`` of ``job_id``: one SQL read,
        no Spark job."""
        return dict(self._read(
            "SELECT symbol, last_processed_ns FROM checkpoints WHERE job_id = ?", (job_id,)
        ))

    def last_processed(self, job_id: str, symbol: str) -> int | None:
        rows = self._read(
            "SELECT last_processed_ns FROM checkpoints WHERE job_id = ? AND symbol = ?",
            (job_id, symbol),
        )
        return rows[0][0] if rows else None

    def save(self, job_id: str, positions: dict[str, int]) -> None:
        now = _now().isoformat()
        with self._tx() as x:
            x.executemany(
                "INSERT INTO checkpoints (job_id, symbol, last_processed_ns, updated_at)"
                " VALUES (?, ?, ?, ?)"
                " ON CONFLICT(job_id, symbol) DO UPDATE SET"
                "   last_processed_ns = {MAX2}(checkpoints.last_processed_ns, excluded.last_processed_ns),"
                "   updated_at = excluded.updated_at",
                [(job_id, s, int(ns), now) for s, ns in positions.items()],
            )


# ---------------------------------------------------------------------------
# shared query shapes (store methods AND registry entries call these)

def job_state_counts(jobs: DataFrame) -> DataFrame:
    """A10 — jobs per state (reference cli/jobs.py:165-175)."""
    return (
        jobs.groupBy("state")
        .agg(F.count(F.lit(1)).alias("n_jobs"))
        .orderBy(F.desc("n_jobs"), F.asc("state"))
    )


def metrics_history(m: DataFrame, name: str, since_ts: int | None = None) -> DataFrame:
    """Metric time series (reference metrics.py:158-199)."""
    out = m.filter(F.col("name") == name)
    if since_ts is not None:
        out = out.filter(F.col("ts") >= since_ts)
    return out.select("ts", "name", "value", "provider", "feed").orderBy("ts")


def metrics_average(m: DataFrame, name: str, since_ts: int) -> DataFrame:
    """A7 — windowed average (reference metrics.py:201-216). Decimal-exact
    sum so the double result is shuffle-order-independent."""
    return (
        m.filter((F.col("name") == name) & (F.col("ts") >= since_ts))
        .agg(
            (F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def metrics_trend(m: DataFrame, name: str, now_ts: int, buckets: int = 24,
                  bucket_minutes: int = 60) -> DataFrame:
    """A8 — fixed-bucket trend (reference metrics.py:218-248): bucket i spans
    [now − (buckets−i)·step, now − (buckets−i−1)·step); empty buckets emit
    (0.0, 0) like the reference. Integer bucket math only — identical in any
    engine."""
    step = bucket_minutes * 60
    spark = m.sparkSession
    # row → bucket: i = buckets − ceil((now − ts)/step), ceil via int arithmetic
    age = F.lit(now_ts) - F.col("ts")
    idx = F.lit(buckets) - ((age + F.lit(step - 1)) / F.lit(step)).cast("long")
    binned = (
        m.filter(F.col("name") == name)
        .withColumn("bucket_id", idx)
        .filter((F.col("bucket_id") >= 0) & (F.col("bucket_id") < buckets))
        .groupBy("bucket_id")
        .agg(
            (F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    ids = spark.range(buckets).select(F.col("id").alias("bucket_id"))
    return (
        ids.join(binned, "bucket_id", "left_outer")
        .select(
            "bucket_id",
            (F.lit(now_ts) - (F.lit(buckets) - F.col("bucket_id")) * F.lit(step)).alias("bucket_start_ts"),
            F.coalesce("avg_value", F.lit(0.0)).alias("avg_value"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
        .orderBy("bucket_id")
    )


def metrics_average_windowed(m: DataFrame, name: str, window_secs: int) -> DataFrame:
    """A7 without a driver round-trip: ``now = max(ts)`` over the series is
    attached to every row as a broadcast scalar (``registry.scalar_join`` —
    a BroadcastHashJoin, never nested-loop), so the whole query is ONE Spark
    job with no ``collect()`` (reference metrics.py:201-216)."""
    from .plans.registry import scalar_join

    s = m.filter(F.col("name") == name)
    mx = s.agg(F.max("ts").alias("_now_ts"))
    return (
        scalar_join(s, "ts", mx)
        .filter(F.col("ts") >= F.col("_now_ts") - F.lit(window_secs))
        .agg(
            (F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def metrics_trend_windowed(m: DataFrame, name: str, buckets: int = 24,
                           bucket_minutes: int = 60) -> DataFrame:
    """A8 with ``now = max(ts)`` as a broadcast scalar instead of a driver
    ``collect()`` — collect-free end to end (reference metrics.py:218-248).

    Because ``now`` here IS the newest sample's own timestamp, buckets are
    top-inclusive: bucket i spans (now − (buckets−i)·step, now −
    (buckets−i−1)·step]. The reference's half-open-from-above form (used by
    :func:`metrics_trend`, whose ``now`` is a wall clock strictly after
    every sample) would place the ts == max(ts) row outside every bucket —
    silently excluding the newest point from its own trend.
    """
    from .plans.registry import scalar_join

    step = bucket_minutes * 60
    spark = m.sparkSession
    s = m.filter(F.col("name") == name)
    mx = s.agg(F.max("ts").alias("_now_ts"))
    age = F.col("_now_ts") - F.col("ts")
    idx = F.lit(buckets - 1) - (age / F.lit(step)).cast("long")
    binned = (
        scalar_join(s, "ts", mx)
        .withColumn("bucket_id", idx)
        .filter((F.col("bucket_id") >= 0) & (F.col("bucket_id") < buckets))
        .groupBy("bucket_id")
        .agg(
            (F.sum(F.col("value").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    ids = scalar_join(
        spark.range(buckets).select(F.col("id").alias("bucket_id")), "bucket_id", mx
    )
    return (
        ids.join(binned, "bucket_id", "left_outer")
        .select(
            "bucket_id",
            (F.col("_now_ts") - (F.lit(buckets) - F.col("bucket_id")) * F.lit(step)).alias("bucket_start_ts"),
            F.coalesce("avg_value", F.lit(0.0)).alias("avg_value"),
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
        )
        .orderBy("bucket_id")
    )
