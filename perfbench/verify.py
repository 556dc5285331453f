"""Output checks, run outside the timed region.

Each check returns a list of problems; an empty list means the output is
correct. DuckDB reads the same lake files the program wrote, so the
reference answer never goes through Spark.
"""

from __future__ import annotations

import hashlib

import duckdb

BAR_COLS = "symbol, ts_ns, open, high, low, close, volume"


def digest(rows) -> str:
    """Order-sensitive hash of result rows as plain Python tuples."""
    return hashlib.sha256(repr([tuple(r) for r in rows]).encode()).hexdigest()


def frame_glob(root: str, frame: str, symbol: str = "*") -> str:
    return f"{root}/frame={frame}/symbol={symbol}/*/*.parquet"


def _scan(glob: str) -> str:
    return f"read_parquet('{glob}', hive_partitioning = true)"


class Oracle:
    """DuckDB over the lake files; one in-memory connection per run."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    # -- query_mix -----------------------------------------------------------
    def load(self, root: str, frame: str, symbols: list[str], start: int, end: int) -> list[tuple]:
        """What ``load_ohlcv`` must return, in its (ts_ns, symbol) order."""
        parts = " UNION ALL ".join(
            f"SELECT {BAR_COLS} FROM {_scan(frame_glob(root, frame, s))}" for s in symbols
        )
        return self.rows(
            f"SELECT * FROM ({parts}) WHERE ts_ns BETWEEN {start} AND {end} "
            "ORDER BY ts_ns, symbol"
        )

    def summary(self, root: str, frame: str, start: int, end: int) -> list[tuple]:
        """Per-symbol count, volume, high and low over [start, end]."""
        return self.rows(
            f"SELECT symbol, count(*), sum(volume), max(high), min(low) "
            f"FROM {_scan(frame_glob(root, frame))} WHERE ts_ns BETWEEN {start} AND {end} "
            "GROUP BY symbol ORDER BY symbol"
        )

def check_increment(day, n_landed: int, n_errors: int, daily_rows, expected_daily: dict,
                    job_units, expected_units: set) -> list[str]:
    """One ingest increment: rows of the day, error rows, the 1d bars, and
    the job's (symbol, day) work units. A unit of an earlier day means the
    checkpoint did not drop the re-sent slice."""
    problems = []
    units = {(r[0], r[1]) for r in job_units}
    if units != expected_units:
        problems.append(f"{day.date}: job units {sorted(units - expected_units)} unexpected, "
                        f"{sorted(expected_units - units)} missing")
    if n_landed != day.n_valid:
        problems.append(f"{day.date}: {n_landed} 1m rows landed, expected {day.n_valid}")
    if n_errors != day.n_errors:
        problems.append(f"{day.date}: {n_errors} error rows, expected {day.n_errors}")
    got = {(r[0], int(r[1])): (float(r[2]), float(r[3]), float(r[4]), float(r[5]), int(r[6]))
           for r in daily_rows}
    if got != expected_daily:
        missing = set(expected_daily) - set(got)
        wrong = {k for k in set(got) & set(expected_daily) if got[k] != expected_daily[k]}
        extra = set(got) - set(expected_daily)
        problems.append(
            f"{day.date}: 1d bars differ ({len(missing)} missing, {len(wrong)} wrong, "
            f"{len(extra)} unexpected)"
        )
    return problems
