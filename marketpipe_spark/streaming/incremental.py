"""Checkpointed incremental processing — the reference's "streaming" model.

The reference has no real-time leg; its streaming analog is incremental
batch: per-(job, symbol) checkpoints with resume from
``last_processed_timestamp`` (ingestion/application/services.py:470-553),
gap backfill (cli/ohlcv_backfill.py), keep-last dedup for late/duplicate
data (parquet_engine.py:156-173), and event-driven chaining of
aggregation + validation after ingest
(aggregation/application/services.py:157-164).

Spark mapping: checkpoints are SQL rows in the control plane
(``control.CheckpointStore``, public here under the same name); the chained
legs are plain function composition over the ingested slice (the
reference's in-memory event bus is an implementation detail, SURVEY §7.3). For a true
streaming source, ``incremental_job`` drops in behind Structured Streaming's
``foreachBatch`` unchanged.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..control import CheckpointStore
from ..functions import NS_PER_DAY, trading_date


def _day_start_ns(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * NS_PER_DAY


def incremental_job(
    spark: SparkSession,
    job_id: str,
    new_bars: DataFrame,
    raw_root: str,
    agg_root: str,
    checkpoints: CheckpointStore,
    frames: list[str] | None = None,
    market_hours: bool = False,
    jobs=None,
    metrics=None,
    provider: str = "unknown",
    feed: str = "unknown",
    window_start_ns: int | None = None,
    window_end_ns: int | None = None,
) -> dict[str, DataFrame]:
    """One ingestion increment, reproducing the reference's chain:
    checkpoint-filter → validate → job create/start → land raw →
    re-aggregate ONLY the touched (symbol, date) slices → validation report
    → job complete/fail + metrics. Returns the chained outputs.

    One pass (SURVEY §4 "incremental recompute"): the raw upsert returns its
    keep-last merge of the touched raw partitions, pinned, and every frame
    derives from that merge, as the reference aggregates a job from the bars
    it ingested (aggregation/application/services.py:46-107). A frame's
    (symbol, day) partition depends only on that raw day, and the merge
    holds all of it, so the recomputed partitions replace the old ones whole
    (a dynamic partition overwrite): no aggregate file is read. At 100 TB a
    one-day increment reaggregates one day, not the lake.

    ``jobs`` (control.JobsStore) and ``metrics`` (control.MetricsStore) are
    optional; when given, the reference's control-plane writes happen:
    pending→in_progress→completed/failed rows per (symbol, day)
    (entities.py:254-335) and ingest/validation metric points
    (services.py recording ingest_jobs/ingest_job_total_bars/
    validation_errors, metrics.py:145-156).

    ``window_start_ns``/``window_end_ns`` bound the job's time range; a
    checkpoint OUTSIDE [start, end) is stale and ignored — the symbol
    restarts from the window start (reference services.py:475-491).
    """
    from ..lake import BAR_COLUMNS, _write_partitioned, filter_all, upsert_bars
    from ..operators.resample import resample_all
    from ..operators.validation import split_valid

    if window_start_ns is not None:
        new_bars = new_bars.filter(F.col("ts_ns") >= window_start_ns)
    if window_end_ns is not None:
        new_bars = new_bars.filter(F.col("ts_ns") < window_end_ns)

    # resume: drop rows at or before each symbol's checkpoint — unless the
    # checkpoint is stale (outside the job window), in which case it is
    # ignored entirely (services.py:480-487). The positions are SQL rows read
    # without Spark; they become one literal predicate per symbol.
    resume = {
        symbol: ns
        for symbol, ns in checkpoints.positions(job_id).items()
        if (window_start_ns is None or ns >= window_start_ns)
        and (window_end_ns is None or ns < window_end_ns)
    }
    fresh = filter_all(new_bars, [
        ~F.col("symbol").eqNullSafe(s) | (F.col("ts_ns") > ns) for s, ns in resume.items()
    ])

    # Validate once: split_valid's outputs read one pin, and one grouped collect
    # gives each (symbol, date) its newest valid ts_ns, valid and error counts.
    # An invalid row shares its key and date with an error row: groups = units.
    valid, errors = split_valid(fresh, market_hours=market_hours)
    ok = F.col("ok")
    groups = (
        valid.select("symbol", "ts_ns", F.lit(True).alias("ok"))
        .unionByName(errors.select("symbol", "ts_ns", F.lit(False).alias("ok")))
        .groupBy("symbol", trading_date("ts_ns").alias("date"))  # exact integer date math
        .agg(F.max(F.when(ok, F.col("ts_ns"))).alias("m"), F.count_if(ok).alias("n"), F.count_if(~ok).alias("e"))
        .collect()
    )
    stats = [r for r in groups if r.n]
    if jobs is not None:
        if groups:
            jobs.create(job_id, [(r.symbol, r.date) for r in groups])
            jobs.start(job_id)
        else:
            jobs = None  # nothing to ingest — no work units to track
    if metrics is not None:
        metrics.record("ingest_jobs", 1.0, provider, feed)

    try:
        # The pinned keep-last merge of the touched raw partitions; None for an
        # empty increment, whose frames then come out empty.
        merged = upsert_bars(
            valid, raw_root, "1m", ingest_id=job_id, touched=[(r.symbol, r.date) for r in stats]
        )
        # Returned outputs read pins, so reading them re-runs neither validation
        # nor resampling. One pin holds every frame: the write reads it, and
        # each frame's output is a filter of it.
        outputs: dict[str, DataFrame] = {"errors": errors}
        frames = frames or ["5m", "1h", "1d"]
        source = valid if merged is None else merged
        aggs = resample_all(source.select(*BAR_COLUMNS), frames).localCheckpoint(eager=True)
        if merged is not None:
            _write_partitioned(aggs.withColumn("ingest_id", F.lit(job_id)), agg_root, None, "overwrite")
        for frame in frames:
            outputs[frame] = aggs.filter(F.col("frame") == frame).drop("frame")
    except Exception as e:
        if jobs is not None:
            jobs.fail(job_id, str(e))
        if metrics is not None:
            metrics.record("ingest_job_failures", 1.0, provider, feed)
        raise

    maxes: dict[str, int] = {}
    for r in stats:
        maxes[r.symbol] = max(maxes.get(r.symbol, 0), r.m)
    if maxes:
        checkpoints.save(job_id, maxes)

    if jobs is not None:
        jobs.complete(job_id, bars={(r.symbol, r.date): r.n for r in stats})
    if metrics is not None:
        total = float(sum(r.n for r in stats))
        metrics.record("ingest_job_success", 1.0, provider, feed)
        metrics.record("ingest_job_total_bars", total, provider, feed)
        metrics.record("ingest_symbols_success", float(len(maxes)), provider, feed)
        metrics.record("validation_errors", float(sum(r.e for r in groups)), provider, feed)
    return outputs


def backfill_gaps(
    spark: SparkSession,
    raw_root: str,
    agg_root: str,
    start: dt.date,
    end: dt.date,
    checkpoints: CheckpointStore,
    fetch_day,
    jobs=None,
    metrics=None,
    frames: list[str] | None = None,
    weekdays_only: bool = True,
    market_hours: bool = False,
) -> dict[dt.date, list[str]]:
    """Detect per-symbol gap days in the raw lake and run ONE ingestion job
    per missing day, scoped to that day's window (reference
    cli/ohlcv_backfill.py:1-14,114-140: detect → job per gap → ingest
    synchronously; idempotent because a filled day is no longer a gap).

    ``fetch_day(symbols, day) -> DataFrame`` supplies the day's bars (the
    fake provider in this sandbox; a live adapter on a real deployment).
    Gap detection is one anti-join (operators/gaps.py); the per-day jobs
    reuse the full incremental chain including control-plane writes.
    """
    from ..lake import read_bars
    from ..operators.gaps import gaps_by_symbol

    lake = read_bars(spark, raw_root, frame="1m", columns=["symbol"])
    gap_rows = gaps_by_symbol(lake, start, end, weekdays_only).collect()
    by_day: dict[dt.date, list[str]] = {}
    for r in gap_rows:
        by_day.setdefault(r.day, []).append(r.symbol)

    existing_jobs = (
        {row.job_id for row in jobs.load().select("job_id").distinct().collect()}
        if jobs is not None
        else set()
    )
    filled: dict[dt.date, list[str]] = {}
    for day in sorted(by_day):
        syms = sorted(by_day[day])
        job_id = f"backfill-{day.isoformat()}"
        n = 1
        while job_id in existing_jobs:  # re-run after failure: fresh job row
            job_id = f"backfill-{day.isoformat()}-r{n}"
            n += 1
        day_start = _day_start_ns(day)
        incremental_job(
            spark, job_id, fetch_day(syms, day), raw_root, agg_root, checkpoints,
            frames=frames, market_hours=market_hours, jobs=jobs, metrics=metrics,
            window_start_ns=day_start, window_end_ns=day_start + NS_PER_DAY,
        )
        filled[day] = syms
    return filled
