"""Control-plane query shapes (A10 job-state counts, A7/A8 metrics) run
through the SAME functions the SQL-backed stores use (``control.py``),
so the driver's oracle gate checks the real code path.

The driver only registers the testdata tables, so these entries derive a
deterministic jobs/metrics table from ``events`` in-query (pure integer
rules — identical in any engine); the e2e tests in
``tests/test_control_plane.py`` additionally run the same functions against
tables genuinely written by ``incremental_job``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..control import (
    job_state_counts,
    metrics_average_windowed,
    metrics_history,
    metrics_trend_windowed,
)
from .registry import register, t, ts_ns_expr

NS_PER_DAY = 86_400_000_000_000
SECS_7D = 7 * 86_400

#: events → metrics-shaped rows (ts seconds, name, value, provider, feed)
SQL_METRICS_SRC = """
m AS (
  SELECT epoch_ns(ts) // 1000000000 AS ts,
         'event.' || event_type AS name,
         value,
         'fake' AS provider,
         'iex' AS feed
  FROM events
)
"""


def _metrics_src(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    # Integer `div` on the ns value (not float division): ns epochs exceed
    # double's 2^53 mantissa, so a float path could be off by one second.
    return ev.select(
        ts_ns_expr(ev).alias("_ns"),
        F.concat(F.lit("event."), F.col("event_type")).alias("name"),
        F.col("value"),
        F.lit("fake").alias("provider"),
        F.lit("iex").alias("feed"),
    ).select(
        F.expr("_ns div 1000000000").alias("ts"),
        "name",
        "value",
        "provider",
        "feed",
    )


# ---------------------------------------------------------------------------
# A10 — job state counts (reference cli/jobs.py:165-175)

SQL_JOB_STATE_COUNTS = f"""
WITH j AS (
  SELECT event_type AS symbol, epoch_ns(ts) // {NS_PER_DAY} AS day_num, count(*) AS n
  FROM events GROUP BY 1, 2
),
jobs AS (
  SELECT CASE WHEN n % 17 = 0 THEN 'failed'
              WHEN n % 5 = 0 THEN 'in_progress'
              WHEN n % 3 = 0 THEN 'pending'
              ELSE 'completed' END AS state
  FROM j
)
SELECT state, CAST(count(*) AS BIGINT) AS n_jobs FROM jobs GROUP BY state
"""


@register("job_state_counts", SQL_JOB_STATE_COUNTS, doc="A10 jobs-per-state summary via control.job_state_counts (cli/jobs.py:165-175)", tags=("control",))
def q_job_state_counts(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    j = (
        ev.select(F.col("event_type").alias("symbol"), ts_ns_expr(ev).alias("_ns"))
        .groupBy("symbol", F.expr(f"_ns div {NS_PER_DAY}").alias("day_num"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    jobs = j.select(
        F.when(F.col("n") % 17 == 0, F.lit("failed"))
        .when(F.col("n") % 5 == 0, F.lit("in_progress"))
        .when(F.col("n") % 3 == 0, F.lit("pending"))
        .otherwise(F.lit("completed"))
        .alias("state")
    )
    return job_state_counts(jobs)


# ---------------------------------------------------------------------------
# metrics history (reference metrics.py:158-199)

SQL_METRICS_HISTORY = f"""
WITH {SQL_METRICS_SRC}
SELECT ts, name, value, provider, feed FROM m WHERE name = 'event.click'
"""


@register("metrics_history", SQL_METRICS_HISTORY, doc="metric time series via control.metrics_history (metrics.py:158-199)", tags=("control",))
def q_metrics_history(spark, sf_dir):
    return metrics_history(_metrics_src(spark, sf_dir), "event.click")


# ---------------------------------------------------------------------------
# A7 — windowed average over the metrics shape (reference metrics.py:201-216)

SQL_METRICS_AVG = f"""
WITH {SQL_METRICS_SRC},
s AS (SELECT * FROM m WHERE name = 'event.click'),
mx AS (SELECT max(ts) AS now_ts FROM s)
SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_value,
       COUNT(*) AS n
FROM s CROSS JOIN mx
WHERE ts >= now_ts - {SECS_7D}
"""


@register("metrics_avg", SQL_METRICS_AVG, doc="A7 windowed metric average via control.metrics_average_windowed (metrics.py:201-216)", tags=("control",))
def q_metrics_avg(spark, sf_dir):
    return metrics_average_windowed(_metrics_src(spark, sf_dir), "event.click", SECS_7D)


# ---------------------------------------------------------------------------
# A8 — fixed-bucket trend with empty buckets (reference metrics.py:218-248)

SQL_METRICS_TREND = f"""
WITH {SQL_METRICS_SRC},
s AS (SELECT * FROM m WHERE name = 'event.click'),
mx AS (SELECT max(ts) AS now_ts FROM s),
binned AS (
  -- top-inclusive buckets: now == max(ts), so the newest sample (age 0)
  -- must land in bucket 23, not fall off the end (see
  -- control.metrics_trend_windowed)
  SELECT 23 - ((now_ts - ts) // 3600) AS bucket_id,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_value,
         COUNT(*) AS n
  FROM s CROSS JOIN mx
  WHERE 23 - ((now_ts - ts) // 3600) BETWEEN 0 AND 23
  GROUP BY 1
),
ids AS (SELECT unnest(range(24)) AS bucket_id)
SELECT ids.bucket_id,
       (SELECT now_ts FROM mx) - (24 - ids.bucket_id) * 3600 AS bucket_start_ts,
       COALESCE(avg_value, 0.0) AS avg_value,
       COALESCE(n, CAST(0 AS BIGINT)) AS n
FROM ids LEFT JOIN binned USING (bucket_id)
"""


@register("metrics_trend", SQL_METRICS_TREND, doc="A8 24x1h bucketed trend (incl. empty buckets) via control.metrics_trend_windowed (metrics.py:218-248)", tags=("control",))
def q_metrics_trend(spark, sf_dir):
    return metrics_trend_windowed(_metrics_src(spark, sf_dir), "event.click", buckets=24, bucket_minutes=60)
