"""SQL query surface — per-frame views + ``query(sql)``.

Reference: src/marketpipe/aggregation/infrastructure/duckdb_views.py —
``bars_{5m,15m,1h,1d}`` views over the aggregated lake, an empty typed
fallback when a frame has no data (:44-51), ``query(sql)`` passthrough
(:98-125) and the availability summary (:128-162); CLI rendering
src/marketpipe/cli/query.py:42-65 (K6/O4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import BAR_COLUMNS, _hadoop_fs, bars_schema, read_bars
from ..session import tune

VIEW_FRAMES = ("5m", "15m", "1h", "4h", "1d")


def ensure_views(spark: SparkSession, agg_root: str, frames=VIEW_FRAMES) -> list[str]:
    """Register ``bars_<frame>`` temp views over the aggregated lake.

    Each view reads ``agg_root/frame=<frame>`` with the canonical columns
    under a fixed schema (``date`` as a string), so registering runs no
    probe or schema-inference job. A frame with no directory, or a missing
    ``agg_root``, gets an empty view of the same typed shape
    (duckdb_views.py:44-51,65-72).
    """
    tune(spark)
    fs, hroot, _ = _hadoop_fs(spark, agg_root)
    root_exists = fs.exists(hroot)
    created = []
    for frame in frames:
        name = f"bars_{frame}"
        if root_exists:
            df = read_bars(spark, agg_root, frame=frame, columns=BAR_COLUMNS)
        else:
            df = spark.createDataFrame([], bars_schema())
        view = df.select(*BAR_COLUMNS, F.col("date").cast("string").alias("date"))
        view.createOrReplaceTempView(name)
        created.append(name)
    return created


def query(spark: SparkSession, sql: str) -> DataFrame:
    """Ad-hoc SQL over the registered views (duckdb_views.py:98-125)."""
    if not sql or not sql.strip():
        raise ValueError("empty SQL")
    return tune(spark).sql(sql)


def render(df: DataFrame, limit: int = 50, fmt: str = "markdown") -> str:
    """K6/O4 — CSV or grid-table rendering of the first ``limit`` rows
    (cli/query.py:42-65). Delegates to :func:`marketpipe_spark.lake.render_table`."""
    from ..lake import render_table

    return render_table(df, limit=limit, fmt=fmt)
