"""File-level stats manifest + data-skipping planner for the bars lake.

The Delta/Iceberg capability the raw-parquet lake lacks: at 100 TB the
lake holds millions of files, and a time-range query that relies only on
directory-partition pruning still opens every file inside the surviving
``(frame, symbol, date)`` partitions. A MANIFEST — one row of footer
statistics per data file — lets the planner drop files whose
``[min_ts, max_ts]`` envelope cannot intersect the query range before
Spark ever lists them (the same technique as Delta's add-file stats and
Iceberg's manifest entries; reference analog is the directory walk in
parquet_engine.py:391-452, which has no per-file stats at all).

Design notes for scale:

- **Building is distributed and reads footers only.** The file list fans
  out over executors via ``mapInPandas``; each task reads parquet FOOTERS
  (KBs) with pyarrow, never data pages. Cost is O(files), not O(bytes).
- **The manifest is itself a DataFrame** — persist it as a small parquet
  table next to the lake and refresh incrementally per ingest job if the
  listing sweep ever becomes the bottleneck.
- **Planning collects only matching paths.** Like Delta's driver-side
  file planning, the pruned path list must fit on the driver; the
  manifest filter runs distributed, and what comes back is exactly the
  surviving file set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import bars_schema, filter_all, list_lake_files, scan_partitions
from .session import tune

__all__ = ["build_manifest", "prune_files", "read_pruned", "skipping_ratio"]

MANIFEST_SCHEMA = (
    "path string, size long, n_rows long, n_row_groups int, "
    "min_ts long, max_ts long"
)


def _local_path(p: str) -> str:
    # Hadoop returns URIs (file:/..., hdfs://...); pyarrow wants the bare
    # path for local files and can open hdfs/s3 via its own filesystems.
    return p[5:] if p.startswith("file:") else p


def build_manifest(spark: SparkSession, root: str, ts_col: str = "ts_ns") -> DataFrame:
    """One row of footer stats per lake data file.

    ``min_ts``/``max_ts`` are the column-chunk statistics envelope of
    ``ts_col`` across all row groups (null when the writer produced no
    stats — such files are never skipped, so missing stats degrade to
    correct-but-unpruned, the fail-safe direction).
    """
    tune(spark)
    files = list_lake_files(spark, root)
    if not files:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    fdf = spark.createDataFrame(files, "path string, size long")
    # More files than default partitions -> spread footer reads; tiny lists
    # stay single-task.
    fdf = fdf.repartition(max(1, min(len(files) // 64 + 1, 256)))

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p, sz in zip(pdf["path"], pdf["size"]):
                md = pq.read_metadata(_local_path(p))
                mn = mx = None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        if col.path_in_schema != ts_col:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            mn = mx = None
                            break
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                    else:
                        continue
                    break
                rows.append((p, int(sz), md.num_rows, md.num_row_groups, mn, mx))
            yield pd.DataFrame(
                rows,
                columns=["path", "size", "n_rows", "n_row_groups", "min_ts", "max_ts"],
            )

    return fdf.mapInPandas(scan, schema=MANIFEST_SCHEMA)


#: Hard bound on how many surviving paths :func:`prune_files` may collect to
#: the driver. File planning is inherently driver-side (Delta/Iceberg do the
#: same), but at a 10⁶–10⁷-file lake an unbounded path list is GBs of driver
#: heap before the read starts — fail loudly instead and steer the caller to
#: directory-partition pruning (lake.py) for the coarse cut.
MAX_PRUNED_FILES = int(os.environ.get("MP_MAX_PRUNED_FILES", str(250_000)))


def prune_files(
    manifest: DataFrame,
    start_ns: int | None = None,
    end_ns: int | None = None,
    max_files: int | None = None,
) -> list[str]:
    """Paths whose stats envelope intersects ``[start_ns, end_ns]``.

    Files without stats (null envelope) always survive — skipping must
    never be able to drop a row the full scan would return.

    The collect is bounded BY CONSTRUCTION: ``limit(max_files + 1)`` caps
    what can ever reach the driver, and exceeding ``max_files`` (default
    :data:`MAX_PRUNED_FILES`, env ``MP_MAX_PRUNED_FILES``) raises instead of
    materializing a huge path list.
    """
    cap = MAX_PRUNED_FILES if max_files is None else max_files
    rows = (
        manifest.filter(_survives(start_ns, end_ns))
        .select("path")
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"prune_files: more than {cap} files survive the stats filter; "
            "a driver-side path list this large defeats the point of "
            "planning. Narrow the range, prune by directory partitions "
            "first (lake.scan), or raise MP_MAX_PRUNED_FILES explicitly."
        )
    return [r["path"] for r in rows]


def _survives(start_ns: int | None, end_ns: int | None):
    """Predicate: the file's stats envelope may intersect the range (or the
    envelope is unknown — null stats must always survive)."""
    keep = F.col("min_ts").isNull() | F.col("max_ts").isNull()
    cond = F.lit(True)
    if start_ns is not None:
        cond = cond & (F.col("max_ts") >= F.lit(start_ns))
    if end_ns is not None:
        cond = cond & (F.col("min_ts") <= F.lit(end_ns))
    return keep | cond


def read_pruned(
    spark: SparkSession,
    root: str,
    manifest: DataFrame,
    start_ns: int | None = None,
    end_ns: int | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """Manifest-pruned lake scan, result-identical to the full filtered read.

    Returns the canonical bar columns plus the partition columns
    (frame/symbol/date), read under a fixed schema from only the surviving
    files: no listing of the root and no schema-inference job. ``basePath``
    keeps the Hive partition columns that a direct file-list read would
    otherwise lose. The residual ``ts_ns`` filter still applies — file
    skipping is an envelope test, not an exact one — and still pushes down
    to the surviving files' row groups. No surviving file gives an empty
    frame of the same shape.
    """
    paths = prune_files(manifest, start_ns, end_ns, max_files=max_files)
    if not paths:
        return tune(spark).createDataFrame([], bars_schema())
    conds = []
    if start_ns is not None:
        conds.append(F.col("ts_ns") >= start_ns)
    if end_ns is not None:
        conds.append(F.col("ts_ns") <= end_ns)
    return filter_all(scan_partitions(spark, root, paths, bars_schema()), conds)


def skipping_ratio(
    manifest: DataFrame, start_ns: int | None = None, end_ns: int | None = None
) -> dict:
    """Observability: how much the manifest saves for a given range.

    Counts distributed — never collects paths to the driver (on a
    millions-of-files lake the path list is exactly what must not land on
    the driver just to be counted)."""
    total = manifest.count()
    kept = manifest.filter(_survives(start_ns, end_ns)).count()
    return {
        "files_total": total,
        "files_kept": kept,
        "files_skipped": total - kept,
        "skip_ratio": round(1 - kept / total, 4) if total else 0.0,
    }
