"""Partitioned Parquet lake: the reference's storage engine re-expressed as
Spark table ops.

Reference layout (parquet_engine.py:19-31,88-95):
``<root>/frame=<f>/symbol=<S>/date=<YYYY-MM-DD>/<job_id>.parquet``.
Spark keeps the same Hive partitioning (frame/symbol/date).

Reads plan from the request, as the reference's loader selects partition
directories before it scans (loader.py:159-175): ``read_bars`` turns the
frame, symbols and date bounds into ``root/frame=F/symbol=S[/date=D]``
paths and reads only those (``basePath=root`` keeps the partition
columns), so listing costs O(requested partitions), not O(lake). With
``columns`` (names from ``schema.BARS_MIN_SCHEMA``) the scan takes its
schema from the request and runs no schema-inference job; without it the
schema is inferred from the selected files. Either way the partition
columns keep fixed types (``frame``/``symbol`` string, ``date`` date): a
lone ``frame=1d`` directory would otherwise be inferred as a double.

Writes enforce one schema, as the reference writes its minimal one
(parquet_engine.py:83-86,220-231): every writer lays its rows out with
``_layout``, which casts to ``BARS_MIN_SCHEMA`` plus a nullable
``ingest_id`` and drops any other column. ``upsert_bars`` therefore reads
the partitions it rewrites under that fixed schema; only
``compact_partitions``, which repairs files the program may not have
written, infers.

Write semantics reproduced:
- K1/K3 partitioned write (zstd; task-commit protocol replaces the
  reference's inter-process file locks, parquet_engine.py:97-99)
- K2 upsert-append with keep-last dedup on (symbol, ts_ns)
  (parquet_engine.py:127-182) via dynamic partition overwrite
- frames derived whole from their raw days replace their partitions
  (``_write_partitioned`` in overwrite mode), as the reference writes a
  job's aggregates (aggregation/application/services.py:46-107)
- K7 retention pruning by partition date (cli/prune.py:17-36)

Scale: dynamic partition overwrite touches only the partitions present in
the incoming batch; a 100 TB lake ingesting one day rewrites one day.
"""

from __future__ import annotations

import datetime as dt
import functools
import operator
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from .functions import NS_PER_DAY, trading_date
from .schema import BARS_MIN_SCHEMA
from .session import tune


#: The canonical bar columns, in ``schema.BARS_MIN_SCHEMA`` order.
BAR_COLUMNS = tuple(BARS_MIN_SCHEMA.fieldNames())

#: Fixed types of the Hive partition columns, in directory order.
_PARTITION_FIELDS = {
    f.name: f
    for f in (
        T.StructField("frame", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("date", T.DateType()),
    )
}


def bars_schema(columns=BAR_COLUMNS) -> T.StructType:
    """Read schema of ``columns`` (names from ``BARS_MIN_SCHEMA``) plus the
    partition columns, in the order a lake scan returns them."""
    unknown = sorted(set(columns) - set(BAR_COLUMNS))
    if unknown:
        raise ValueError(f"unknown bar columns {unknown}; expected a subset of {list(BAR_COLUMNS)}")
    data = [
        T.StructField(f.name, f.dataType)
        for f in BARS_MIN_SCHEMA.fields
        if f.name in columns and f.name not in _PARTITION_FIELDS
    ]
    return T.StructType(data + list(_PARTITION_FIELDS.values()))


#: The lake's write schema: ``BARS_MIN_SCHEMA`` with nullable fields, so that
#: ``DataFrame.to`` keeps each column's own nullability instead of rejecting
#: a nullable input column.
_WRITE_FIELDS = [T.StructField(f.name, f.dataType) for f in BARS_MIN_SCHEMA.fields]

#: The one lake column beside the canonical bars: which job wrote the row.
_INGEST_ID = T.StructField("ingest_id", T.StringType())

#: What an upsert reads of the partitions it rewrites.
_UPSERT_READ_SCHEMA = T.StructType(bars_schema().fields + [_INGEST_ID])


def _layout(bars: DataFrame, frame: str | None, keep_first: list | None = None) -> DataFrame:
    """``bars`` as the lake writes them: selected and cast to
    ``BARS_MIN_SCHEMA`` (plus ``ingest_id`` when ``bars`` has it), with
    ``date`` added and ``frame`` set to ``frame``, or kept from ``bars``'s
    ``frame`` column when that is None; all rows of a ``frame/symbol/date``
    partition in one task, sorted by ``ts_ns``. With ``keep_first`` (sort
    columns of ``bars``), only the first row in that order of each
    ``(frame, symbol, ts_ns)`` key is kept, within the same shuffle."""
    kept = [_INGEST_ID] if _INGEST_ID.name in bars.columns else []
    added = {"date": trading_date("ts_ns")} | ({"frame": F.lit(frame)} if frame else {})
    # One task per partition: the frames of a (symbol, date) share it. Keyed
    # without frame, which Spark folds out of the window's keys when it is a
    # literal; the window must then still find its groups clustered.
    laid = bars.withColumns(added).repartition("symbol", "date")
    if keep_first:
        # date is a function of ts_ns: keying on it too leaves the groups as
        # they are and lets the window reuse the repartition's shuffle.
        first = W.partitionBy("frame", "symbol", "date", "ts_ns").orderBy(*keep_first)
        laid = laid.withColumn("_rn", F.row_number().over(first)).filter(F.col("_rn") == 1)
    # The planned write re-sorts each task by the partition columns unless its
    # input already is, which loses ts_ns order. Spark folds a literal frame
    # out of any sort key, so the key names frame only when it is data.
    order = ("symbol", "date", "ts_ns") if frame else ("frame", "symbol", "date", "ts_ns")
    return (
        # One call each, not one Column per field: building a Column costs a
        # JVM round trip and a call-site capture.
        laid.to(T.StructType(_WRITE_FIELDS + kept + [_PARTITION_FIELDS[c] for c in ("frame", "date")]))
        .sortWithinPartitions(*order)  # reference sorts within file (engine:162-164)
    )


def _write_laid_out(laid: DataFrame, root: str, mode: str) -> None:
    """Write ``_layout``'s output: one ``ts_ns``-sorted file per partition.
    ``mode="overwrite"`` replaces only the partitions written (dynamic
    partition overwrite, ``session.tune``)."""
    laid.write.mode(mode).partitionBy("frame", "symbol", "date").parquet(root)


def _write_partitioned(bars: DataFrame, root: str, frame: str | None, mode: str) -> None:
    """The lake's one write: ``bars`` laid out by ``_layout`` and written by
    ``_write_laid_out``."""
    tune(bars.sparkSession)
    _write_laid_out(_layout(bars, frame), root, mode)


def write_bars(bars: DataFrame, root: str, frame: str, ingest_id: str | None = None) -> None:
    """K1/K3 — append bars to the partitioned lake, under the lake's one
    write schema (``_write_partitioned``)."""
    if ingest_id is not None:
        bars = bars.withColumn("ingest_id", F.lit(ingest_id))
    _write_partitioned(bars, root, frame, "append")


def scan_partitions(
    spark: SparkSession, root: str, paths: list[str], schema: T.StructType | None = None
) -> DataFrame:
    """Read partition directories or files under ``root``, keeping the
    partition columns. Without ``schema`` the data columns are inferred from
    the files (one Spark job); the partition columns keep their fixed types
    either way."""
    tune(spark)
    if schema is None:
        inferred = spark.read.option("basePath", root).parquet(*paths).schema
        schema = T.StructType([_PARTITION_FIELDS.get(f.name, f) for f in inferred])
    return spark.read.option("basePath", root).schema(schema).parquet(*paths)


#: Widest date range a partition glob spells out day by day. A wider or
#: half-open range globs every date directory of the requested symbols and
#: leaves the day cut to the partition predicate.
_GLOB_MAX_DAYS = 366


def _partition_glob(
    root: str,
    frame: str,
    symbols: list[str] | None,
    first_day: dt.date | None,
    last_day: dt.date | None,
) -> tuple[str | None, bool]:
    """Hadoop glob of the partition directories a request reads:
    ``root/frame=F/symbol={S1,S2}/date={D1,D2,...}``, and whether it names
    the requested symbols and days exactly. None when the range is empty."""
    if first_day and last_day and first_day > last_day:
        return None, True
    glob = f"{_glob_escape(root)}/frame={_glob_escape(_escape(frame))}"
    symbol_glob = "/symbol=" + (_alternatives(_escape(s) for s in symbols) if symbols else "*")
    if first_day is None and last_day is None:
        return (glob + symbol_glob if symbols else glob), True
    glob += symbol_glob
    if first_day and last_day and (last_day - first_day).days < _GLOB_MAX_DAYS:
        days = (first_day + dt.timedelta(days=n) for n in range((last_day - first_day).days + 1))
        return glob + "/date=" + _alternatives(d.isoformat() for d in days), True
    return glob + "/date=*", False


def _alternatives(names) -> str:
    return "{" + ",".join(_glob_escape(n) for n in names) + "}"


def _glob_escape(text: str) -> str:
    return re.sub(r"([\\*?\[\]{},])", r"\\\1", text)


#: Characters Spark percent-escapes in a partition directory name
#: (``ExternalCatalogUtils.escapePathName``).
_HIVE_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 0x20)}


def _escape(value: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in value)


def read_bars(
    spark: SparkSession,
    root: str,
    frame: str | None = None,
    symbols: list[str] | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """S1-S5 — partition-pruned scan of the lake.

    With a ``frame``, only the partition directories the request names are
    listed and read: ``root/frame=F/symbol=S/date=D`` for each of
    ``symbols`` (every symbol when none are given) and each day of
    ``[start_ns, end_ns]``, as one Hadoop glob that lists each symbol
    directory once and keeps the requested ``date=`` children (``basePath``
    keeps the partition columns). Directories that do not exist are
    skipped; a request that matches none returns an empty frame. A range
    wider than ``_GLOB_MAX_DAYS`` or open on one side reads every date
    directory of the symbols and leaves the day cut to the partition
    predicate. Without a frame the whole root is read. A missing root
    raises, as ``spark.read.parquet`` does.

    ``columns`` is a subset of ``schema.BARS_MIN_SCHEMA``'s names (any other
    name raises ``ValueError``). With it the scan reads those columns plus
    the partition columns ``frame``/``symbol``/``date`` under a schema built
    from the request, so no schema-inference job runs. Without it the
    schema is inferred from the selected files, keeping every column
    written (``ingest_id`` and the like).

    The ts_ns range predicate pushes to parquet row groups (the reference's
    ``WHERE ts_ns BETWEEN`` pushdown, loader.py:184-192).
    """
    schema = None if columns is None else bars_schema(columns)
    if symbols:
        symbols = [s.upper() for s in symbols]
    first_day = None if start_ns is None else _utc_day(start_ns)
    last_day = None if end_ns is None else _utc_day(end_ns)
    fs, hroot, jvm = _hadoop_fs(spark, root)
    if frame is None or not fs.exists(hroot):
        paths, exact = [root], False  # a missing root raises here, as it always has
    else:
        glob, exact = _partition_glob(root, frame, symbols, first_day, last_day)
        found = glob and fs.globStatus(jvm.org.apache.hadoop.fs.Path(glob))
        paths = [glob] if found else []
    if paths:
        df = scan_partitions(spark, root, paths, schema)
    else:
        df = tune(spark).createDataFrame([], schema or bars_schema())
    # Partition predicates only where the paths do not already select.
    conds = []
    if start_ns is not None:
        conds.append(F.col("ts_ns") >= start_ns)
    if end_ns is not None:
        conds.append(F.col("ts_ns") <= end_ns)
    if not exact:
        if symbols:
            conds.append(F.col("symbol").isin(symbols))
        if first_day is not None:
            conds.append(F.col("date") >= first_day)
        if last_day is not None:
            conds.append(F.col("date") <= last_day)
    return filter_all(df, conds)


def filter_all(df: DataFrame, conds: list) -> DataFrame:
    """``df`` filtered by the AND of ``conds`` in one call: every DataFrame
    call is a JVM round trip and a round of plan analysis."""
    return df.filter(functools.reduce(operator.and_, conds)) if conds else df


def _utc_day(ts_ns: int) -> dt.date:
    """The partition date of ``ts_ns``, in exact integer arithmetic (a float
    division puts the last nanoseconds of a day on the next one)."""
    return dt.date(1970, 1, 1) + dt.timedelta(days=ts_ns // NS_PER_DAY)


def _existing_partitions(spark: SparkSession, root: str, frame: str, pairs: list) -> list[str]:
    """The ``root/frame=F/symbol=S/date=D`` directories of the (symbol, date)
    ``pairs`` that exist: one glob over the pairs' symbols and day range,
    cut to the exact pairs. Existence goes through the Hadoop FS API, so an
    hdfs:// or s3a:// root is seen as it is."""
    fs, hroot, jvm = _hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return []
    symbols, days = (sorted(set(col)) for col in zip(*pairs))
    glob, _ = _partition_glob(root, frame, symbols, days[0], days[-1])
    wanted = {f"symbol={_escape(s)}/date={d.isoformat()}" for s, d in pairs}
    found = (st.getPath().toString() for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(glob)) or [])
    return [p for p in found if "/".join(p.rsplit("/", 2)[-2:]) in wanted]


def upsert_bars(
    new_bars: DataFrame,
    root: str,
    frame: str,
    ingest_id: str | None = None,
    touched: list[tuple] | None = None,
) -> DataFrame | None:
    """K2/P7 — append with keep-last dedup on (symbol, ts_ns).

    The reference reads the partition file, concats, drops duplicate ts
    keeping the last, and rewrites (parquet_engine.py:127-182). Spark
    version: find the (symbol, date) partitions the batch touches, read
    those directories that exist under a fixed schema (the canonical
    columns plus a nullable ``ingest_id``, so no schema-inference job runs
    and a file without ``ingest_id`` reads it as null), keep the newest row
    per key, and dynamically overwrite ONLY those partitions. A partition or
    root that does not exist yet simply has no existing rows. Incoming rows
    carry ``ingest_id`` (null when none is given); rewritten rows keep
    theirs.

    ``touched``: the batch's ``(symbol, date)`` partitions, when the caller
    holds them (it saves a collect); it must cover every row of the batch,
    or the partitions it misses lose their old rows.

    Returns the merged rows of the rewritten partitions (the canonical
    columns, ``ingest_id``, ``frame`` and ``date``), pinned with an eager
    ``localCheckpoint``: the write reads from the pin, and the caller can
    derive from it without reading the partitions back. An empty batch
    writes nothing and returns None.
    """
    spark = tune(new_bars.sparkSession)
    if touched is None:
        touched = new_bars.select("symbol", trading_date("ts_ns")).distinct().collect()
    # Empty batch: a semantic no-op — and writing it would NOT be one. An
    # empty partitionBy write materializes a root containing only _SUCCESS.
    if not touched:
        return None
    # _gen separates existing (0) from incoming (1); _ord is the within-batch
    # tie-breaker so duplicate keys in ONE batch resolve like the
    # reference's drop_duplicates keep='last' (parquet_engine.py:162-164):
    # the later row in batch order wins. (Fully deterministic when the batch
    # plan is — a shuffled batch with intra-batch duplicate keys should be
    # pre-deduped with keep_last by the caller.)
    merged = new_bars.select(
        F.lit(frame).alias("frame"), *BAR_COLUMNS,
        F.lit(ingest_id).cast("string").alias("ingest_id"),
        F.lit(1).alias("_gen"),
        F.monotonically_increasing_id().alias("_ord"),
    )
    paths = _existing_partitions(spark, root, frame, touched)
    if paths:
        # A file the lake's writer did not write may lack ts_ns and read it as
        # null; rewriting would move its rows out of the partition, so the
        # write fails instead and leaves the partition as it was.
        no_ts = F.raise_error(F.lit(f"upsert_bars: a file under {root}/frame={frame} has no ts_ns"))
        existing = scan_partitions(spark, root, paths, _UPSERT_READ_SCHEMA).select(
            "frame", F.coalesce("ts_ns", no_ts).alias("ts_ns"),
            *(c for c in BAR_COLUMNS if c != "ts_ns"),
            "ingest_id",
            F.lit(0).alias("_gen"),
            F.lit(0).cast("long").alias("_ord"),
        )
        merged = existing.unionByName(merged)
    # The pin keeps the layout's partitioning and its (frame, symbol, date,
    # ts_ns) order, so the write from it neither shuffles nor sorts again.
    pinned = _layout(merged, None, keep_first=[F.desc("_gen"), F.desc("_ord")]).localCheckpoint(eager=True)
    _write_laid_out(pinned, root, "overwrite")
    return pinned


AGE_RE = re.compile(r"^(\d+)([dmy]?)$")


def age_to_cutoff(expr: str, today: dt.date | None = None) -> dt.date:
    """K7 — '30d'/'18m'/'5y' (or unit-less days, '30') age expressions →
    cutoff date, with the reference's timedelta approximation: a month is
    30 days and a year 365 (cli/prune.py:17-35)."""
    m = AGE_RE.match(expr.strip().lower())
    if not m:
        raise ValueError(f"bad age expression {expr!r}; expected like '30d', '18m', '5y', or '30'")
    n, unit = int(m.group(1)), m.group(2) or "d"
    today = today or dt.date.today()
    days = n if unit == "d" else n * 30 if unit == "m" else n * 365
    return today - dt.timedelta(days=days)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme (file/hdfs/s3a) —
    the cluster-portable replacement for local glob/os.walk."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def list_lake_files(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """(path, size) for every parquet data file under the lake root, via the
    Hadoop FileSystem API (reference parquet_engine.py:500-535 os.walks; this
    works identically on HDFS/S3 object listings)."""
    fs, hpath, _ = _hadoop_fs(spark, root)
    if not fs.exists(hpath):
        return []
    out = []
    it = fs.listFiles(hpath, True)  # recursive remote iterator
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        name = p.rsplit("/", 1)[-1]
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((p, st.getLen()))
    return out


def storage_stats(spark: SparkSession, root: str) -> dict:
    """A11 — lake storage stats: file count, bytes, distinct frames/symbols/
    days (reference: parquet_engine.py:500-535). Uses the Hadoop FS listing
    (catalog-manifest territory at true scale; the listing is one control-
    plane RPC sweep, never data-plane I/O)."""
    files = list_lake_files(spark, root)
    parts = {tuple(p.split("/")[-4:-1]) for p, _ in files}
    return {
        "file_count": len(files),
        "total_bytes": sum(sz for _, sz in files),
        "frames": len({p[0] for p in parts}),
        "symbols": len({p[1] for p in parts}),
        "days": len({p[2] for p in parts}),
    }


def compact_partitions(
    spark: SparkSession, root: str, frame: str, max_files: int = 1
) -> list[str]:
    """Lake maintenance: rewrite partitions holding more than ``max_files``
    data files (every incremental upsert that only touches PART of a
    partition's siblings leaves per-job files behind; a year of daily jobs =
    365 files per partition — death by file-listing at 100 TB). Reads ONLY
    the offending partitions and dynamically overwrites them through the
    same one-writer-task-per-partition path as ``write_bars``; data is
    unchanged. Returns the rewritten partition paths."""
    counts: dict[str, int] = {}
    for p, _sz in list_lake_files(spark, root):
        part_dir = p.rsplit("/", 1)[0]
        if f"/frame={frame}/" in part_dir + "/":
            counts[part_dir] = counts.get(part_dir, 0) + 1
    doomed = sorted(d for d, n in counts.items() if n > max_files)
    if not doomed:
        return []
    # Inferred schema: these may be files the program did not write, which
    # the write casts back to the lake's schema. Pinned before the write
    # overwrites its own input.
    slice_df = scan_partitions(spark, root, doomed).localCheckpoint(eager=True)
    _write_partitioned(slice_df, root, frame, "overwrite")
    return doomed


def render_table(df, limit: int = 50, fmt: str = "csv") -> str:
    """K6/O4 — render a result head as CSV or a markdown grid (reference:
    cli/query.py:42-65 renders DuckDB results the same two ways)."""
    pdf = df.limit(limit).toPandas()
    if fmt == "csv":
        return pdf.to_csv(index=False)
    if fmt == "markdown":
        cols = list(pdf.columns)
        lines = ["| " + " | ".join(cols) + " |", "| " + " | ".join("---" for _ in cols) + " |"]
        lines += ["| " + " | ".join(str(v) for v in row) + " |" for row in pdf.itertuples(index=False)]
        return "\n".join(lines)
    raise ValueError(f"unknown fmt {fmt!r}; expected 'csv' or 'markdown'")


def prune_bars(
    spark: SparkSession, root: str, older_than: str, dry_run: bool = False
) -> list[str]:
    """K7 — delete lake partitions older than the cutoff; returns the list of
    partition paths affected (reference: cli/prune.py:41-225). Partition
    discovery + delete go through the Hadoop FS API, so the same code prunes
    an HDFS/S3 lake."""
    cutoff = age_to_cutoff(older_than)
    fs, _, jvm = _hadoop_fs(spark, root)
    doomed = []
    seen = set()
    for p, _sz in list_lake_files(spark, root):
        part_dir = p.rsplit("/", 1)[0]
        if part_dir in seen:
            continue
        seen.add(part_dir)
        date_str = part_dir.rsplit("date=", 1)[-1]
        try:
            d = dt.date.fromisoformat(date_str)
        except ValueError:
            continue
        if d < cutoff:
            doomed.append(part_dir)
            if not dry_run:
                fs.delete(jvm.org.apache.hadoop.fs.Path(part_dir), True)
    return sorted(doomed)
