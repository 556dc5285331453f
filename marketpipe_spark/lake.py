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
schema is inferred from the selected files, which write and maintenance
paths need so they never drop a column. Either way the partition columns
keep fixed types (``frame``/``symbol`` string, ``date`` date): a lone
``frame=1d`` directory would otherwise be inferred as a double.

Write semantics reproduced:
- K1/K3 partitioned write (zstd; task-commit protocol replaces the
  reference's inter-process file locks, parquet_engine.py:97-99)
- K2 upsert-append with keep-last dedup on (symbol, ts_ns)
  (parquet_engine.py:127-182) via dynamic partition overwrite
- K7 retention pruning by partition date (cli/prune.py:17-36)

Scale: dynamic partition overwrite touches only the partitions present in
the incoming batch; a 100 TB lake ingesting one day rewrites one day.
"""

from __future__ import annotations

import datetime as dt
import functools
import operator
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from .functions import NS_PER_DAY, trading_date
from .schema import BARS_MIN_SCHEMA
from .session import tune


def with_partition_cols(bars: DataFrame, frame: str, ingest_id: str | None = None) -> DataFrame:
    out = (
        bars.withColumn("frame", F.lit(frame))
        .withColumn("date", trading_date("ts_ns"))
    )
    if ingest_id is not None:
        out = out.withColumn("ingest_id", F.lit(ingest_id))
    return out


def write_bars(
    bars: DataFrame,
    root: str,
    frame: str,
    mode: str = "append",
    ingest_id: str | None = None,
) -> None:
    """K1/K3 — land bars into the partitioned lake."""
    tune(bars.sparkSession)
    (
        with_partition_cols(bars, frame, ingest_id)
        .repartition("frame", "symbol", "date")  # one writer task per partition
        .sortWithinPartitions("ts_ns")  # reference sorts within file (engine:162-164)
        .write.mode(mode)
        .partitionBy("frame", "symbol", "date")
        .parquet(root)
    )


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


def upsert_bars(new_bars: DataFrame, root: str, frame: str, ingest_id: str | None = None) -> None:
    """K2/P7 — append with keep-last dedup on (symbol, ts_ns).

    The reference reads the partition file, concats, drops duplicate ts
    keeping the last, and rewrites (parquet_engine.py:127-182). Spark
    version: union the affected partitions with the new batch, keep the
    newest row per key, and dynamically overwrite ONLY those partitions.
    """
    spark = new_bars.sparkSession
    tune(spark)
    # Empty batch: a semantic no-op — and writing it would NOT be one. An
    # empty partitionBy write materializes a root containing only _SUCCESS,
    # and a schema-less root poisons every later scan/upsert with
    # UNABLE_TO_INFER_SCHEMA (the boundary-e2e empty-increment scenario).
    if not new_bars.head(1):
        return
    # _gen separates existing (0) from incoming (1); _ord is the within-batch
    # tie-breaker so duplicate (symbol, ts_ns) keys in ONE batch resolve like
    # the reference's drop_duplicates keep='last' (parquet_engine.py:162-164):
    # the later row in batch order wins. (Fully deterministic when the batch
    # plan is — a shuffled batch with intra-batch duplicate keys should be
    # pre-deduped with keep_last by the caller.)
    staged = (
        with_partition_cols(new_bars, frame, ingest_id)
        .withColumn("_gen", F.lit(1))
        .withColumn("_ord", F.monotonically_increasing_id())
    )
    keep_last = W.partitionBy("symbol", "ts_ns").orderBy(F.desc("_gen"), F.desc("_ord"))

    # Existence via the Hadoop FS API, not os.path — an hdfs://- or s3a://-
    # scheme root is invisible to the local filesystem, and taking the
    # append branch there would skip keep-last dedup on every call.
    fs, hroot, _ = _hadoop_fs(spark, root)

    def _first_write() -> None:
        # Same keep-last discipline as the merge path: intra-batch duplicate
        # (symbol, ts_ns) keys must resolve identically whether or not the
        # lake already existed.
        first = (
            staged.withColumn("_rn", F.row_number().over(keep_last))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_gen", "_ord")
        )
        (
            first.repartition("frame", "symbol", "date")
            .sortWithinPartitions("ts_ns")
            .write.mode("append")
            .partitionBy("frame", "symbol", "date")
            .parquet(root)
        )

    if not fs.exists(hroot):  # first write into an empty lake
        _first_write()
        return
    try:
        existing = spark.read.parquet(root).filter(F.col("frame") == frame)
    except AnalysisException as e:
        # The root EXISTS but holds no readable data (a pre-created empty
        # directory, or _SUCCESS debris from an interrupted job): that is a
        # first write, not a merge — found by the upsert property sweep.
        # Match by error CLASS (stable API since Spark 3.4), with the
        # message substring as fallback for builds predating error classes.
        try:
            klass = e.getErrorClass()
        except Exception:
            klass = None
        if klass == "UNABLE_TO_INFER_SCHEMA" or "UNABLE_TO_INFER_SCHEMA" in str(e):
            _first_write()
            return
        raise

    # Prune to the partitions the batch touches (broadcast semi-join on the
    # partition keys — tiny), so a one-day upsert reads one day.
    touched = staged.select("symbol", "date").distinct()
    existing = existing.join(F.broadcast(touched), ["symbol", "date"], "left_semi")
    # Symmetric schema union: a column present on either side survives with
    # nulls on the other — an upsert without ingest_id must not erase
    # previously written ingest_ids from rewritten partitions.
    for c in staged.columns:
        if c not in existing.columns:
            existing = existing.withColumn(c, F.lit(None).cast(staged.schema[c].dataType))
    for c in existing.columns:
        if c not in staged.columns:
            staged = staged.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
    existing = (
        existing.withColumn("_gen", F.lit(0))
        .withColumn("_ord", F.lit(0).cast("long"))
        .select(*staged.columns)
    )

    merged = (
        existing.unionByName(staged)
        .withColumn("_rn", F.row_number().over(keep_last))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_gen", "_ord")
    )
    (
        merged.repartition("frame", "symbol", "date")
        .sortWithinPartitions("ts_ns")
        .write.mode("overwrite")  # dynamic: only touched partitions rewritten
        .partitionBy("frame", "symbol", "date")
        .parquet(root)
    )


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
    # Inferred schema, so no written column is dropped; pinned before the
    # write overwrites its own input.
    slice_df = scan_partitions(spark, root, doomed).localCheckpoint(eager=True)
    (
        slice_df.repartition("frame", "symbol", "date")
        .sortWithinPartitions("ts_ns")
        .write.mode("overwrite")
        .partitionBy("frame", "symbol", "date")
        .parquet(root)
    )
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
