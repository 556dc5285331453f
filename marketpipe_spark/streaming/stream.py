"""Structured Streaming ingest leg.

The reference is batch-incremental only (SURVEY §2.9); this is the optional
real-time analog it anticipates: file-source ``readStream`` over landing
parquet, event-time watermarking for late bars, windowed OHLCV aggregation,
and a ``foreachBatch`` upsert into the same partitioned lake the batch path
uses (so both legs share storage + dedup semantics). ``Trigger.AvailableNow``
gives checkpointed catch-up runs — the streaming twin of the reference's
per-job checkpoint resume (ingestion/application/services.py:470-553).

Scale notes: the stateful windowed aggregation is keyed by (symbol, window)
— state partitions by key across executors; the watermark bounds state size
(windows older than watermark are evicted after emission). maxFilesPerTrigger
bounds per-microbatch work on backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import BARS_MIN_SCHEMA
from ..session import tune


def read_bar_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of 1m bars from a landing directory."""
    tune(spark)
    reader = spark.readStream.schema(BARS_MIN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(landing_dir)


def windowed_ohlcv(
    bar_stream: DataFrame, minutes: int = 5, watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time windowed OHLCV resample with late-data watermarking.

    Same semantics as the batch resample (A1): open/close by min/max event
    time in the window, high/low/volume as max/min/sum. Late bars within the
    watermark update their window; older ones are dropped.
    """
    with_ts = bar_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    win = F.window("event_time", f"{minutes} minutes")
    out = (
        with_ts.withWatermark("event_time", watermark)
        .groupBy(F.col("symbol"), win.alias("w"))
        .agg(
            F.min_by("open", "ts_ns").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "ts_ns").alias("close"),
            F.sum("volume").alias("volume"),
        )
    )
    return out.select(
        "symbol",
        (F.unix_micros(F.col("w.start")) * 1000).alias("ts_ns"),
        "open", "high", "low", "close", "volume",
    )


def session_stats_stream(
    bar_stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming sessionization via the built-in ``session_window``: a
    symbol's session stays open while bars keep arriving within ``gap``; the
    watermark closes and emits sessions once event time passes. State is one
    open window per active symbol — the streaming twin of the batch
    ``operators.sessions.sessionize`` (which callers use for reprocessing)."""
    with_ts = bar_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    return (
        with_ts.withWatermark("event_time", watermark)
        .groupBy(F.col("symbol"), F.session_window("event_time", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.sum("volume").alias("volume"),
            F.min_by("open", "ts_ns").alias("open"),
            F.max_by("close", "ts_ns").alias("close"),
        )
        .select(
            "symbol",
            (F.unix_micros(F.col("w.start")) * 1000).alias("session_start_ns"),
            (F.unix_micros(F.col("w.end")) * 1000).alias("session_end_ns"),
            "n_bars", "volume", "open", "close",
        )
    )


def highwater_dedup_stream(bar_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-symbol high-water-mark filter. Rows at or below the symbol's maximum
    already-processed ``ts_ns`` are dropped as duplicates/replays; within a
    microbatch, duplicate ts keep the last row (reference keep='last',
    parquet_engine.py:162-164). The streaming twin of ``incremental_job``'s
    checkpoint resume filter (services.py:470-491).

    State is ONE long per symbol — bounded by symbol cardinality, partitioned
    across executors by the group key, checkpointed with the query. This is
    the template for any custom stateful operator Spark lacks: Arrow-batched
    pandas per group + explicit state schema.

    A group's rows arrive as MULTIPLE Arrow chunks on large microbatches and
    chunk boundaries carry no ordering guarantee, so the batch is folded
    chunk-by-chunk into a running keep-last table and BOTH the duplicate
    collapse and the high-water filter apply only after the last chunk:
    per-chunk filtering would treat a later chunk's smaller-but-new
    timestamps as replays (dropping real rows) and would keep the FIRST
    copy of a duplicate that spans chunks instead of the last. The fold
    keeps peak memory at distinct-timestamps + one chunk, not the whole
    microbatch (a backfill's hot symbol can be millions of rows).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup(key, pdfs, state):
        max_ns = state.get[0] if state.exists else -1
        best = None
        for pdf in pdfs:
            both = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            # Stable sort keeps arrival order within equal ts; keep='last'
            # therefore keeps the latest-arriving copy, matching the
            # reference's keep-last semantics across chunk boundaries.
            best = both.sort_values("ts_ns", kind="stable").drop_duplicates(
                "ts_ns", keep="last"
            )
        fresh = best[best["ts_ns"] > max_ns] if best is not None else None
        if fresh is not None and len(fresh):
            state.update((int(fresh["ts_ns"].max()),))
            yield fresh
        else:
            state.update((max_ns,))

    return bar_stream.groupBy("symbol").applyInPandasWithState(
        dedup,
        outputStructType=BARS_MIN_SCHEMA,
        stateStructType="max_ns long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    trade_stream: DataFrame,
    quote_stream: DataFrame,
    tolerance: str = "5 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the streaming twin of
    ``operators/asof.interval_join``: each trade-side row joins every
    quote-side row for the same symbol whose event time falls in
    ``[trade_time − tolerance, trade_time]``.

    Both inputs are bar-shaped streams (``symbol``, ``ts_ns``, prices,
    volume); quote-side columns come back prefixed ``q_``. Spark requires
    watermarks on BOTH sides plus the time-range predicate so the join state
    store can evict rows once they can no longer match (state per side is
    bounded by ``watermark + tolerance`` of event time per symbol —
    scale-safe at any throughput). ``how='leftOuter'`` emits unmatched
    trades once the watermark passes (null quote columns).
    """
    t = trade_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    ).withWatermark("event_time", watermark)
    q = quote_stream.select(
        [F.col(c).alias(f"q_{c}") for c in quote_stream.columns]
    ).withColumn(
        "q_event_time", F.timestamp_micros(F.expr("q_ts_ns div 1000"))
    ).withWatermark("q_event_time", watermark)
    cond = (
        (F.col("symbol") == F.col("q_symbol"))
        & (F.col("q_event_time") >= F.col("event_time") - F.expr(f"INTERVAL {tolerance}"))
        & (F.col("q_event_time") <= F.col("event_time"))
    )
    return t.join(q, cond, how)


def stream_to_lake(
    bar_stream: DataFrame,
    root: str,
    frame: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """foreachBatch upsert into the partitioned lake — each microbatch goes
    through the same keep-last dedup as the batch path (K2), so replays and
    late duplicates are idempotent. Returns the started StreamingQuery."""
    from ..lake import upsert_bars

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # An empty micro-batch is a no-op inside upsert_bars.
        upsert_bars(batch_df, root, frame, ingest_id=f"stream-{batch_id}")

    writer = bar_stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_available_now(query) -> None:
    """Block until an AvailableNow query drains its backlog and stops."""
    query.awaitTermination()


_MEMORY_SINK_SEQ = 0


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    timeout_s: float = 900.0,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain a bounded stream into a memory sink and return the result table.

    Runs ``stream_df`` with ``Trigger.AvailableNow`` into an in-memory table
    and blocks until the backlog (plus the trailing no-data microbatch that
    advances the watermark and flushes closed append-mode state) drains.
    The returned DataFrame is a plain batch scan of the sink table, so the
    same streaming plan becomes oracle-comparable against batch SQL.

    The sink table and checkpoint are per-invocation (monotonic suffix):
    concurrent or repeated calls in one session never collide. Memory-sink
    collection is driver-bounded BY DESIGN — this is the verification
    harness for streaming semantics, not a production sink (production
    paths use :func:`stream_to_lake`'s foreachBatch upsert).

    ``state_partitions`` sizes the STATE STORE partition count for this
    drain (streaming has no AQE: the count is frozen from
    ``spark.sql.shuffle.partitions`` at first commit, and every stateful
    operator pays a per-partition per-batch commit/maintenance fixed cost —
    a stream-stream join keeps four stores per partition). State partition
    count must be sized to expected state volume, and for THIS harness the
    state is bounded by the verification input by construction, so the
    default is deliberately small (``MP_STREAM_VERIFY_STATE_PARTITIONS``,
    default 8). Measured on the attribution join at sf0.1 (~40k state
    rows): 32 partitions -> 17.8-36.3 s per drain, 8 -> 4.2-8.4 s,
    2 -> 2.4-2.8 s; result rows identical at every count (hash-partitioned
    state cannot change values). Production streams (stream_to_lake) do
    not route through here and keep the session's own sizing.
    """
    global _MEMORY_SINK_SEQ
    import os
    import tempfile

    _MEMORY_SINK_SEQ += 1
    qname = f"{name}_{_MEMORY_SINK_SEQ}"
    ckpt = tempfile.mkdtemp(prefix=f"mp_stream_{name}_")
    spark = stream_df.sparkSession
    if state_partitions is None:
        state_partitions = int(
            os.environ.get("MP_STREAM_VERIFY_STATE_PARTITIONS", "8")
        )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # Bounded wait: an AvailableNow drain over healthy input finishes in
        # seconds; an unbounded awaitTermination would let a wedged source
        # hang the caller (and the correctness driver) forever.
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"stream {qname} did not drain within {timeout_s}s")
    finally:
        # The stream captures the value at start; restore the session conf
        # for whatever batch work follows (the plan-cache fingerprint keys
        # on it, so a stale value would only cost a rebuild — but don't).
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return stream_df.sparkSession.table(qname)


def dedup_within_watermark(bar_stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exact streaming dedup on (symbol, ts_ns) with watermark-bounded state.

    The built-in twin of :func:`highwater_dedup_stream` for the case where
    bars may arrive out of order WITHIN the watermark (a high-water filter
    would wrongly drop them): ``dropDuplicatesWithinWatermark`` keeps the
    first row per key and evicts key state once event time passes the
    watermark — state is bounded by (arrival rate × watermark), independent
    of stream length. Reference semantics: duplicate-ts rejection, P8
    (validation/validators.py timestamp-uniqueness rule).
    """
    with_ts = bar_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    return (
        with_ts.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["symbol", "ts_ns"])
        .drop("event_time")
    )


def anomaly_stream(bar_stream: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Custom stateful streaming operator: per-symbol extreme-movement
    detector — emits bars whose close moved more than ``threshold``
    (fractional) from the PREVIOUS bar's close, across microbatch
    boundaries. The streaming twin of batch validation rule 7
    (extreme_movement; reference: validation/validators.py price-movement
    rule).

    State is one (last_ts_ns, last_close) pair per symbol — bounded by
    symbol cardinality, partitioned by the group key. A group's rows arrive
    as MULTIPLE Arrow chunks when the microbatch is large (governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``) and chunk boundaries
    carry no ordering guarantee, so the chunks are concatenated and sorted
    ONCE before the stateful scan — sorting each chunk independently would
    compare non-adjacent bars on any backfill-sized batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "symbol string, ts_ns long, close double, prev_close double, move_frac double"
    )

    def detect(key, pdfs, state):
        (symbol,) = key
        last_ts, last_close = state.get if state.exists else (-1, float("nan"))
        outs = []
        whole = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_ns", kind="stable")
        for ts_ns, close in zip(whole["ts_ns"], whole["close"]):
            if last_ts >= 0 and last_close:
                move = abs(close - last_close) / abs(last_close)
                if move > threshold:
                    outs.append((symbol, int(ts_ns), float(close), float(last_close), move))
            last_ts, last_close = int(ts_ns), float(close)
        state.update((last_ts, last_close))
        if outs:
            yield pd.DataFrame(
                outs, columns=["symbol", "ts_ns", "close", "prev_close", "move_frac"]
            )

    return bar_stream.groupBy("symbol").applyInPandasWithState(
        detect,
        outputStructType=out_schema,
        stateStructType="last_ts_ns long, last_close double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def silence_alert_stream(bar_stream: DataFrame, silence_ms: int = 300_000) -> DataFrame:
    """Timer-based stale-symbol detector on the next-generation
    ``transformWithStateInPandas`` state API: emits an alert when a symbol
    stops producing bars for ``silence_ms`` of EVENT time — the streaming
    twin of batch gap detection (J3, reference: validation gap scan) and a
    shape the older ``applyInPandasWithState`` cannot express (detecting
    the ABSENCE of input requires timers; a group with no rows is never
    invoked).

    Per symbol: state is one long (last seen ts_ns) plus one event-time
    timer re-armed at ``last_event + silence_ms``; when the watermark
    passes an expiry with no newer bar, the expired timer fires and emits
    ``(symbol, last_ts_ns, alert_time_ms)``. State and timer count are
    bounded by symbol cardinality, partitioned by the group key,
    checkpointed with the query.

    Environment note: Spark's transformWithState Python runner requires
    ``google.protobuf`` (shipped with standard ``pyspark[connect]``
    installs); on minimal images without it the query fails at start with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE — the older
    :func:`highwater_dedup_stream` / :func:`anomaly_stream`
    (``applyInPandasWithState``) have no such dependency.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SilenceDetector(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.last = handle.getValueState("last", "last_ts_ns long")

        def handleInputRows(self, key, rows, timer_values):
            max_ns = None
            for pdf in rows:
                m = int(pdf["ts_ns"].max())
                max_ns = m if max_ns is None else max(max_ns, m)
            if max_ns is not None:
                prev = self.last.get()[0] if self.last.exists() else -1
                if max_ns > prev:
                    self.last.update((max_ns,))
                    for expiry in list(self.handle.listTimers()):
                        self.handle.deleteTimer(expiry)
                    self.handle.registerTimer(max_ns // 1_000_000 + silence_ms)
            return iter(())

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            (symbol,) = key
            last_ns = self.last.get()[0] if self.last.exists() else -1
            yield pd.DataFrame(
                {
                    "symbol": [symbol],
                    "last_ts_ns": [last_ns],
                    "alert_time_ms": [expired_timer_info.getExpiryTimeInMs()],
                }
            )

    with_ts = bar_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    ).withWatermark("event_time", "0 seconds")
    return with_ts.groupBy("symbol").transformWithStateInPandas(
        SilenceDetector(),
        outputStructType="symbol string, last_ts_ns long, alert_time_ms long",
        outputMode="Append",
        timeMode="EventTime",
    )


def dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    **minhash_kwargs,
):
    """Continuous corpus dedup: every micro-batch of documents is scored
    against the persistent MinHash signature store
    (``dedup.minhash_incremental_pairs``), near-dup pairs land under
    ``pairs_path``, and the store is atomically replaced — the streaming
    form of the "dedup today's crawl against everything so far" loop.

    Crash/replay safety, leg by leg (foreachBatch is at-least-once):

    - pairs are written to ``pairs_path/batch=<id>`` with overwrite, so a
      replayed batch rewrites its own partition instead of appending
      duplicates;
    - the store swap is a two-rename pattern (materialize the new
      generation beside the old, rename old → .old, tmp → live) —
      a crash mid-swap leaves ``.old`` to recover from, and
      ``minhash_incremental_pairs`` is retry-idempotent against a store
      that already absorbed the batch (batch ids are anti-joined out
      before the union).

    The store scales with the corpus, so the new generation keeps its
    natural partitioning (no coalesce(1)).
    Returns the started StreamingQuery.
    """
    from ..lake import _hadoop_fs
    from ..operators.dedup import minhash_incremental_pairs

    def _load_store(spark) -> DataFrame:
        for p in (store_path, store_path + ".old"):
            fs, hpath, _ = _hadoop_fs(spark, p)
            if fs.exists(hpath):
                return spark.read.parquet(p)
        return spark.createDataFrame([], f"{id_col} long, sig array<bigint>")

    def _swap_store(spark, updated: DataFrame) -> None:
        tmp, old = store_path + ".tmp", store_path + ".old"
        updated.write.mode("overwrite").parquet(tmp)
        fs, hpath, jvm = _hadoop_fs(spark, store_path)
        hadoop_path = jvm.org.apache.hadoop.fs.Path
        htmp, hold = hadoop_path(tmp), hadoop_path(old)
        fs.delete(hold, True)
        if fs.exists(hpath):
            fs.rename(hpath, hold)
        fs.rename(htmp, hpath)
        fs.delete(hold, True)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        pairs, updated = minhash_incremental_pairs(
            batch_df, _load_store(spark), id_col=id_col, text_col=text_col, **minhash_kwargs
        )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={batch_id}")
        _swap_store(spark, updated)

    writer = docs_stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sliding_volume(
    bar_stream: DataFrame,
    window_minutes: int = 15,
    slide_minutes: int = 5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time SLIDING-window volume profile — the overlapping-window
    shape the tumbling entries cannot express: each bar contributes to
    ``window/slide`` windows (Spark expands the membership internally;
    state per key is windows × symbols, watermark-evicted).

    Returns ``(symbol, ts_ns = window start, volume, n_bars)``; window
    starts are epoch-aligned multiples of ``slide`` (Spark's alignment
    contract, replicated literally by the batch oracle's k-shift
    expansion).
    """
    with_ts = bar_stream.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )
    win = F.window(
        "event_time", f"{window_minutes} minutes", f"{slide_minutes} minutes"
    )
    out = (
        with_ts.withWatermark("event_time", watermark)
        .groupBy(F.col("symbol"), win.alias("w"))
        .agg(
            F.sum("volume").cast("long").alias("volume"),
            F.count(F.lit(1)).cast("long").alias("n_bars"),
        )
    )
    return out.select(
        "symbol",
        (F.unix_micros(F.col("w.start")) * 1000).alias("ts_ns"),
        "volume",
        "n_bars",
    )
