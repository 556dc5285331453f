"""The benchmark's workloads, each a closed loop with one client.

- ``ingest_daily``: a daily 1m increment through
  ``streaming.incremental.incremental_job`` with checkpoint, jobs and metrics
  stores on. The write path: validation, keep-last upsert, resampling of the
  touched slice and control-plane writes.
- ``query_mix``: point loads, range loads, SQL over the ``bars_*`` views and
  manifest-pruned scans over a lake written during set-up. The read path.

Each workload function takes a :class:`Run`, sets up ``SETUP_REPS`` times
into fresh directories, runs a fixed number of timed operations and checks
every operation's output outside the timed region. ``ingest_daily`` times an
increment after each of its last set-ups; ``query_mix`` queries the last
set-up's lake.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import random
import shutil
import statistics
import time

import pyarrow as pa

import gen
import verify

SETUP_REPS = 3

INGEST_SYMBOLS = 6
INGEST_INCREMENTS = 2  # timed, one after each of the last set-ups
INGEST_JOB = "ingest-stream"  # the increment resumes from this job's checkpoint
INGEST_FRAMES = ("5m", "1h", "1d")

QUERY_SYMBOLS = 3
QUERY_DAYS = 12
QUERY_FRAMES = ("5m", "1h", "1d")
QUERY_KINDS = ("point_load", "range_load", "sql_view", "pruned_scan")
QUERY_WARMUP_ROUNDS = 10
QUERY_ROUND_S = 1.2  # nominal seconds of one round on 4 cores: --seconds / this = rounds timed
RANGE_SYMBOLS = 2
RANGE_DAYS = 10  # two weeks of trading days
PRUNED_DAYS = 4
VIEW_DAYS = {"1h": 4, "1d": 12}

COLS = gen.COLUMNS


@dataclasses.dataclass
class Op:
    kind: str
    seconds: float  # wall time, less any extra work the tracer added
    bars: int  # bars the operation landed, returned or rebuilt
    problems: list = dataclasses.field(default_factory=list)


@dataclasses.dataclass
class Run:
    """What one workload run needs and what it measured."""

    spark: object
    mp: object  # namespace of the program's modules
    work: str
    seed: int
    seconds: float
    tracer: object = None  # spans.Tracer in a traced run
    setup_s: list = dataclasses.field(default_factory=list)
    ops: list = dataclasses.field(default_factory=list)
    checks: list = dataclasses.field(default_factory=list)  # problems of untimed ops
    storage: list = dataclasses.field(default_factory=list)  # per-op file counters
    detail: dict = dataclasses.field(default_factory=dict)
    sizes: dict = dataclasses.field(default_factory=dict)
    lake_bytes_per_input_byte: float = 0.0
    round_size: int = 1  # operations per round of the workload's mix

    def rounds(self) -> list[list[Op]]:
        k = self.round_size
        return [self.ops[i:i + k] for i in range(0, len(self.ops) - k + 1, k)]

    def op_s_p50(self) -> float:
        """Median over whole rounds of the mean seconds per operation. A plain
        median over a mix of kinds would fall between two kinds' latencies
        and jump from one to the other as their counts shift."""
        return statistics.median(statistics.fmean(o.seconds for o in r) for r in self.rounds())

    def bars_per_s(self) -> float:
        """Median over whole rounds of bars moved per second of op time."""
        return statistics.median(
            sum(o.bars for o in r) / sum(o.seconds for o in r) for r in self.rounds())

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def traced_setup(self):
        """Trace set-up calls (op -1) in a traced run."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return _tracing(self.tracer, -1)

    def timed_ops(self, next_op, check, watch_roots=(), control_root=None, round_size=1):
        """Run operations until ``next_op`` returns ``None``.

        ``next_op(i)`` returns ``(kind, fn)`` or ``None``; ``fn()`` returns
        ``(bars, output)``. ``check(i, output)`` returns a list of problems
        and runs untimed after each operation. In a traced run, file
        counters are taken between operations. The number of operations is
        the workload's to fix, never a deadline's, so a faster or slower
        machine times the same work. Operations of repeated calls add up in
        ``ops``.
        """
        self.round_size = round_size
        listing = self._listing(watch_roots) if self.tracer else None
        i = 0
        while (spec := next_op(i)) is not None:
            kind, fn = spec
            traced = self.tracer is not None
            op_id = len(self.ops)
            with _tracing(self.tracer, op_id) if traced else contextlib.nullcontext():
                t0 = time.perf_counter()
                bars, out = fn()
                wall = time.perf_counter() - t0
            extra = 0.0
            if traced:
                mine = [s for s in self.tracer.spans if s.op == op_id]
                self.tracer.collect_counts(mine)
                extra = sum(s.dur for s in mine if s.extra)
            op = Op(kind, wall - extra, bars)
            try:
                op.problems = check(i, out)
            except Exception as e:  # a check that cannot run is a failed op
                op.problems = [f"check raised {type(e).__name__}: {e}"]
            self.ops.append(op)
            if listing is not None:
                after = self._listing(watch_roots)
                row = _storage_delta(listing, after)
                if control_root:
                    row["control_table_files"] = len(self._listing([control_root]))
                self.storage.append(row)
                listing = after
            i += 1

    def _listing(self, roots) -> dict[str, int]:
        out = {}
        for root in roots:
            out.update(self.mp.lake.list_lake_files(self.spark, root))
        return out


@contextlib.contextmanager
def _tracing(tracer, op: int):
    tracer.op, tracer.enabled = op, True
    try:
        yield
    finally:
        tracer.enabled = False


def _storage_delta(before: dict, after: dict) -> dict:
    new = set(after) - set(before)
    per_part: dict[str, int] = {}
    for p in after:
        d = p.rsplit("/", 1)[0]
        per_part[d] = per_part.get(d, 0) + 1
    return {
        "files_written": len(new),
        "partitions_rewritten": len({p.rsplit("/", 1)[0] for p in new}),
        "max_files_per_partition": max(per_part.values(), default=0),
    }


def _lake_bytes(run: Run, *roots: str) -> int:
    return sum(run.mp.lake.storage_stats(run.spark, r)["total_bytes"] for r in roots)


# ---------------------------------------------------------------------------
# ingest_daily


def ingest_daily(run: Run) -> None:
    """Each of ``SETUP_REPS`` repetitions sets up into fresh directories; the
    last ``INGEST_INCREMENTS`` of them then time one increment there. The
    first set-up, the JVM's coldest, only warms the write path: an increment
    costs about four warm set-ups, and one after every set-up would make a
    run too long for the benchmark's time budget.

    Set-up stages two days of input and lands day 0 as history with
    ``write_bars`` (raw 1m and the aggregate frames), then saves the stream
    job's checkpoint at day 0's last bar, as day 0's ingest under the same
    job id would have left it. The increment is day 1, whose input re-sends
    the tail of day 0: the checkpoint drops that slice.

    Every increment does the same work from the same lake and control state,
    whatever ``seconds`` is; only the process's age differs (the first one
    is the first increment of its process, as a daily ingest process would
    run it). ``op_s_p50`` is their median."""
    mp, spark = run.mp, run.spark
    inc = mp.incremental
    symbols = gen.symbol_names(INGEST_SYMBOLS)
    run.sizes = {"symbols": INGEST_SYMBOLS, "bars_per_increment": gen.BARS_PER_DAY * INGEST_SYMBOLS,
                 "resent_bars": gen.RESEND_MINUTES * INGEST_SYMBOLS,
                 "frames": ["1m", *INGEST_FRAMES], "history_days": 1, "increments": INGEST_INCREMENTS}
    for rep in range(SETUP_REPS):
        d = run.fresh(f"ingest-{rep}")
        raw, agg, ctl = f"{d}/raw", f"{d}/agg", f"{d}/raw_ctl"
        os.makedirs(f"{d}/inputs")
        with run.traced_setup():
            t0 = time.perf_counter()
            history, today = gen.generate_days(run.seed, INGEST_SYMBOLS, 2)
            in_bytes = gen.write_parquet(history.clean, f"{d}/inputs/day-00.parquet")
            in_bytes += gen.write_parquet(today.bars, f"{d}/inputs/day-01.parquet")
            increment = spark.read.parquet(f"{d}/inputs/day-01.parquet")
            mp.lake.write_bars(spark.read.parquet(f"{d}/inputs/day-00.parquet"), raw, "1m",
                               ingest_id="history")
            src = mp.lake.read_bars(spark, raw, frame="1m").select(*COLS)
            for frame in INGEST_FRAMES:
                mp.lake.write_bars(mp.resample.resample(src, frame), agg, frame,
                                   ingest_id="history")
            checkpoints = inc.CheckpointStore(spark, f"{ctl}/checkpoints")
            checkpoints.save(INGEST_JOB, gen.last_ts(history.clean))
            run.setup_s.append(time.perf_counter() - t0)
        os.sync()  # the set-up's write-back would otherwise land in the timed increment
        if rep < SETUP_REPS - INGEST_INCREMENTS:
            continue
        jobs = mp.control.JobsStore(spark, f"{ctl}/jobs")
        metrics = mp.control.MetricsStore(spark, f"{ctl}/metrics")

        def run_increment():
            out = inc.incremental_job(
                spark, INGEST_JOB, increment, raw, agg, checkpoints,
                frames=list(INGEST_FRAMES), market_hours=False, jobs=jobs, metrics=metrics,
                provider="perfbench", feed="perfbench",
            )
            return today.n_valid, out

        def check(out) -> list[str]:
            lo = gen.day_start_ns(today.date)
            hi = lo + gen.NS_PER_DAY - 1
            n_landed = mp.loader.load_ohlcv(spark, raw, symbols, "1m", start=lo, end=hi).count()
            first = gen.day_start_ns(history.date)
            daily = mp.loader.load_ohlcv(spark, agg, symbols, "1d", start=first, end=hi).collect()
            units = jobs.load().filter(mp.F.col("job_id") == INGEST_JOB).select("symbol", "day").collect()
            return verify.check_increment(
                today, n_landed, out["errors"].count(), daily, {**history.daily, **today.daily},
                units, {(s, today.date) for s in symbols})

        run.timed_ops(lambda i: ("increment", run_increment) if i == 0 else None,
                      lambda i, out: check(out), watch_roots=(raw, agg), control_root=ctl)
    run.lake_bytes_per_input_byte = _lake_bytes(run, raw, agg) / in_bytes
    secs = [o.seconds for o in run.ops]
    run.detail.update({
        "increment_s_p50": (statistics.median(secs), "s", len(secs)),
        "ingest_bars_per_s": (run.bars_per_s(), "1/s", len(secs)),
        "lake_bytes_per_input_byte": (run.lake_bytes_per_input_byte, "ratio", 2),
    })


# ---------------------------------------------------------------------------
# query_mix


def _skewed(rng: random.Random, n: int, decay: float) -> int:
    """Index in [0, n) with weight decay**index (0 is the hottest)."""
    weights = [decay**k for k in range(n)]
    return rng.choices(range(n), weights)[0]


def query_plan(seed: int, symbols: list[str], day_starts: list[int], n: int) -> list[tuple]:
    """A seeded sequence of ``n`` query specs, kinds in round-robin.

    Symbols are skewed toward a seeded hot set, days toward the most recent.
    Every window has a fixed length inside the lake, so the work per kind
    does not depend on the seed.
    """
    rng = random.Random(seed)
    hot = symbols[:]
    rng.shuffle(hot)
    n_days = len(day_starts)

    def day_end(window: int) -> int:
        return n_days - 1 - _skewed(rng, n_days - window + 1, 0.8)

    def window(days: int) -> tuple[int, int]:
        last = day_end(days)
        return day_starts[last - days + 1], day_starts[last] + gen.NS_PER_DAY - 1

    plan = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "point_load":
            plan.append((kind, hot[_skewed(rng, len(hot), 0.7)], *window(1)))
        elif kind == "range_load":
            picked: list[str] = []
            while len(picked) < RANGE_SYMBOLS:
                s = hot[_skewed(rng, len(hot), 0.7)]
                if s not in picked:
                    picked.append(s)
            plan.append((kind, tuple(sorted(picked)), *window(RANGE_DAYS)))
        elif kind == "sql_view":
            frame = ("1h", "1d")[(i // len(QUERY_KINDS)) % 2]
            plan.append((kind, frame, *window(VIEW_DAYS[frame])))
        else:
            plan.append((kind, *window(PRUNED_DAYS)))
    return plan


def query_mix(run: Run) -> None:
    mp, spark = run.mp, run.spark
    F = mp.F
    days = None
    for rep in range(SETUP_REPS):
        d = run.fresh(f"query-{rep}")
        raw, agg, man_path = f"{d}/raw", f"{d}/agg", f"{d}/manifest"
        with run.traced_setup():
            t0 = time.perf_counter()
            days = gen.generate_days(run.seed, QUERY_SYMBOLS, QUERY_DAYS, violations=False)
            staged = f"{d}/input.parquet"
            in_bytes = gen.write_parquet(pa.concat_tables([x.bars for x in days]), staged)
            mp.lake.write_bars(spark.read.parquet(staged), raw, "1m")
            src = mp.lake.read_bars(spark, raw, frame="1m").select(*COLS)
            for frame in QUERY_FRAMES:
                mp.lake.write_bars(mp.resample.resample(src, frame), agg, frame)
            built = mp.manifest.build_manifest(spark, raw)
            with run.span("manifest.build_manifest.exec"):
                built.write.parquet(man_path)
            manifest = spark.read.parquet(man_path)
            mp.views.ensure_views(spark, agg)
            run.setup_s.append(time.perf_counter() - t0)
    os.sync()  # the set-up's write-back would otherwise land in the timed queries
    run.sizes = {"symbols": QUERY_SYMBOLS, "days": QUERY_DAYS,
                 "raw_partitions": QUERY_SYMBOLS * QUERY_DAYS,
                 "agg_files": QUERY_SYMBOLS * QUERY_DAYS * len(QUERY_FRAMES)}
    symbols = gen.symbol_names(QUERY_SYMBOLS)
    day_starts = [gen.day_start_ns(x.date) for x in days]

    def collect(df, name: str):
        with run.span(name):
            return df.collect()

    def execute(spec):
        kind = spec[0]
        if kind == "point_load":
            _, sym, lo, hi = spec
            rows = collect(mp.loader.load_ohlcv(spark, raw, sym, "1m", start=lo, end=hi),
                           "loader.load_ohlcv.collect")
            return len(rows), rows
        if kind == "range_load":
            _, syms, lo, hi = spec
            rows = collect(mp.loader.load_ohlcv(spark, agg, list(syms), "5m", start=lo, end=hi),
                           "loader.load_ohlcv.collect")
            return len(rows), rows
        if kind == "sql_view":
            _, frame, lo, hi = spec
            df = mp.views.query(
                spark,
                "SELECT symbol, count(*) AS n, sum(volume) AS v, max(high) AS h, min(low) AS l "
                f"FROM bars_{frame} WHERE ts_ns BETWEEN {lo} AND {hi} "
                "GROUP BY symbol ORDER BY symbol",
            )
            rows = collect(df, "plans.views.query.collect")
            return sum(r[1] for r in rows), rows
        _, lo, hi = spec
        df = (
            mp.manifest.read_pruned(spark, raw, manifest, lo, hi)
            .groupBy("symbol")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("volume").alias("v"),
                 F.max("high").alias("h"), F.min("low").alias("l"))
            .orderBy("symbol")
        )
        rows = collect(df, "manifest.read_pruned.collect")
        return sum(r[1] for r in rows), rows

    oracle = verify.Oracle()
    expected: dict[tuple, str] = {}

    def reference(spec) -> list[tuple]:
        kind = spec[0]
        if kind == "point_load":
            return oracle.load(raw, "1m", [spec[1]], spec[2], spec[3])
        if kind == "range_load":
            return oracle.load(agg, "5m", list(spec[1]), spec[2], spec[3])
        if kind == "sql_view":
            return oracle.summary(agg, spec[1], spec[2], spec[3])
        return oracle.summary(raw, "1m", spec[1], spec[2])

    def check(spec, rows) -> list[str]:
        if spec not in expected:
            expected[spec] = verify.digest(reference(spec))
        return [] if verify.digest(rows) == expected[spec] else [f"{spec}: result differs from DuckDB"]

    plan = query_plan(run.seed, symbols, day_starts, 100_000)
    # QUERY_WARMUP_ROUNDS rounds of queries warm the JVM; checked, not timed.
    # Latency keeps falling for a minute as the JIT compiles the read path,
    # so the warm-up is a fixed amount of work rather than a fixed time: a
    # slow machine then starts timing from the same compiled state.
    warmup = QUERY_WARMUP_ROUNDS * len(QUERY_KINDS)
    skipping: dict[tuple, dict] = {}  # (lo, hi) -> the program's own file counts

    def checked(spec, rows) -> list[str]:
        # Warm-up runs the same untimed checks as the timed region: a code
        # path first met between timed queries would be JIT-compiled during
        # the queries after it.
        if spec[0] == "pruned_scan" and spec not in skipping:
            skipping[spec] = mp.manifest.skipping_ratio(manifest, spec[1], spec[2])
        return check(spec, rows)

    for spec in plan[:warmup]:
        run.checks.append(checked(spec, execute(spec)[1]))
    timed = plan[warmup:]

    n_timed = len(QUERY_KINDS) * max(1, round(run.seconds / QUERY_ROUND_S))
    try:
        run.timed_ops(lambda i: (timed[i][0], lambda: execute(timed[i])) if i < n_timed else None,
                      lambda i, rows: checked(timed[i], rows), round_size=len(QUERY_KINDS))
    finally:
        oracle.close()
    run.lake_bytes_per_input_byte = _lake_bytes(run, raw, agg) / in_bytes
    files_total = next(iter(skipping.values()))["files_total"] if skipping else 0
    kept_ratio = [skipping[spec]["files_kept"] / skipping[spec]["files_total"]
                  for spec in timed[:n_timed] if spec[0] == "pruned_scan"]
    run.detail["pruned_files_kept_ratio"] = (statistics.fmean(kept_ratio) if kept_ratio else 1.0,
                                             "ratio", files_total)
    secs = sorted(o.seconds for o in run.ops)
    p90 = statistics.quantiles(secs, n=10)[-1] if len(secs) >= 2 else secs[-1]
    run.detail.update({
        "query_s_p50": (statistics.median(secs), "s", len(secs)),
        "query_s_p90": (p90, "s", len(secs)),
        "queries_per_s": (len(secs) / sum(secs), "1/s", len(secs)),
    })
    for kind in QUERY_KINDS[:3]:
        ks = [o.seconds for o in run.ops if o.kind == kind]
        if ks:
            run.detail[f"{kind}_s_p50"] = (statistics.median(ks), "s", len(ks))
    run.detail["lake_bytes_per_input_byte"] = (run.lake_bytes_per_input_byte, "ratio", 1)


WORKLOADS = {
    "ingest_daily": ingest_daily,
    "query_mix": query_mix,
}
