"""Benchmark of the MarketPipe pipeline on Spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py): ``ingest_daily`` and ``query_mix``. The run
starts one local Spark session with ``local[<cpus>]``, builds its inputs from
``--seed``, sets up, measures, checks every output, and prints two JSON
lines: a detail line with the workload's own metrics (named after the
operation, e.g. ``increment_s_p50``, ``query_s_p90``), each with its sample
count, plus sizes and environment; then the result line with ``correct``,
``attempted``, ``failed`` and ``metrics``.

``ingest_daily`` times two increments per run, one after each of the last
two set-ups. ``query_mix`` times whole rounds of its four query kinds, as
many as ``--seconds`` divided by the nominal length of a round; the count
never depends on how fast the machine is, so every run of a seed times the
same work.

The result line carries metrics every workload has, so each can be compared
on each workload:

- ``setup_s``: median of three set-ups into fresh directories.
- ``op_s_p50``: median over rounds of the workload's mix of the mean latency
  of one operation (one increment; one query of each kind).
- ``bars_per_s``: bars landed, or returned (or aggregated over), per second
  of operation time; the median over the same rounds.
- ``lake_bytes_per_input_byte``: bytes of the lake the workload wrote per
  byte of staged input Parquet.

The detail line also gives ``peak_rss_mb``, the high-water resident memory of
the driver JVM. It moves by more than a tenth between runs of the same code
(heap growth follows garbage-collection timing), so it is not a result
metric.

With ``--trace 1`` the result line carries the per-layer metrics instead
(see ``per_layer_metrics``). Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical RAM, at most 4 GiB (the program's default of
    16g exceeds small machines)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, total_kb // 1024 // 4)}m"


def load_program():
    """Import the program's modules; fails outside a checkout of the repo."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from marketpipe_spark import control, lake, loader, manifest, session
    from marketpipe_spark.operators import resample, validation
    from marketpipe_spark.plans import views
    from marketpipe_spark.streaming import incremental

    return types.SimpleNamespace(
        F=F, control=control, lake=lake, loader=loader, manifest=manifest, session=session,
        resample=resample, validation=validation, views=views, incremental=incremental,
    )


def start_spark(mp, work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM spark-submit starts, the launcher included, keeps its
        # temporary files inside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    t0 = time.perf_counter()
    spark = mp.session.get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def environment(spark, args, startup_s: float) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "python": platform.python_version(),
        "cpus": cpu_count(),
        "seed": args.seed,
        "seconds": args.seconds,
        "spark_startup_s": startup_s,
    }


def end_to_end_metrics(run) -> dict:
    return {
        "setup_s": (statistics.median(run.setup_s), "s"),
        "op_s_p50": (run.op_s_p50(), "s"),
        "bars_per_s": (run.bars_per_s(), "1/s"),
        "lake_bytes_per_input_byte": (run.lake_bytes_per_input_byte, "ratio"),
    }


#: Per-layer metrics of the timed operations: ``(span name or names, field)``.
#: ``calls`` and ``jobs`` (Spark jobs launched inside the span) are per
#: operation. ``self`` (self time) and ``dur`` (inclusive time) are a share of
#: the operations' wall time: a layer idle on a workload then reads 0 as a
#: share, and the seconds per layer and operation are in the detail line.
#: ``lake.write_bars`` and ``manifest.build_manifest`` run only in set-up on
#: both workloads, so their per-op shares read 0; their ``*.setup_share``
#: below carries them.
PER_OP = {
    "lake.upsert_bars.calls": ("lake.upsert_bars", "calls"),
    "lake.upsert_bars.self_share": ("lake.upsert_bars", "self"),
    "lake.upsert_bars.spark_jobs": ("lake.upsert_bars", "jobs"),
    "lake.write_bars.self_share": ("lake.write_bars", "self"),
    "lake.read_bars.calls": ("lake.read_bars", "calls"),
    "lake.read_bars.self_share": ("lake.read_bars", "self"),
    "control.MetricsStore.record.calls": ("control.MetricsStore.record", "calls"),
    "control.MetricsStore.record.self_share": ("control.MetricsStore.record", "self"),
    "control.JobsStore.create.self_share": ("control.JobsStore.create", "self"),
    "control.JobsStore.start.self_share": ("control.JobsStore.start", "self"),
    "control.JobsStore.complete.self_share": ("control.JobsStore.complete", "self"),
    "streaming.incremental.CheckpointStore.load.self_share":
        ("streaming.incremental.CheckpointStore.load", "self"),
    "streaming.incremental.CheckpointStore.save.self_share":
        ("streaming.incremental.CheckpointStore.save", "self"),
    "streaming.incremental.incremental_job.self_share":
        ("streaming.incremental.incremental_job", "self"),
    "operators.validation.split_valid.self_share": ("operators.validation.split_valid", "self"),
    "operators.validation.validate_bars.exec_share":
        ("operators.validation.validate_bars.exec", "dur"),
    "operators.resample.resample.exec_share": ("operators.resample.resample.exec", "dur"),
    "loader.load_ohlcv.build_share": ("loader.load_ohlcv", "dur"),
    "loader.load_ohlcv.collect_share": ("loader.load_ohlcv.collect", "dur"),
    "loader.load_ohlcv.spark_jobs": (("loader.load_ohlcv", "loader.load_ohlcv.collect"), "jobs"),
    "plans.views.query.build_share": ("plans.views.query", "dur"),
    "plans.views.query.collect_share": ("plans.views.query.collect", "dur"),
    "manifest.build_manifest.share": (("manifest.build_manifest", "manifest.build_manifest.exec"), "dur"),
    "manifest.read_pruned.share": ("manifest.read_pruned", "dur"),
    "session.tune.calls": ("session.tune", "calls"),
    "session.tune.share": ("session.tune", "dur"),
}

#: Inclusive time of a layer during set-up, as a share of set-up wall time.
SETUP_SHARE = {
    "plans.views.ensure_views.setup_share": ("plans.views.ensure_views",),
    "manifest.build_manifest.setup_share": ("manifest.build_manifest", "manifest.build_manifest.exec"),
    "lake.write_bars.setup_share": ("lake.write_bars",),
}

#: File counters taken between operations: per-op means, or the last value.
STORAGE = {
    "lake.files_written": ("files_written", "mean"),
    "lake.partitions_rewritten": ("partitions_rewritten", "mean"),
    "lake.max_files_per_partition": ("max_files_per_partition", "last"),
    "control.table_files": ("control_table_files", "last"),
}


def per_layer_metrics(run, span_cost_s: float) -> dict:
    from spans import self_times, subtree

    spans = [s for s in run.tracer.spans if s.t1]
    selfs = self_times(spans)
    n = len(run.ops)
    op_wall = sum(o.seconds for o in run.ops)
    op_spans = [s for s in spans if s.op >= 0]
    setup_spans = [s for s in spans if s.op == -1]
    out: dict[str, tuple] = {}

    for metric, (name, field) in PER_OP.items():
        names = name if isinstance(name, tuple) else (name,)
        mine = [s for s in op_spans if s.name in names]
        if field == "calls":
            out[metric] = (len(mine) / n, "count")
        elif field == "jobs":
            jobs = sum(c.jobs for s in mine for c in subtree(spans, s.sid) if not c.extra)
            out[metric] = (jobs / n, "count")
        elif field == "self":
            out[metric] = (sum(selfs[s.sid] for s in mine) / op_wall, "ratio")
        else:
            out[metric] = (sum(s.dur for s in mine) / op_wall, "ratio")
    setup_wall = sum(run.setup_s)
    for metric, names in SETUP_SHARE.items():
        out[metric] = (sum(s.dur for s in setup_spans if s.name in names) / setup_wall, "ratio")

    real = [s for s in op_spans if not s.extra]
    out["spark.jobs_per_op"] = (sum(s.jobs for s in real) / n, "count")
    out["spark.stages_per_op"] = (sum(s.stages for s in real) / n, "count")
    out["spark.tasks_per_op"] = (sum(s.tasks for s in real) / n, "count")

    for metric, (key, how) in STORAGE.items():
        vals = [row.get(key, 0) for row in run.storage] or [0]
        out[metric] = (statistics.fmean(vals) if how == "mean" else float(vals[-1]), "count")
    kept, _, base = run.detail.get("pruned_files_kept_ratio", (0.0, "ratio", 0))
    out["manifest.read_pruned.files_kept_ratio"] = (kept, "ratio")
    out["manifest.read_pruned.files_total"] = (float(base), "count")

    out["trace.op_s_p50"] = (run.op_s_p50(), "s")
    out["trace.overhead_s"] = (len(real) / n * span_cost_s, "s")
    out["trace.extra_exec_share"] = (sum(s.dur for s in op_spans if s.extra) / op_wall, "ratio")
    attributed = sum(selfs[s.sid] for s in real)
    out["trace.unattributed_share"] = (1 - attributed / op_wall, "ratio")
    return out


def per_op_trace(run) -> list[dict]:
    """Per traced operation: wall time and the self time of each layer, so
    growth with history (e.g. control-table cost) is visible."""
    from spans import self_times

    spans = [s for s in run.tracer.spans if s.t1 and s.op >= 0]
    selfs = self_times(spans)
    rows = []
    for i, op in enumerate(run.ops):
        layers: dict[str, float] = {}
        for s in spans:
            if s.op == i and not s.extra:
                layers[s.name] = layers.get(s.name, 0.0) + selfs[s.sid]
        row = {"op": i, "wall_s": op.seconds, "self_s": layers,
               "unattributed_s": op.seconds - sum(layers.values())}
        if i < len(run.storage):
            row["storage"] = run.storage[i]
        rows.append(row)
    return rows


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds through the cleanup below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    mp = load_program()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, startup_s = start_spark(mp, work)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, mp, work, args.seed, args.seconds, tracer)
        workloads.WORKLOADS[args.workload](run)
        peak = jvm_peak_rss_mb(spark)
        if tracer:
            tracer.uninstall()
        problems = [p for c in run.checks for p in c] + [p for o in run.ops for p in o.problems]
        attempted = len(run.checks) + len(run.ops)
        failed = sum(1 for c in run.checks if c) + sum(1 for o in run.ops if o.problems)
        e2e = end_to_end_metrics(run)
        detail = {
            "workload": args.workload,
            "environment": environment(spark, args, startup_s),
            "sizes": run.sizes,
            "ops": len(run.ops),
            "metrics": {
                **{k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in run.detail.items()},
                "setup_s": {"value": e2e["setup_s"][0], "unit": "s", "n": len(run.setup_s)},
                "peak_rss_mb": {"value": peak, "unit": "MB", "n": 1},
                "op_failure_ratio": {"value": failed / attempted, "unit": "ratio", "n": attempted},
            },
            "problems": problems[:20],
        }
        if tracer:
            detail["per_op_trace"] = per_op_trace(run)
        metrics = per_layer_metrics(run, tracer.span_cost()) if tracer else e2e
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
