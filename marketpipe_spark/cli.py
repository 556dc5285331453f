"""Command-line surface — the reference's primary UX
(src/marketpipe/cli/__init__.py: query, ingest-ohlcv, aggregate, validate,
prune, jobs, symbols, metrics) as thin argparse shims over the library
APIs. Each command builds one SparkSession, runs existing functions, prints
the reference's render shapes (cli/query.py:42-65 table/CSV).

Run as ``python -m marketpipe_spark <command> ...``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(f"marketpipe-{app}")


def cmd_query(args) -> int:
    from .plans.views import ensure_views, query, render

    spark = _spark("query")
    ensure_views(spark, args.agg_root)
    df = query(spark, args.sql)
    if getattr(args, "explain", False):
        # Physical plan without executing — the operator's pushdown /
        # broadcast / codegen story is part of the supported surface.
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        ))
        return 0
    out = render(df, limit=args.limit, fmt="csv" if args.csv else "markdown")
    if not out.strip():
        print("Query returned no results")
    else:
        print(out)
    return 0


#: Lake root ``ingest-ohlcv`` writes when neither --output nor a config names one.
DEFAULT_RAW_ROOT = "data/raw"


def control_db(lake_root: str) -> str:
    """The SQLite file holding a lake's jobs, metrics and checkpoints. It
    lives BESIDE the lake root (``<lake>_ctl/``): inside it, it would
    confuse partition discovery."""
    return f"{lake_root.rstrip('/')}_ctl/control.db"


def _control_stores(spark, lake_root: str) -> dict:
    from .control import CheckpointStore, JobsStore, MetricsStore

    db = control_db(lake_root)
    return {"checkpoints": CheckpointStore(spark, db), "jobs": JobsStore(spark, db),
            "metrics": MetricsStore(spark, db)}


def cmd_ingest(args) -> int:
    from .sources.fake import fake_bars
    from .streaming.incremental import incremental_job

    # config/flag merge (reference cli/ohlcv_ingest.py:459-520): a YAML file
    # supplies the job; explicit flags override it field by field. Without
    # --config, --symbols and --start are required.
    if args.config:
        from .config import ConfigVersionError, load_config

        try:
            cfg = load_config(args.config).merge_overrides(
                symbols=args.symbols.split(",") if args.symbols else None,
                start=args.start and args.start[:10],
                provider=args.provider,
                feed_type=args.feed,
                output_path=args.output,
            )
        except (ConfigVersionError, FileNotFoundError, ValueError) as e:
            print(f"config error: {e}", file=sys.stderr)
            return 1
        symbols = cfg.symbols
        provider, feed, output = cfg.provider, cfg.feed_type, cfg.output_path
        start_iso = args.start or cfg.start.isoformat()
        # reference ingests per trading day; the fake generator takes a bar
        # count, so a date span maps to 390 regular-session minutes per day
        n_bars = args.bars or 390 * max(1, len(cfg.trading_days))
    else:
        if not args.symbols or not args.start:
            print("either provide --config FILE or both --symbols and --start", file=sys.stderr)
            return 1
        symbols = [s.strip().upper() for s in args.symbols.split(",")]
        provider = args.provider or "fake"
        feed = args.feed or "iex"
        output = args.output or DEFAULT_RAW_ROOT
        start_iso = args.start
        n_bars = args.bars or 390
    if provider != "fake":
        print(
            f"provider {provider!r} needs live HTTP (unavailable here); use provider 'fake'",
            file=sys.stderr,
        )
        return 2
    spark = _spark("ingest")
    start_ns = int(dt.datetime.fromisoformat(start_iso).replace(tzinfo=dt.timezone.utc).timestamp() * 1e9)
    bars = fake_bars(spark, symbols, start_ns, n_bars)
    job_id = args.job_id or f"ingest-{start_iso}"
    outputs = incremental_job(
        spark, job_id, bars, output, args.agg_root,
        **_control_stores(spark, output), provider="fake", feed=feed, market_hours=False,
    )
    n_err = outputs["errors"].count()
    print(f"job {job_id}: ingested {n_bars} bars x {len(symbols)} symbols, "
          f"{n_err} validation errors, frames {sorted(set(outputs) - {'errors'})}")
    return 0


def cmd_backfill(args) -> int:
    from .sources.fake import fake_minute_bars_for_day
    from .streaming.incremental import backfill_gaps

    spark = _spark("backfill")
    fetch = lambda syms, d: fake_minute_bars_for_day(
        spark, syms,
        int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1e9),
    )
    filled = backfill_gaps(
        spark, args.output, args.agg_root,
        dt.date.fromisoformat(args.start), dt.date.fromisoformat(args.end),
        fetch_day=fetch, **_control_stores(spark, args.output), market_hours=False,
    )
    if not filled:
        print("no gaps found")
    for d, syms in sorted(filled.items()):
        print(f"backfilled {d}: {','.join(syms)}")
    return 0


def cmd_aggregate(args) -> int:
    from .lake import BAR_COLUMNS, _write_partitioned, read_bars
    from .operators.resample import resample_all

    spark = _spark("aggregate")
    raw = read_bars(spark, args.root, frame="1m", columns=BAR_COLUMNS).select(*BAR_COLUMNS)
    frames = args.frames.split(",")
    # Pinned: the counts and the write read one resample, not two. Every
    # partition is derived whole from its raw day, so it replaces the old one.
    aggs = resample_all(raw, frames).localCheckpoint(eager=True)
    counts = dict(aggs.groupBy("frame").count().collect())
    if counts:  # an empty write would leave a root holding only _SUCCESS
        _write_partitioned(aggs, args.agg_root, None, "overwrite")
    for frame in frames:
        print(f"aggregated frame {frame}: {counts.get(frame, 0)} bars")
    return 0


def cmd_validate(args) -> int:
    from .lake import read_bars
    from .operators.validation import validate_bars, write_validation_report

    spark = _spark("validate")
    bars = read_bars(spark, args.root, frame=args.frame).select(
        "symbol", "ts_ns", "open", "high", "low", "close", "volume"
    )
    errors = validate_bars(bars, market_hours=args.market_hours)
    n = errors.count()
    print(f"{n} validation errors")
    if args.report:
        write_validation_report(errors, args.report)
        print(f"report written to {args.report}")
    else:
        for r in errors.groupBy("reason").count().orderBy("count", ascending=False).collect():
            print(f"  {r['reason']}: {r['count']}")
    return 0


def cmd_prune(args) -> int:
    from .lake import prune_bars

    spark = _spark("prune")
    doomed = prune_bars(spark, args.root, args.older_than, dry_run=args.dry_run)
    verb = "would delete" if args.dry_run else "deleted"
    print(f"{verb} {len(doomed)} partitions older than {args.older_than}")
    for p in doomed[: args.limit]:
        print(f"  {p}")
    return 0


def cmd_manifest(args) -> int:
    from .manifest import build_manifest, skipping_ratio

    spark = _spark("manifest")
    m = build_manifest(spark, args.root).cache()
    stats = skipping_ratio(m, args.start_ns, args.end_ns)
    if args.start_ns is not None or args.end_ns is not None:
        lo = args.start_ns if args.start_ns is not None else "-inf"
        hi = args.end_ns if args.end_ns is not None else "+inf"
        print(
            f"range [{lo}, {hi}]: keep {stats['files_kept']}"
            f"/{stats['files_total']} files (skip ratio {stats['skip_ratio']})"
        )
    else:
        print(f"{stats['files_total']} files in manifest")
    for r in m.orderBy("path").limit(args.limit).collect():
        print(f"  {r['path']}  rows={r['n_rows']} ts=[{r['min_ts']}, {r['max_ts']}]")
    return 0


def cmd_jobs(args) -> int:
    from .control import JobsStore

    jobs = JobsStore(_spark("jobs"), args.db)
    if args.job_id:
        rows = [r for r in jobs.load().collect() if r.job_id == args.job_id]
        if not rows:
            print(f"job {args.job_id} not found", file=sys.stderr)
            return 1
        for r in rows:
            print(f"{r.job_id} {r.symbol} {r.day} {r.state} bars={r.bars_processed} "
                  f"updated={r.updated_at}" + (f" error={r.error_message}" if r.error_message else ""))
        return 0
    total = 0
    for r in jobs.state_counts().collect():  # reference cli/jobs.py:165-185
        print(f"{r.state:<12}: {r.n_jobs:>6}")
        total += r.n_jobs
    print("-" * 21)
    print(f"{'TOTAL':<12}: {total:>6}")
    return 0


def cmd_symbols(args) -> int:
    from .sources.symbols import dummy_symbols, run_symbol_pipeline

    spark = _spark("symbols")
    if args.provider != "dummy":
        print("only the deterministic 'dummy' provider runs without network; "
              "polygon/nasdaq_dl translations are library APIs over canned payloads",
              file=sys.stderr)
        return 2
    as_of = dt.date.fromisoformat(args.as_of) if args.as_of else dt.date.today()
    out = run_symbol_pipeline(spark, dummy_symbols(spark, args.n, as_of), args.master, as_of)
    print(f"symbols master updated: {out['master'].count()} rows, "
          f"{out['latest'].count()} current")
    return 0


def cmd_metrics(args) -> int:
    from .control import MetricsStore

    m = MetricsStore(_spark("metrics"), args.db)
    if args.serve:
        from .metrics_server import MetricsServer

        srv = MetricsServer(m, host=args.host, port=args.port).start()
        print(
            f"metrics server listening on {srv.url} "
            f"(dashboard at http://{srv.host}:{srv.port}/dashboard, Ctrl-C to stop)"
        )
        try:
            srv._thread.join()
        except KeyboardInterrupt:
            pass
        finally:
            srv.stop()
        return 0
    if args.name:
        for r in m.history(args.name).collect():
            print(f"{r.ts} {r.name} {r.value} provider={r.provider} feed={r.feed}")
    else:
        for name in m.list_names():
            print(name)
    return 0


def cmd_verify_ingest(args) -> int:
    from .operators.verification import render_summary, verify_ingestion

    spark = _spark("verify-ingest")
    summary = verify_ingestion(
        spark, args.root, args.symbols.split(","),
        dt.date.fromisoformat(args.start), dt.date.fromisoformat(args.end),
        frame=args.frame, tolerance_days=args.tolerance_days,
    )
    print(render_summary(summary))
    return 0 if summary.all_passed else 1


def cmd_providers(args) -> int:
    """List registered market-data providers (reference cli/utils.py:242-260)."""
    from .sources.providers import PROVIDER_REGISTRY

    if not PROVIDER_REGISTRY:
        print("No providers registered")
        return 1
    print("Available market data providers:")
    for name in sorted(PROVIDER_REGISTRY):
        print(f"  - {name}")
    print(f"\nTotal: {len(PROVIDER_REGISTRY)} providers")
    print("\nUsage: python -m marketpipe_spark ingest-ohlcv --provider <name> ...")
    return 0


def cmd_migrate(args) -> int:
    """Apply pending control-store schema migrations (reference
    cli/utils.py:263-276 → migrations.apply_pending), or with
    ``--downgrade <version>`` revert them (alembic-style reverse path)."""
    from .control import apply_pending, downgrade_to

    if args.downgrade:
        reverted = downgrade_to(args.db, args.downgrade)
        print(f"reverted: {', '.join(reverted) if reverted else 'nothing (already at or below target)'}")
    else:
        applied = apply_pending(args.db)
        print(f"applied: {', '.join(applied) if applied else 'nothing (up-to-date)'}")
    return 0


def cmd_curate(args) -> int:
    from pyspark.sql import functions as F

    from .operators.textclean import curate_corpus, scrub_pii, segment_dedup

    spark = _spark("curate")
    docs = spark.read.parquet(args.input)
    out = curate_corpus(docs).select(
        "doc_id", "lang", "split", "n_tokens", F.col("clean_text").alias("text")
    )
    if getattr(args, "scrub_pii", False):
        out = (
            scrub_pii(out)
            .drop("text", "n_emails", "n_cards", "n_ips", "n_phones")
            .withColumnRenamed("scrubbed_text", "text")
        )
    if getattr(args, "segment_dedup", 0):
        seg = segment_dedup(out, seg_tokens=args.segment_dedup)
        out = out.drop("text").join(
            seg.select("doc_id", F.col("clean_text").alias("text")), "doc_id"
        )
    if getattr(args, "shuffle_shards", 0):
        from .operators.sampling import training_order

        out = out.join(training_order(out, n_shards=args.shuffle_shards), "doc_id")
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    stats = (
        spark.read.parquet(args.output)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("split")
    )
    for r in stats.collect():
        print(f"{r.split}: {r.n_docs} docs, {r.total_tokens} tokens")
    return 0


def cmd_plan(args) -> int:
    """Explain a registry entry's physical plan + its structural shape
    (shuffles/sorts/joins — the counts the plan-shape gate pins)."""
    import json as _json

    from .plans import registry

    qs = registry.spark_queries()
    if args.entry not in qs:
        import difflib

        near = difflib.get_close_matches(args.entry, qs.keys(), n=5)
        print(f"unknown entry {args.entry!r}; close: {', '.join(near) or '(none)'}")
        return 1
    spark = _spark("plan")
    df = qs[args.entry](spark, args.sf_dir)
    qe = df._jdf.queryExecution()
    if args.formatted:
        print(qe.explainString(spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    else:
        print(qe.executedPlan().toString())
    from .plans.shape import plan_shape

    print(_json.dumps(plan_shape(qe.executedPlan().toString())))
    return 0


def cmd_serve(args) -> int:
    """Serving mode: long-lived session executing registry entries through
    the PREBUILT-PLAN cache (plans.registry.prebuilt).

    Plan construction is a per-query driver cost that dominates small-query
    latency (FLOOR_EXPERIMENT.json: ~15% of sequential bench wall); a
    serving tier pays it once at warm-up and then every request executes a
    cached analyzed plan. Requests arrive on stdin, one per line:

        <entry_name> [sf_dir]

    and each response is one JSON line {name, rows, sec} (errors: {name,
    error}). ``--warm`` prebuilds the named entries (or the headline basket
    with ``--warm all``) before accepting requests; ``--threads`` sizes a
    FAIR-scheduler pool so concurrent requests overlap in the cluster."""
    import json as _json
    import sys as _sys
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from .plans import registry
    from .session import get_spark

    spark = get_spark(
        "marketpipe-serve", extra_conf={"spark.scheduler.mode": "FAIR"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.spark_queries()

    if args.warm:
        names = list(qs) if args.warm == ["all"] else args.warm
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown entries in --warm: {unknown}", file=_sys.stderr)
            return 1
        timings = registry.warm_plans(spark, names, args.sf_dir)
        print(
            _json.dumps({"warmed": len(timings), "sec": round(sum(timings.values()), 3)}),
            file=_sys.stderr,
        )

    def handle(line: str) -> str:
        parts = line.split()
        name, sf = parts[0], (parts[1] if len(parts) > 1 else args.sf_dir)
        if name not in qs:
            return _json.dumps({"name": name, "error": "unknown entry"})
        t0 = _time.time()
        try:
            df = registry.prebuilt(spark, name, sf)
            n = df.count()
        except Exception as exc:  # surface, keep serving
            return _json.dumps({"name": name, "error": str(exc)[:200]})
        return _json.dumps({"name": name, "rows": n, "sec": round(_time.time() - t0, 3)})

    # Stream each response as soon as its query finishes (under a print
    # lock) — a long-lived client piping requests sees results live instead
    # of only after it closes stdin. Response ORDER is completion order, not
    # request order; the "name" field correlates responses to requests.
    import threading as _threading

    out_lock = _threading.Lock()

    def emit(fut) -> None:
        with out_lock:
            print(fut.result(), flush=True)

    with ThreadPoolExecutor(max_workers=args.threads) as ex:
        for line in _sys.stdin:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            ex.submit(handle, line).add_done_callback(emit)
    return 0


def cmd_export(args) -> int:
    """Export a parquet dataset as training-ready shards: JSONL (text
    pipelines) or WebDataset-style tar (multimodal loaders). Both write a
    ``_manifest.json`` shard inventory."""
    spark = _spark("export")
    df = spark.read.parquet(args.input)
    if args.format == "jsonl":
        from .export import export_jsonl

        m = export_jsonl(
            df,
            args.output,
            compression=None if args.no_compression else "gzip",
            partition_by=args.partition_by.split(",") if args.partition_by else None,
        )
    else:
        from .export import export_webdataset

        payload = {}
        for spec in (args.payload or []):
            col, _, ext = spec.partition(":")
            payload[col] = ext or "bin"
        m = export_webdataset(
            df,
            args.output,
            key_col=args.key_col,
            payload_cols=payload,
            n_shards=args.shards,
        )
    print(f"{m.get('n_shards', len(m.get('shards', [])))} shards, {m['n_rows']} rows")
    return 0


def cmd_snapshots(args) -> int:
    """Snapshot-table maintenance verbs (the lake CLI's missing sibling):
    history / read / changes / write / upsert / compact / expire over a
    versioned COW table root (local path, file:, hdfs: or s3a:)."""
    from .plans.views import render
    from .snapshots import (
        compact_table,
        delete_where,
        expire_snapshots,
        read_table,
        restore_table,
        table_changes,
        table_history,
        upsert_table,
        write_table,
    )

    verb = args.snapshots_command
    if verb == "history":
        for h in table_history(args.root):
            ts = (h.get("committed_at") or "-")[:19]
            print(
                f"v{h['version']:<6} parent={h['parent'] if h['parent'] is not None else '-':<6} "
                f"files={h['n_files']:<6} {ts:<20} {h['note']}"
            )
        return 0
    if verb == "fsck":  # metadata-only, no session needed
        from .snapshots import snapshot_fsck

        import json as _json

        rep = snapshot_fsck(args.root)
        print(_json.dumps(rep, indent=2))
        return 0 if rep["ok"] else 1
    spark = _spark("snapshots")
    if verb == "read":
        df = read_table(
            spark, args.root, version=args.version, as_of=getattr(args, "as_of", None)
        )
        print(render(df, limit=args.limit, fmt=args.fmt))
    elif verb == "changes":
        df = table_changes(
            spark, args.root, args.keys.split(","), v_from=args.from_v, v_to=args.to_v
        )
        print(render(df, limit=args.limit, fmt=args.fmt))
    elif verb == "write":
        v = write_table(
            spark.read.parquet(args.input), args.root, mode=args.mode, note=args.note
        )
        print(f"committed v{v}")
    elif verb == "upsert":
        v = upsert_table(
            spark,
            spark.read.parquet(args.input),
            args.root,
            keys=args.keys.split(","),
            note=args.note,
            dedup_order=args.dedup_order.split(",") if args.dedup_order else None,
        )
        print(f"committed v{v}")
    elif verb == "delete":
        v = delete_where(spark, args.root, args.where)
        print(f"committed v{v}")
    elif verb == "restore":
        v = restore_table(spark, args.root, version=args.version)
        print(f"committed v{v}")
    elif verb == "compact":
        v = compact_table(
            spark,
            args.root,
            target_files=args.target_files,
            zorder=args.zorder.split(",") if getattr(args, "zorder", None) else None,
            target_file_mb=getattr(args, "target_file_mb", None),
        )
        print(f"committed v{v}")
    elif verb == "expire":
        out = expire_snapshots(
            args.root, keep_last=args.keep_last, min_age_seconds=args.min_age_seconds
        )
        print(
            f"dropped {out['dropped_versions']} versions, kept {out['kept_versions']}, "
            f"deleted {out['deleted_files']} files"
        )
    return 0


def cmd_health_check(args) -> int:
    """Installation/configuration self-check (reference cli/health_check.py:
    python + deps + install + data-dir + provider checks, pass/warn/fail per
    check with timings; exit 1 on any failure)."""
    import importlib
    import time

    results: list[tuple[str, bool, str, float]] = []

    def check(name):
        def deco(fn):
            t0 = time.monotonic()
            try:
                detail = fn() or ""
                ok = True
            except Exception as exc:  # noqa: BLE001 — report, don't crash
                detail, ok = f"{type(exc).__name__}: {exc}", False
            results.append((name, ok, str(detail), time.monotonic() - t0))

        return deco

    @check("python")
    def _py():
        if sys.version_info < (3, 9):
            raise RuntimeError(f"python {sys.version_info} < 3.9")
        return f"{sys.version_info.major}.{sys.version_info.minor}"

    @check("dependencies")
    def _deps():
        mods = ["pyspark", "pyarrow", "pandas", "numpy"]
        for m in mods:
            importlib.import_module(m)
        return ",".join(mods)

    @check("spark-session")
    def _sess():
        from pyspark.sql import functions as F

        spark = _spark("health")
        n = spark.range(100).groupBy((F.col("id") % 10).alias("k")).count().count()
        if n != 10:
            raise RuntimeError(f"trivial job returned {n} groups")
        return spark.version

    @check("data-dir")
    def _dir():
        from .lake import _hadoop_fs

        spark = _spark("health")
        probe = f"{args.data_dir.rstrip('/')}/.health_probe_{int(time.time())}"
        spark.range(3).write.mode("overwrite").parquet(probe)
        n = spark.read.parquet(probe).count()
        fs, _, jvm = _hadoop_fs(spark, probe)
        fs.delete(jvm.org.apache.hadoop.fs.Path(probe), True)
        if n != 3:
            raise RuntimeError("probe round-trip lost rows")
        return args.data_dir

    @check("providers")
    def _prov():
        from .sources.providers import PROVIDER_REGISTRY

        if not PROVIDER_REGISTRY:
            raise RuntimeError("no providers registered")
        return ",".join(sorted(PROVIDER_REGISTRY))

    failed = 0
    for name, ok, detail, secs in results:
        mark = "PASS" if ok else "FAIL"
        failed += 0 if ok else 1
        print(f"[{mark}] {name:14s} {secs * 1000:7.1f}ms  {detail}")
    print(f"{len(results) - failed}/{len(results)} checks passed")
    return 1 if failed else 0


def cmd_factory_reset(args) -> int:
    """Wipe lake + control-plane data (reference cli/factory_reset.py —
    scoped to the EXPLICIT roots given, not a cwd glob; requires
    --confirm-nuclear unless --dry-run)."""
    from .lake import _hadoop_fs

    if not args.dry_run and not args.confirm_nuclear:
        print("refusing: pass --confirm-nuclear to wipe, or --dry-run to preview", file=sys.stderr)
        return 2
    spark = _spark("factory-reset")
    roots: list[str] = []
    for r in args.roots:
        roots.append(r)
        roots.append(f"{r.rstrip('/')}_ctl")  # the control DB lives beside the lake
    total_files = total_bytes = 0
    for root in roots:
        fs, hpath, _ = _hadoop_fs(spark, root)
        if not fs.exists(hpath):
            continue
        sizes, it = [], fs.listFiles(hpath, True)  # every file, not only .parquet
        while it.hasNext():
            sizes.append(it.next().getLen())
        total_files += len(sizes)
        total_bytes += sum(sizes)
        print(f"{root}: {len(sizes)} files, {sum(sizes) / 1e6:.1f} MB")
        if not args.dry_run:
            fs.delete(hpath, True)
    verb = "would delete" if args.dry_run else "deleted"
    print(f"{verb} {total_files} files, {total_bytes / 1e6:.1f} MB total")
    return 0


def _deprecated(fn, old: str, new: str):
    """Wrap a command so the legacy name keeps working but steers to the new
    path — the reference's migration-friendly alias pattern
    (reference: src/marketpipe/cli/__init__.py:70-85 deprecated_command)."""

    def wrap(args) -> int:
        print(
            f"WARNING: '{old}' is deprecated; use '{new}' instead.",
            file=sys.stderr,
        )
        return fn(args)

    return wrap


_DB_HELP = ("control DB: SQLite file path (ingest writes <output>_ctl/control.db) "
            "or postgresql:// DSN")


def _add_ingest_args(i: argparse.ArgumentParser) -> None:
    i.add_argument("--config", default=None, help="YAML job config (flags override it)")
    i.add_argument("--provider", default=None)
    i.add_argument("--symbols", default=None, help="comma-separated (required without --config)")
    i.add_argument("--start", default=None, help="ISO datetime (required without --config)")
    i.add_argument("--bars", type=int, default=None, help="bars per symbol")
    i.add_argument("--output", default=None)
    i.add_argument("--agg-root", default="data/agg")
    i.add_argument("--feed", default=None)
    i.add_argument("--job-id", default=None)
    i.set_defaults(fn=cmd_ingest)


def _add_backfill_args(bf: argparse.ArgumentParser) -> None:
    bf.add_argument("--start", required=True, help="ISO date")
    bf.add_argument("--end", required=True, help="ISO date")
    bf.add_argument("--output", default=DEFAULT_RAW_ROOT)
    bf.add_argument("--agg-root", default="data/agg")
    bf.set_defaults(fn=cmd_backfill)


def _add_aggregate_args(a: argparse.ArgumentParser) -> None:
    a.add_argument("root", help="raw lake root")
    a.add_argument("--frames", default="5m,15m,1h,1d")
    a.add_argument("--agg-root", default="data/agg")
    a.set_defaults(fn=cmd_aggregate)


def _add_validate_args(v: argparse.ArgumentParser) -> None:
    v.add_argument("root", help="lake root")
    v.add_argument("--frame", default="1m")
    v.add_argument("--report", default=None, help="CSV report path")
    v.add_argument("--market-hours", action="store_true")
    v.set_defaults(fn=cmd_validate)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="marketpipe_spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)

    q = sub.add_parser("query", help="ad-hoc SQL over bars_<frame> views")
    q.add_argument("sql")
    q.add_argument("--agg-root", default="data/agg")
    q.add_argument("--csv", action="store_true")
    q.add_argument("--explain", action="store_true", help="print the physical plan instead of running")
    q.add_argument("--limit", "-l", type=int, default=50)
    q.set_defaults(fn=cmd_query)

    srv = sub.add_parser(
        "serve",
        help="serving mode: execute registry entries from stdin through the prebuilt-plan cache",
    )
    srv.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    srv.add_argument("--threads", type=int, default=8)
    srv.add_argument(
        "--warm",
        nargs="*",
        default=None,
        help="entries to prebuild before serving ('all' = every registry entry)",
    )
    srv.set_defaults(fn=cmd_serve)

    # Nested OHLCV sub-app — the reference's canonical command group
    # (reference: cli/__init__.py:109-149 `ohlcv ingest|validate|aggregate|
    # backfill`), plus its convenience names and deprecated bare aliases.
    oh = sub.add_parser("ohlcv", help="OHLCV pipeline commands (ingest / validate / aggregate / backfill)")
    ohsub = oh.add_subparsers(dest="ohlcv_command", required=True)
    _add_ingest_args(ohsub.add_parser("ingest", help="ingest bars"))
    _add_validate_args(ohsub.add_parser("validate", help="run the 13-rule validation report"))
    _add_aggregate_args(ohsub.add_parser("aggregate", help="re-aggregate raw 1m into frames"))
    _add_backfill_args(ohsub.add_parser("backfill", help="detect and ingest missing daily gaps"))

    _add_ingest_args(sub.add_parser("ingest-ohlcv", help="ingest bars (fake provider)"))
    _add_validate_args(sub.add_parser("validate-ohlcv", help="alias of `ohlcv validate`"))
    _add_aggregate_args(sub.add_parser("aggregate-ohlcv", help="alias of `ohlcv aggregate`"))
    _add_backfill_args(sub.add_parser("ohlcv-backfill", help="alias of `ohlcv backfill`"))
    _add_backfill_args(sub.add_parser("backfill", help="detect and ingest missing daily gaps (fake provider)"))

    ing = sub.add_parser("ingest", help="[DEPRECATED] use `ohlcv ingest`")
    _add_ingest_args(ing)
    ing.set_defaults(fn=_deprecated(cmd_ingest, "ingest", "ohlcv ingest"))

    a = sub.add_parser("aggregate", help="[DEPRECATED] use `ohlcv aggregate`")
    _add_aggregate_args(a)
    a.set_defaults(fn=_deprecated(cmd_aggregate, "aggregate", "ohlcv aggregate"))

    v = sub.add_parser("validate", help="[DEPRECATED] use `ohlcv validate`")
    _add_validate_args(v)
    v.set_defaults(fn=_deprecated(cmd_validate, "validate", "ohlcv validate"))

    pr = sub.add_parser("prune", help="delete partitions older than an age")
    pr.add_argument("root")
    pr.add_argument("--older-than", required=True, help="e.g. 30d, 18m, 5y")
    pr.add_argument("--dry-run", action="store_true")
    pr.add_argument("--limit", type=int, default=20)
    pr.set_defaults(fn=cmd_prune)

    mf = sub.add_parser("manifest", help="file-stats manifest + data-skipping preview")
    mf.add_argument("root", help="lake root directory")
    mf.add_argument("--start-ns", type=int, default=None)
    mf.add_argument("--end-ns", type=int, default=None)
    mf.add_argument("--limit", type=int, default=20)
    mf.set_defaults(fn=cmd_manifest)

    j = sub.add_parser("jobs", help="job state summary / details")
    j.add_argument("job_id", nargs="?", default=None)
    j.add_argument("--db", default=control_db(DEFAULT_RAW_ROOT), help=_DB_HELP)
    j.set_defaults(fn=cmd_jobs)

    s = sub.add_parser("symbols", help="update the SCD-2 symbols master")
    s.add_argument("--provider", default="dummy")
    s.add_argument("-n", type=int, default=100)
    s.add_argument("--as-of", default=None)
    s.add_argument("--master", default="data/symbols_master")
    s.set_defaults(fn=cmd_symbols)

    vi = sub.add_parser("verify-ingest", help="post-ingest coverage verification per symbol")
    vi.add_argument("root", help="lake root")
    vi.add_argument("--symbols", required=True, help="comma-separated")
    vi.add_argument("--start", required=True, help="ISO date")
    vi.add_argument("--end", required=True, help="ISO date")
    vi.add_argument("--frame", default="1m")
    vi.add_argument("--tolerance-days", type=int, default=1)
    vi.set_defaults(fn=cmd_verify_ingest)

    m = sub.add_parser("metrics", help="metric names / history / Prometheus endpoint")
    m.add_argument("name", nargs="?", default=None)
    m.add_argument("--db", default=control_db(DEFAULT_RAW_ROOT), help=_DB_HELP)
    m.add_argument("--serve", action="store_true", help="serve GET /metrics (Prometheus text format)")
    m.add_argument("--port", type=int, default=8000)
    m.add_argument("--host", default="127.0.0.1", help="bind address (0.0.0.0 inside containers)")
    m.set_defaults(fn=cmd_metrics)

    pv = sub.add_parser("providers", help="list available market data providers")
    pv.set_defaults(fn=cmd_providers)

    mg = sub.add_parser("migrate", help="apply pending control-store schema migrations")
    mg.add_argument("--db", default=control_db(DEFAULT_RAW_ROOT), help=_DB_HELP)
    mg.add_argument("--downgrade", default=None, metavar="VERSION",
                    help="revert migrations above VERSION ('000' reverts all)")
    mg.set_defaults(fn=cmd_migrate)

    c = sub.add_parser(
        "curate", help="run the corpus curation pipeline (clean, filter, dedup, split)"
    )
    c.add_argument("input", help="documents parquet (doc_id, text, lang columns)")
    c.add_argument("output", help="curated parquet root (partitioned by split)")
    c.add_argument(
        "--scrub-pii",
        action="store_true",
        help="mask emails/cards/IPv4s/phones in the curated text",
    )
    c.add_argument(
        "--segment-dedup",
        type=int,
        metavar="N",
        default=0,
        help="corpus-level exact dedup of N-token segments (0 = off)",
    )
    c.add_argument(
        "--shuffle-shards",
        type=int,
        metavar="S",
        default=0,
        help="add a deterministic training-order (shard, pos) over S shards (0 = off)",
    )
    c.set_defaults(fn=cmd_curate)

    pl = sub.add_parser(
        "plan", help="explain a registry entry's physical plan + structural shape"
    )
    pl.add_argument("entry", help="registry entry name (e.g. pricing_summary)")
    pl.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="table directory the plan is built against",
    )
    pl.add_argument(
        "--formatted", action="store_true", help="use explain('formatted') output"
    )
    pl.set_defaults(fn=cmd_plan)

    x = sub.add_parser(
        "export", help="export parquet as JSONL shards or WebDataset-style tar shards"
    )
    x.add_argument("input", help="input parquet path")
    x.add_argument("output", help="output shard directory")
    x.add_argument(
        "--format", choices=("jsonl", "webdataset"), default="jsonl", help="shard container"
    )
    x.add_argument("--no-compression", action="store_true", help="jsonl: skip gzip")
    x.add_argument(
        "--partition-by", default="", help="jsonl: comma-separated hive partition columns"
    )
    x.add_argument("--key-col", default="doc_id", help="webdataset: member key column")
    x.add_argument("--shards", type=int, default=4, help="webdataset: number of tar shards")
    x.add_argument(
        "--payload",
        action="append",
        metavar="COL[:EXT]",
        help="webdataset: binary payload column (repeatable), e.g. payload:jpg",
    )
    x.set_defaults(fn=cmd_export)

    sn = sub.add_parser(
        "snapshots", help="versioned COW table maintenance (time travel / CDC / compaction)"
    )
    snsub = sn.add_subparsers(dest="snapshots_command", required=True)

    def _snap_common(sp, with_render=False):
        sp.add_argument("root", help="snapshot table root (path, file:, hdfs: or s3a:)")
        if with_render:
            sp.add_argument("--limit", type=int, default=50)
            sp.add_argument("--fmt", choices=("markdown", "csv"), default="markdown")
        sp.set_defaults(fn=cmd_snapshots)

    _snap_common(snsub.add_parser("history", help="list retained versions"))
    sr = snsub.add_parser("read", help="print a pinned version (default latest)")
    sr.add_argument("--version", type=int, default=None)
    sr.add_argument(
        "--as-of",
        default=None,
        dest="as_of",
        help="time-travel by commit timestamp (ISO-8601; latest version committed at or before it)",
    )
    _snap_common(sr, with_render=True)
    sc = snsub.add_parser("changes", help="change data feed between two versions")
    sc.add_argument("--keys", required=True, help="comma-separated key columns")
    sc.add_argument("--from-v", type=int, required=True, dest="from_v")
    sc.add_argument("--to-v", type=int, default=None, dest="to_v")
    _snap_common(sc, with_render=True)
    sw = snsub.add_parser("write", help="commit a parquet dataset as a new version")
    _snap_common(sw)
    sw.add_argument("input", help="input parquet path")
    sw.add_argument("--mode", choices=("append", "overwrite"), default="append")
    sw.add_argument("--note", default="")
    su = snsub.add_parser("upsert", help="file-granular COW keep-last upsert")
    _snap_common(su)
    su.add_argument("input", help="incoming batch parquet path")
    su.add_argument("--keys", required=True, help="comma-separated key columns")
    su.add_argument("--note", default="")
    su.add_argument(
        "--dedup-order",
        default="",
        help="ordering column(s) for intra-batch keep-last (else dup keys fail)",
    )
    sd = snsub.add_parser("delete", help="copy-on-write DELETE of rows matching a predicate")
    _snap_common(sd)
    sd.add_argument("--where", required=True, help="SQL predicate, e.g. \"symbol = 'X'\"")
    sre = snsub.add_parser("restore", help="roll back: re-commit an old version's file set")
    _snap_common(sre)
    sre.add_argument("--version", type=int, required=True)
    sk = snsub.add_parser("compact", help="OPTIMIZE the latest version's layout")
    sk.add_argument("--target-files", type=int, default=1)
    sk.add_argument(
        "--zorder",
        default=None,
        help="comma-separated integer columns: range-partition + sort on their Morton interleave (OPTIMIZE ZORDER)",
    )
    sk.add_argument(
        "--target-file-mb",
        type=int,
        default=None,
        dest="target_file_mb",
        help="size the output file count from the live set's estimated bytes instead of --target-files",
    )
    _snap_common(sk)
    _snap_common(snsub.add_parser("fsck", help="metadata-only integrity check (missing files, chain, orphans)"))
    se = snsub.add_parser("expire", help="drop old versions + unreferenced data files")
    se.add_argument("--keep-last", type=int, default=2)
    se.add_argument(
        "--min-age-seconds",
        type=float,
        default=3600.0,
        help="only reclaim unreferenced files older than this (protects in-flight writers); 0 = immediate",
    )
    _snap_common(se)

    h = sub.add_parser("health-check", help="installation/configuration self-check")
    h.add_argument("--data-dir", default="data")
    h.set_defaults(fn=cmd_health_check)

    fr = sub.add_parser("factory-reset", help="wipe lake + control-plane data (nuclear)")
    fr.add_argument("roots", nargs="+", help="lake roots to wipe (their _ctl siblings too)")
    fr.add_argument("--confirm-nuclear", action="store_true")
    fr.add_argument("--dry-run", "-n", action="store_true")
    fr.set_defaults(fn=cmd_factory_reset)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)
