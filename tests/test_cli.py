"""CLI command matrix — happy paths through ``python -m marketpipe_spark``
(reference: src/marketpipe/cli/__init__.py surface,
tests/integration/test_cli_command_matrix.py style). Runs in-process via
``cli.main`` so the commands reuse the test JVM (getOrCreate)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from marketpipe_spark.cli import DEFAULT_RAW_ROOT, build_parser, main


def test_cli_control_db_defaults_name_the_file_ingest_writes():
    """`jobs`, `metrics` and `migrate` read, by default, the control DB that
    `ingest-ohlcv` and `backfill` write with their default output."""
    p = build_parser()
    expected = f"{DEFAULT_RAW_ROOT}_ctl/control.db"
    assert p.parse_args(["backfill", "--start", "2024-01-02", "--end", "2024-01-03"]).output \
        == DEFAULT_RAW_ROOT
    for cmd in ("jobs", "metrics", "migrate"):
        args = p.parse_args([cmd])
        assert args.db == expected
        assert not hasattr(args, "path")


def test_cli_health_check(spark, tmp_path, capsys):
    rc = main(["health-check", "--data-dir", str(tmp_path / "data")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "5/5 checks passed" in out
    for name in ("python", "dependencies", "spark-session", "data-dir", "providers"):
        assert f"[PASS] {name}" in out


def test_cli_factory_reset(spark, tmp_path, capsys):
    from marketpipe_spark.control import JobsStore

    raw = str(tmp_path / "raw")
    spark.range(10).write.parquet(f"{raw}/frame=1m/x")
    JobsStore(spark, f"{raw}_ctl/control.db").create("j1", [("AAPL", dt.date(2024, 1, 2))])

    # refuses without --confirm-nuclear
    rc = main(["factory-reset", raw])
    assert rc == 2

    # dry-run previews, deletes nothing
    rc = main(["factory-reset", raw, "--dry-run"])
    out = capsys.readouterr().out
    assert rc == 0 and "would delete" in out and f"{raw}_ctl: 1 files" in out
    assert spark.read.parquet(f"{raw}/frame=1m/x").count() == 10
    assert os.path.exists(f"{raw}_ctl/control.db")

    # real wipe removes lake AND control sibling
    rc = main(["factory-reset", raw, "--confirm-nuclear"])
    out = capsys.readouterr().out
    assert rc == 0 and "deleted" in out
    assert not os.path.exists(raw) and not os.path.exists(f"{raw}_ctl")


def test_cli_end_to_end(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")

    # ingest: fake provider, two symbols, one hour of minute bars
    rc = main([
        "ingest-ohlcv", "--provider", "fake", "--symbols", "AAPL,MSFT",
        "--start", "2024-01-02T00:00:00", "--bars", "60",
        "--output", raw, "--agg-root", agg, "--job-id", "job-e2e",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "job job-e2e" in out and "ingested 60 bars" in out

    # jobs summary (A10 shape) + detail, from the control DB the ingest wrote
    db = f"{raw}_ctl/control.db"
    rc = main(["jobs", "--db", db])
    out = capsys.readouterr().out
    assert rc == 0 and "completed" in out and "TOTAL" in out
    rc = main(["jobs", "job-e2e", "--db", db])
    out = capsys.readouterr().out
    assert rc == 0 and "job-e2e AAPL" in out and "completed" in out
    assert os.listdir(f"{raw}_ctl") == ["control.db"]  # all three stores, one file

    # query over the aggregated views, CSV output
    rc = main([
        "query", "SELECT symbol, COUNT(*) AS n FROM bars_5m GROUP BY symbol ORDER BY symbol",
        "--agg-root", agg, "--csv",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "AAPL,12" in out and "MSFT,12" in out  # 60 min -> 12 buckets

    # query --explain prints the physical plan without executing
    rc = main([
        "query", "SELECT symbol, COUNT(*) AS n FROM bars_5m GROUP BY symbol",
        "--agg-root", agg, "--explain",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "Physical Plan" in out and "HashAggregate" in out
    assert "AAPL" not in out  # plan only, no rows

    # validate the raw lake, write a CSV report
    report = str(tmp_path / "report")
    rc = main(["validate", raw, "--report", report])
    out = capsys.readouterr().out
    assert rc == 0 and "validation errors" in out

    # aggregate an extra frame
    rc = main(["aggregate", raw, "--frames", "15m", "--agg-root", agg])
    out = capsys.readouterr().out
    assert rc == 0 and "aggregated frame 15m: 8 bars" in out  # 2 syms x 4 buckets

    # prune (dry run): 2024 partitions are older than 30d from today
    rc = main(["prune", raw, "--older-than", "30d", "--dry-run"])
    out = capsys.readouterr().out
    assert rc == 0 and "would delete 2 partitions" in out

    # metrics recorded by the ingest
    rc = main(["metrics", "--db", db])
    out = capsys.readouterr().out
    assert rc == 0 and "ingest_job_total_bars" in out
    rc = main(["metrics", "ingest_job_total_bars", "--db", db])
    out = capsys.readouterr().out
    assert rc == 0
    # 60 bars x 2 symbols minus the handful the validator rejects
    total = float(out.split("ingest_job_total_bars")[1].split()[0])
    assert 100 <= total <= 120


def test_cli_symbols(spark, tmp_path, capsys):
    rc = main(["symbols", "-n", "20", "--as-of", "2024-01-01",
               "--master", str(tmp_path / "master")])
    out = capsys.readouterr().out
    assert rc == 0 and "20 rows" in out and "20 current" in out


def test_cli_unknown_provider(spark, capsys):
    rc = main(["ingest-ohlcv", "--provider", "polygon", "--symbols", "A",
               "--start", "2024-01-02T00:00:00"])
    assert rc == 2
    assert "fake" in capsys.readouterr().err


def test_cli_backfill(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    rc = main([
        "ingest-ohlcv", "--provider", "fake", "--symbols", "AAPL",
        "--start", "2024-01-02T13:30:00", "--bars", "390",
        "--output", raw, "--agg-root", agg, "--job-id", "seed",
    ])
    capsys.readouterr()
    assert rc == 0
    rc = main(["backfill", "--start", "2024-01-02", "--end", "2024-01-03",
               "--output", raw, "--agg-root", agg])
    out = capsys.readouterr().out
    assert rc == 0 and "backfilled 2024-01-03: AAPL" in out
    rc = main(["backfill", "--start", "2024-01-02", "--end", "2024-01-03",
               "--output", raw, "--agg-root", agg])
    out = capsys.readouterr().out
    assert rc == 0 and "no gaps found" in out


def test_cli_manifest(spark, tmp_path, capsys):
    from marketpipe_spark.lake import write_bars
    from marketpipe_spark.sources.fake import fake_bars

    root = str(tmp_path / "mlake")
    start = 1_704_067_200_000_000_000
    day_ns = 86_400 * 10**9
    for day in range(2):
        write_bars(fake_bars(spark, ["AAPL"], start + day * day_ns, 30), root, "1m")

    rc = main(["manifest", root])
    out = capsys.readouterr().out
    assert rc == 0
    assert "2 files in manifest" in out
    assert "rows=30" in out

    rc = main(["manifest", root, "--start-ns", str(start + day_ns)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "keep 1/2 files" in out


def test_cli_ohlcv_subapp_and_aliases(spark, tmp_path, capsys):
    """Reference CLI parity: the nested `ohlcv` group, convenience names and
    deprecated bare aliases all reach the same commands
    (reference: src/marketpipe/cli/__init__.py:109-149)."""
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    rc = main([
        "ohlcv", "ingest", "--symbols", "AAPL", "--start", "2024-01-02T14:30:00",
        "--bars", "30", "--output", raw, "--agg-root", agg,
    ])
    assert rc == 0
    rc = main(["ohlcv", "validate", raw])
    assert rc == 0
    rc = main(["aggregate-ohlcv", raw, "--frames", "5m", "--agg-root", agg])
    assert rc == 0
    rc = main(["validate-ohlcv", raw])
    assert rc == 0
    capsys.readouterr()
    # Deprecated bare alias still works but warns on stderr.
    rc = main(["validate", raw])
    got = capsys.readouterr()
    assert rc == 0
    assert "deprecated" in got.err and "ohlcv validate" in got.err


def test_cli_curate_with_scrub_segment_shuffle(spark, tmp_path, capsys):
    out = str(tmp_path / "curated")
    rc = main([
        "curate", "/root/testdata/sf0.001/documents.parquet", out,
        "--scrub-pii", "--segment-dedup", "3", "--shuffle-shards", "4",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "docs" in printed and "tokens" in printed
    got = spark.read.parquet(out)
    assert {"doc_id", "text", "shard", "pos"} <= set(got.columns)
    assert got.filter((got.shard < 0) | (got.shard >= 4)).count() == 0
    assert got.count() > 0


def test_cli_export_webdataset(spark, tmp_path, capsys):
    import tarfile

    out = str(tmp_path / "wds")
    rc = main([
        "export", "/root/testdata/sf0.001/documents.parquet", out,
        "--format", "webdataset", "--shards", "2",
    ])
    assert rc == 0
    assert "shards" in capsys.readouterr().out
    shards = sorted(p.name for p in (tmp_path / "wds").glob("shard-*.tar"))
    assert shards == ["shard-00000.tar", "shard-00001.tar"]
    with tarfile.open(f"{out}/{shards[0]}") as tar:
        assert any(n.endswith(".json") for n in tar.getnames())


def test_cli_plan_command(spark, capsys):
    rc = main(["plan", "pricing_summary"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "HashAggregate" in out and "shuffle_exchanges" in out
    rc = main(["plan", "pricing_summmmary"])
    assert rc == 1
    assert "close:" in capsys.readouterr().out


def test_cli_ingest_with_shipped_example_config(spark, tmp_path, capsys):
    """The shipped config/example_config.yaml drives a real ingest through
    the CLI verbatim (flags override only the output roots so the test
    writes into tmp): the documented quickstart path must actually run."""
    raw = str(tmp_path / "raw")
    agg = str(tmp_path / "agg")
    cfg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "config", "example_config.yaml",
    )
    rc = main([
        "ohlcv", "ingest", "--config", cfg,
        "--output", raw, "--agg-root", agg,
        "--bars", "30", "--job-id", "cfg-e2e",
    ])
    out = capsys.readouterr().out
    assert rc == 0 and "job cfg-e2e" in out

    # all three configured symbols landed, 30 bars each, and aggregates ran
    from marketpipe_spark.lake import read_bars

    lake = read_bars(spark, raw, frame="1m")
    counts = {r.symbol: r.n for r in lake.groupBy("symbol").agg(F.count("*").alias("n")).collect()}
    assert counts == {"AAPL": 30, "GOOGL": 30, "MSFT": 30}
    assert read_bars(spark, agg, frame="5m").count() > 0


def test_cli_snapshots_verbs(spark, tmp_path, capsys):
    """snapshots write/upsert/history/read/changes/compact/expire round-trip."""
    from marketpipe_spark.cli import main

    root = str(tmp_path / "snaptbl")
    inp1 = str(tmp_path / "b1.parquet")
    inp2 = str(tmp_path / "b2.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(inp1)
    spark.createDataFrame([(2, "B!"), (3, "c")], "id long, v string").write.parquet(inp2)

    assert main(["snapshots", "write", root, inp1, "--mode", "overwrite"]) == 0
    assert main(["snapshots", "upsert", root, inp2, "--keys", "id"]) == 0
    assert main(["snapshots", "history", root]) == 0
    out = capsys.readouterr().out
    assert "v1" in out and "v2" in out
    assert main(["snapshots", "read", root, "--fmt", "csv"]) == 0
    assert "B!" in capsys.readouterr().out
    assert (
        main(["snapshots", "changes", root, "--keys", "id", "--from-v", "1", "--to-v", "2"])
        == 0
    )
    out = capsys.readouterr().out
    assert "update" in out and "insert" in out
    assert main(["snapshots", "compact", root, "--target-files", "1"]) == 0
    assert main(["snapshots", "expire", root, "--keep-last", "1"]) == 0
    assert "dropped 2 versions" in capsys.readouterr().out.splitlines()[-1]


def test_cli_snapshots_delete_restore(spark, tmp_path, capsys):
    from marketpipe_spark.cli import main

    root = str(tmp_path / "snaptbl2")
    inp = str(tmp_path / "c1.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(inp)
    assert main(["snapshots", "write", root, inp, "--mode", "overwrite"]) == 0
    assert main(["snapshots", "delete", root, "--where", "id = 2"]) == 0
    assert main(["snapshots", "read", root, "--fmt", "csv"]) == 0
    out = capsys.readouterr().out
    assert "b" not in out.splitlines()[-2]
    assert main(["snapshots", "restore", root, "--version", "1"]) == 0
    assert main(["snapshots", "read", root, "--fmt", "csv"]) == 0
    assert "b" in capsys.readouterr().out
