"""Quickstart: ingest → aggregate → query → validate, end to end.

The walkthrough every reference README reader runs (reference:
README quickstart + tests/integration/test_readme_quickstart_e2e.py),
re-expressed against this engine's CLI. Everything uses the deterministic
``fake`` provider, so it runs offline and produces the same numbers every
time.

Run it:

    python examples/quickstart.py [workdir]

It drives the SAME argparse surface as ``python -m marketpipe_spark ...``
(one in-process SparkSession instead of one JVM per command, so the whole
tour takes seconds). The equivalent shell commands are printed before each
step.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from marketpipe_spark.cli import main  # noqa: E402


def step(title: str, argv: list[str]) -> None:
    print(f"\n=== {title}\n$ python -m marketpipe_spark {' '.join(argv)}")
    rc = main(argv)
    if rc != 0:
        raise SystemExit(f"step failed (rc={rc}): {argv}")


def run(workdir: str) -> None:
    raw = os.path.join(workdir, "data", "raw")
    agg = os.path.join(workdir, "data", "agg")
    report = os.path.join(workdir, "validation_report.csv")

    # 1. Ingest two symbols of fake minute bars for one trading day.
    step("Ingest (fake provider)", [
        "ingest-ohlcv", "--symbols", "AAPL,MSFT", "--start", "2024-01-02T14:30:00",
        "--provider", "fake", "--bars", "390",
        "--output", raw, "--agg-root", agg,
    ])

    # 2. Aggregate the raw minute bars into 5m and 1d frames.
    step("Aggregate to 5m + 1d", [
        "aggregate", raw, "--agg-root", agg, "--frames", "5m,1d",
    ])

    # 3. Query the aggregated lake with plain SQL.
    step("Query bars_5m", [
        "query", "--agg-root", agg, "--limit", "5",
        "SELECT symbol, ts_ns, open, high, low, close, volume "
        "FROM bars_5m WHERE symbol = 'AAPL' ORDER BY ts_ns",
    ])

    # 4. Validate the raw bars against the 13-rule OHLCV contract.
    step("Validate + CSV report", [
        "validate", raw, "--frame", "1m", "--report", report,
    ])
    print(f"\nreport at {report}")

    # 5. Inspect job states and recorded metrics (control plane).
    step("Job states", ["jobs", "--db", f"{raw}_ctl/control.db"])
    step("Metrics recorded", ["metrics", "--db", f"{raw}_ctl/control.db"])

    print("\nQuickstart complete.")


if __name__ == "__main__":
    run(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="mp_quickstart_"))
