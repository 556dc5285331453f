"""YAML job-config layer (reference: src/marketpipe/config/{ingestion,
loader}.py, cli/ohlcv_ingest.py:420-520 config/flag merge)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from marketpipe_spark.cli import main
from marketpipe_spark.config import (
    ConfigVersionError,
    IngestionJobConfig,
    load_config,
)

GOOD_YAML = """
config_version: "1"
symbols: [aapl, MSFT]
start: 2024-01-02
end: 2024-01-03
batch-size: 500
provider: fake
feed-type: iex
output-path: {out}
"""


def _write(tmp_path, body, name="job.yaml"):
    p = tmp_path / name
    p.write_text(body)
    return str(p)


def test_load_config_normalizes_and_validates(tmp_path):
    cfg = load_config(_write(tmp_path, GOOD_YAML.format(out="/tmp/x")))
    assert cfg.symbols == ["AAPL", "MSFT"]  # upper-cased
    assert cfg.batch_size == 500  # kebab-case accepted
    assert cfg.start == dt.date(2024, 1, 2)
    assert cfg.provider == "fake"


def test_env_var_expansion(tmp_path, monkeypatch):
    monkeypatch.setenv("MP_OUT", "/tmp/from-env")
    cfg = load_config(_write(tmp_path, GOOD_YAML.format(out="$MP_OUT")))
    assert cfg.output_path == "/tmp/from-env"


def test_missing_version_rejected(tmp_path):
    with pytest.raises(ConfigVersionError):
        load_config(_write(tmp_path, "symbols: [AAPL]\nstart: 2024-01-02\nend: 2024-01-03\n"))


def test_old_version_rejected(tmp_path):
    with pytest.raises(ConfigVersionError):
        load_config(_write(tmp_path, 'config_version: "0"\nsymbols: [AAPL]\nstart: 2024-01-02\nend: 2024-01-03\n'))


def test_two_digit_version_compares_numerically(tmp_path):
    """'10' must order ABOVE '2' (ADVICE r3: lexicographic string compare
    breaks at two digits, misclassifying newer configs as too old)."""
    body = ('config_version: "10"\nsymbols: [AAPL]\nstart: 2024-01-02\n'
            "end: 2024-01-03\n")
    with pytest.warns(UserWarning):  # newer than current → best-effort, NOT too-old
        cfg = load_config(_write(tmp_path, body))
    assert cfg.symbols == ["AAPL"]


def test_non_numeric_version_rejected(tmp_path):
    with pytest.raises(ConfigVersionError):
        load_config(_write(tmp_path, 'config_version: "abc"\nsymbols: [AAPL]\nstart: 2024-01-02\nend: 2024-01-03\n'))


def test_newer_version_warns_best_effort(tmp_path):
    body = ('config_version: "2"\nsymbols: [AAPL]\nstart: 2024-01-02\n'
            "end: 2024-01-03\nfuture_knob: 7\n")
    with pytest.warns(UserWarning):
        cfg = load_config(_write(tmp_path, body))
    assert cfg.symbols == ["AAPL"]  # unknown future key dropped, not fatal


def test_unknown_key_rejected_at_current_version(tmp_path):
    body = GOOD_YAML.format(out="/tmp/x") + "typo_key: 1\n"
    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(_write(tmp_path, body))


@pytest.mark.parametrize(
    "field,value,msg",
    [
        ("symbols", [], "empty"),
        ("symbols", ["TOOLONGSYMBOL"], "invalid symbol"),
        ("batch_size", 0, "batch_size"),
        ("workers", 99, "workers"),
        ("timeframe", "2m", "timeframe"),
        ("provider", "bloomberg", "unknown provider"),
    ],
)
def test_field_validation(field, value, msg):
    kw = dict(symbols=["AAPL"], start="2024-01-02", end="2024-01-03")
    kw[field] = value
    with pytest.raises(ValueError, match=msg):
        IngestionJobConfig(**kw)


def test_start_after_end_rejected():
    with pytest.raises(ValueError, match="after"):
        IngestionJobConfig(symbols=["AAPL"], start="2024-01-05", end="2024-01-02")


def test_merge_overrides_layers_non_none():
    cfg = IngestionJobConfig(symbols=["AAPL"], start="2024-01-02", end="2024-01-03")
    out = cfg.merge_overrides(symbols=["msft"], provider=None, workers=8)
    assert out.symbols == ["MSFT"] and out.workers == 8
    assert out.provider == cfg.provider  # None override ignored
    with pytest.raises(ValueError, match="unknown override"):
        cfg.merge_overrides(nope=1)


def test_trading_days_skips_weekends():
    cfg = IngestionJobConfig(symbols=["AAPL"], start="2024-01-05", end="2024-01-09")
    # Fri 5th, (skip Sat/Sun), Mon 8th, Tue 9th
    assert [d.day for d in cfg.trading_days] == [5, 8, 9]


# ---------------------------------------------------------------------------
# CLI e2e: ingest-ohlcv --config (reference ohlcv_ingest.py:459-520)

def test_cli_ingest_with_config(spark, tmp_path, capsys):
    out = str(tmp_path / "raw")
    body = GOOD_YAML.format(out=out) + "end: 2024-01-02\n"
    p = _write(tmp_path, body)
    rc = main(["ingest-ohlcv", "--config", p, "--bars", "30", "--agg-root", str(tmp_path / "agg")])
    msg = capsys.readouterr().out
    assert rc == 0, msg
    assert "30 bars x 2 symbols" in msg
    assert os.path.exists(out)


def test_cli_ingest_flag_overrides_config(spark, tmp_path, capsys):
    out = str(tmp_path / "raw2")
    p = _write(tmp_path, GOOD_YAML.format(out=str(tmp_path / "ignored")))
    rc = main([
        "ingest-ohlcv", "--config", p, "--symbols", "IBM", "--bars", "10",
        "--output", out, "--agg-root", str(tmp_path / "agg2"),
    ])
    msg = capsys.readouterr().out
    assert rc == 0, msg
    assert "10 bars x 1 symbols" in msg
    assert os.path.exists(out)


def test_cli_ingest_requires_config_or_flags(capsys):
    rc = main(["ingest-ohlcv"])
    assert rc == 1
    assert "either provide --config" in capsys.readouterr().err


def test_cli_ingest_bad_config_reports(tmp_path, capsys):
    p = _write(tmp_path, "symbols: [AAPL]\nstart: 2024-01-02\nend: 2024-01-03\n")
    rc = main(["ingest-ohlcv", "--config", p])
    assert rc == 1
    assert "config_version" in capsys.readouterr().err


def test_dotted_zero_version_equals_current(tmp_path):
    """YAML `config_version: 1.0` (an unquoted float) must parse as the
    CURRENT version — no newer-than-supported warning (review fix: tuple
    compare treated (1,0) > (1,))."""
    import warnings

    body = "config_version: 1.0\nsymbols: [AAPL]\nstart: 2024-01-02\nend: 2024-01-03\n"
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        cfg = load_config(_write(tmp_path, body))
    assert cfg.symbols == ["AAPL"]


def test_pyproject_metadata_is_coherent():
    """Packaging drift guard: the console-script target must resolve, the
    runtime dependency list must match what the package actually imports,
    and the version string must parse."""
    import importlib
    import os
    import tomllib

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "pyproject.toml"), "rb") as f:
        meta = tomllib.load(f)
    proj = meta["project"]
    assert proj["name"] == "marketpipe-spark"
    assert all(part.isdigit() for part in proj["version"].split("."))
    # Console script target resolves to a callable.
    target = proj["scripts"]["marketpipe-spark"]
    mod, _, attr = target.partition(":")
    assert callable(getattr(importlib.import_module(mod), attr))
    # Every declared runtime dependency is importable in this environment.
    import_names = {"pyspark": "pyspark", "pyarrow": "pyarrow",
                    "pandas": "pandas", "numpy": "numpy"}
    for dep in proj["dependencies"]:
        name = dep.split(">=")[0].split("==")[0].strip()
        importlib.import_module(import_names[name])


# ---------------------------------------------------------------------------
# Shipped example files (config/): must load VERBATIM, forever. These are the
# files the docs point new users at; a schema change that breaks them is a
# release bug, and this test is the tripwire (reference ships
# config/example_config.yaml + postgres.env.example the same way).
# ---------------------------------------------------------------------------

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shipped_example_config_loads_verbatim():
    cfg = load_config(os.path.join(_REPO, "config", "example_config.yaml"))
    assert cfg.symbols == ["AAPL", "GOOGL", "MSFT"]
    assert (cfg.start, cfg.end) == (dt.date(2024, 1, 2), dt.date(2024, 1, 3))
    assert cfg.provider == "fake" and cfg.workers == 3
    assert cfg.batch_size == 1000  # kebab-case key normalized
    # round-trip: to_dict() values rebuild an equal config
    assert IngestionJobConfig(**cfg.to_dict()) == cfg
    # and CLI-style overrides layer on top without disturbing the rest
    merged = cfg.merge_overrides(workers=8, timeframe="5m")
    assert (merged.workers, merged.timeframe) == (8, "5m")
    assert merged.symbols == cfg.symbols


def test_shipped_postgres_env_example_shape():
    p = os.path.join(_REPO, "config", "postgres.env.example")
    pairs = {}
    with open(p) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                k, _, v = line.partition("=")
                pairs[k] = v
    assert set(pairs) == {"DATABASE_URL", "POSTGRES_TEST_URL"}
    # both values must be DSNs the control-plane dialect selector accepts
    from marketpipe_spark.control import PostgresDialect

    for v in pairs.values():
        assert v.startswith("postgresql://")
        PostgresDialect(dsn=v)  # constructs without error
