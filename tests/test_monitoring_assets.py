"""Monitoring/packaging assets (reference monitoring/ + docker/): the
Grafana dashboard JSON is schema-checked and every Prometheus series it
queries must actually be produced by this engine's exposition
(metrics_server.render_prometheus) when the ingestion path's metric names
are recorded — so the dashboard renders against the real /metrics output,
not a hoped-for one."""

from __future__ import annotations

import json
import os
import re

import pytest
import yaml

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DASHBOARD = os.path.join(REPO, "monitoring", "grafana", "dashboards",
                         "marketpipe_spark_dashboard.json")

#: Metric names the ingestion path records (streaming/incremental.py).
INGEST_METRIC_NAMES = [
    "ingest_jobs", "ingest_job_failures", "ingest_job_success",
    "ingest_job_total_bars", "ingest_symbols_success", "validation_errors",
]


def _dashboard():
    with open(DASHBOARD) as f:
        return json.load(f)["dashboard"]


def _expr_metric_names(expr: str) -> set[str]:
    return set(re.findall(r"\b(mp_[a-z0-9_]+)\b", expr))


def test_dashboard_json_shape():
    d = _dashboard()
    assert d["title"] and d["uid"]
    assert d["panels"], "dashboard has no panels"
    for p in d["panels"]:
        assert p["title"]
        assert p["targets"], f"panel {p['title']} has no queries"
        for t in p["targets"]:
            assert t["expr"].strip()


def test_dashboard_queries_only_series_the_endpoint_exports(spark, tmp_path):
    from marketpipe_spark.control import MetricsStore
    from marketpipe_spark.metrics_server import render_prometheus

    store = MetricsStore(spark, str(tmp_path / "m.db"))
    for i, name in enumerate(INGEST_METRIC_NAMES):
        store.record(name, float(i + 1), provider="fake", feed="iex", ts=100 + i)
    body = render_prometheus(store)
    exported = set(re.findall(r"^(mp_[a-z0-9_]+)\{", body, re.MULTILINE))
    exported.add("mp_scrapes_total")  # appended by the HTTP handler

    queried = set()
    for p in _dashboard()["panels"]:
        for t in p["targets"]:
            queried |= _expr_metric_names(t["expr"])
    for v in _dashboard()["templating"]["list"]:
        queried |= _expr_metric_names(v["query"])

    missing = queried - exported
    assert not missing, f"dashboard queries series the endpoint never exports: {sorted(missing)}"


def test_prometheus_and_compose_configs_parse():
    with open(os.path.join(REPO, "monitoring", "prometheus.yml")) as f:
        prom = yaml.safe_load(f)
    jobs = [j["job_name"] for j in prom["scrape_configs"]]
    assert "marketpipe-spark" in jobs

    with open(os.path.join(REPO, "docker", "docker-compose.yml")) as f:
        compose = yaml.safe_load(f)
    assert set(compose["services"]) == {"marketpipe", "prometheus", "grafana"}
    # the app container must bind 0.0.0.0 for the scraper to reach it
    assert "0.0.0.0" in compose["services"]["marketpipe"]["command"]


def test_docker_serves_the_control_db_ingest_writes():
    from marketpipe_spark.cli import control_db

    expected = control_db("/app/data/raw")  # ingest-ohlcv --output /app/data/raw
    with open(os.path.join(REPO, "docker", "docker-compose.yml")) as f:
        app = yaml.safe_load(f)["services"]["marketpipe"]
    assert app["command"][app["command"].index("--db") + 1] == expected
    assert "environment" not in app
    with open(os.path.join(REPO, "docker", "Dockerfile")) as f:
        cmd = json.loads(next(ln for ln in f if ln.startswith("CMD "))[4:])
    assert cmd[cmd.index("--db") + 1] == expected


def test_grafana_provisioning_parses():
    base = os.path.join(REPO, "monitoring", "grafana", "provisioning")
    with open(os.path.join(base, "datasources", "prometheus.yml")) as f:
        ds = yaml.safe_load(f)
    assert ds["datasources"][0]["type"] == "prometheus"
    with open(os.path.join(base, "dashboards", "dashboards.yml")) as f:
        prov = yaml.safe_load(f)
    assert prov["providers"][0]["options"]["path"] == "/var/lib/grafana/dashboards"
