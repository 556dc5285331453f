"""Prometheus-format metrics endpoint (reference:
src/marketpipe/metrics_server.py:34-240) — scraped over a real loopback
HTTP socket against a SQLite-backed MetricsStore."""

from __future__ import annotations

import urllib.error
import urllib.request

import pytest

from marketpipe_spark.control import MetricsStore
from marketpipe_spark.metrics_server import (
    CONTENT_TYPE,
    MetricsServer,
    render_prometheus,
    _sanitize,
)


@pytest.fixture()
def store(spark, tmp_path):
    m = MetricsStore(spark, str(tmp_path / "metrics"))
    m.record("ingest.bars", 100.0, provider="fake", feed="iex", ts=10)
    m.record("ingest.bars", 250.0, provider="fake", feed="iex", ts=20)
    m.record("ingest.bars", 50.0, provider="alpaca", feed="sip", ts=15)
    m.record("req.latency-ms", 0.5, provider="fake", feed="iex", ts=10)
    return m


def test_sanitize_names():
    assert _sanitize("ingest.bars") == "ingest_bars"
    assert _sanitize("req.latency-ms") == "req_latency_ms"
    assert _sanitize("9lives") == "_9lives"


def test_render_exposition_format(store):
    text = render_prometheus(store)
    # latest value per (name, provider, feed) series — max_by ts
    assert 'mp_ingest_bars_last{provider="fake",feed="iex"} 250' in text
    assert 'mp_ingest_bars_last{provider="alpaca",feed="sip"} 50' in text
    # summary pair
    assert 'mp_ingest_bars_sum{provider="fake",feed="iex"} 350' in text
    assert 'mp_ingest_bars_count{provider="fake",feed="iex"} 2' in text
    # HELP/TYPE headers precede each family
    assert "# TYPE mp_ingest_bars_last gauge" in text
    assert "# TYPE mp_ingest_bars_sum counter" in text
    assert "mp_req_latency_ms_last" in text


def test_server_scrape_over_http(store):
    with MetricsServer(store, port=0) as srv:
        with urllib.request.urlopen(srv.url, timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            body = resp.read().decode()
        assert 'mp_ingest_bars_last{provider="fake",feed="iex"} 250' in body
        assert "mp_scrapes_total 1" in body
        # second scrape increments the request counter (reference's
        # metrics_requests counting)
        with urllib.request.urlopen(srv.url, timeout=10) as resp:
            assert "mp_scrapes_total 2" in resp.read().decode()


def test_server_404_off_path(store):
    with MetricsServer(store, port=0) as srv:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(srv.url.replace("/metrics", "/other"), timeout=10)
        assert ei.value.code == 404


def test_empty_store_serves_empty_scrape(spark, tmp_path):
    m = MetricsStore(spark, str(tmp_path / "none"))
    with MetricsServer(m, port=0) as srv:
        with urllib.request.urlopen(srv.url, timeout=10) as resp:
            body = resp.read().decode()
        assert "mp_scrapes_total 1" in body


def test_dashboard_renders_real_series(store):
    """The built-in human dashboard (reference cli/metrics_dashboard.py)
    serves HTML over loopback with the recorded series visible."""
    with MetricsServer(store, port=0) as srv:
        url = srv.url.replace("/metrics", "/dashboard")
        with urllib.request.urlopen(url, timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/html")
            html = resp.read().decode()
        assert "ingest.bars" in html and "req.latency-ms" in html
        assert "250" in html  # latest ingest.bars value for fake/iex
        assert "alpaca" in html and "sip" in html
        # Root serves the same view; /metrics link present for scrapers.
        with urllib.request.urlopen(srv.url.replace("/metrics", "/"), timeout=10) as resp:
            assert "ingest.bars" in resp.read().decode()
        assert 'href="/metrics"' in html


def test_dashboard_empty_store(spark, tmp_path):
    m = MetricsStore(spark, str(tmp_path / "m2"))
    with MetricsServer(m, port=0) as srv:
        with urllib.request.urlopen(srv.url.replace("/metrics", "/dashboard"), timeout=10) as resp:
            assert "No metrics recorded" in resp.read().decode()
