"""Prometheus-format metrics endpoint over the MetricsStore.

Re-expresses the reference's metrics server (reference:
src/marketpipe/metrics_server.py:34-240 — an HTTP server exposing
``/metrics`` in Prometheus text exposition format, plus request counting
and error handling) on the stdlib: ``prometheus_client`` is not a baked-in
dependency here, so the exposition format (text/plain; version=0.0.4) is
rendered directly from the SQL-backed :class:`~marketpipe_spark.
control.MetricsStore` rows.

Exported series per recorded metric name (sanitized to the Prometheus
grammar, labels ``provider``/``feed``):

- ``mp_<name>_last``  — most recent recorded value (gauge)
- ``mp_<name>_sum`` / ``mp_<name>_count`` — lifetime sum/count, the
  standard pair a Prometheus summary exposes

plus ``mp_scrapes_total`` (the reference's request counter).
"""

from __future__ import annotations

import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import functions as F

from .control import MetricsStore

_NAME_RE = re.compile(r"[^a-zA-Z0-9_]")

CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"


def _sanitize(name: str) -> str:
    """Metric-name grammar: [a-zA-Z_][a-zA-Z0-9_]* (dots → underscores)."""
    s = _NAME_RE.sub("_", name)
    return s if not s[:1].isdigit() else f"_{s}"


def _escape_label(v: str) -> str:
    return v.replace("\\", r"\\").replace('"', r"\"").replace("\n", r"\n")


def render_prometheus(store: MetricsStore) -> str:
    """One aggregation pass over the store → exposition text. The per-series
    rollup (last/sum/count keyed by name+labels) is a single groupBy with
    ``max_by`` for the latest value — control-plane-sized data, one job."""
    rows = _series_rollup(store)
    by_metric: dict[str, list] = {}
    for r in rows:
        by_metric.setdefault(_sanitize(r["name"]), []).append(r)
    lines: list[str] = []
    for name, series in by_metric.items():
        for suffix, typ in (("last", "gauge"), ("sum", "counter"), ("count", "counter")):
            full = f"mp_{name}_{suffix}"
            lines.append(f"# HELP {full} {suffix} of recorded metric '{name}'")
            lines.append(f"# TYPE {full} {typ}")
            for r in series:
                labels = (
                    f'provider="{_escape_label(r["provider"])}",feed="{_escape_label(r["feed"])}"'
                )
                val = r[suffix]
                lines.append(f"{full}{{{labels}}} {float(val):g}")
    return "\n".join(lines) + "\n"


def _series_rollup(store: MetricsStore) -> list:
    """Shared one-job rollup behind both renderers: (name, provider, feed)
    → latest value + lifetime sum/count."""
    m = store.load()
    return (
        m.groupBy("name", "provider", "feed")
        .agg(
            F.max_by("value", "ts").alias("last"),
            F.sum("value").alias("sum"),
            F.count(F.lit(1)).alias("count"),
        )
        .orderBy("name", "provider", "feed")
        .collect()
    )


def render_dashboard(store: MetricsStore, scrapes: int = 0) -> str:
    """Zero-dependency human dashboard over the same store rollup the
    Prometheus endpoint exposes — the reference ships a built-in metrics UI
    beside its exposition endpoint (reference:
    src/marketpipe/cli/metrics_dashboard.py:19-40); this renders the
    equivalent view server-side from the store directly (no self-scrape, no
    HTTP client dependency), with a 30 s meta-refresh."""
    import datetime as _dt
    import html as _html

    rows = _series_rollup(store)
    by_name: dict[str, list] = {}
    for r in rows:
        by_name.setdefault(r["name"], []).append(r)

    sections = []
    for name, series in sorted(by_name.items()):
        trs = "".join(
            "<tr><td>{p}</td><td>{f}</td><td class='num'>{last:g}</td>"
            "<td class='num'>{s:g}</td><td class='num'>{c}</td></tr>".format(
                p=_html.escape(str(r["provider"])),
                f=_html.escape(str(r["feed"])),
                last=float(r["last"]),
                s=float(r["sum"]),
                c=int(r["count"]),
            )
            for r in series
        )
        sections.append(
            f"<section><h2>{_html.escape(name)}</h2>"
            "<table><thead><tr><th>provider</th><th>feed</th><th>last</th>"
            f"<th>sum</th><th>count</th></tr></thead><tbody>{trs}</tbody></table></section>"
        )
    body = "".join(sections) or "<p class='empty'>No metrics recorded yet.</p>"
    now = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%SZ")
    return f"""<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8">
<meta http-equiv="refresh" content="30">
<title>marketpipe_spark metrics</title>
<style>
 body {{ font: 14px/1.5 system-ui, sans-serif; margin: 2rem; color: #1b2430; }}
 header {{ display: flex; justify-content: space-between; align-items: baseline;
           border-bottom: 3px solid #4060c8; padding-bottom: .5rem; }}
 h1 {{ font-size: 1.3rem; margin: 0; }}
 .meta {{ color: #66707f; font-size: .85rem; }}
 section {{ margin: 1.25rem 0; }}
 h2 {{ font-size: 1rem; margin: 0 0 .35rem; color: #30457e; }}
 table {{ border-collapse: collapse; min-width: 32rem; }}
 th, td {{ padding: .3rem .8rem; text-align: left; border-bottom: 1px solid #dfe4ee; }}
 th {{ background: #eef1f8; font-weight: 600; }}
 td.num {{ text-align: right; font-variant-numeric: tabular-nums; }}
 .empty {{ color: #66707f; font-style: italic; }}
</style></head>
<body>
<header><h1>marketpipe_spark metrics</h1>
<span class="meta">{len(by_name)} metrics &middot; {scrapes} scrapes served &middot; rendered {now}
&middot; <a href="/metrics">prometheus</a></span></header>
{body}
</body></html>"""


class MetricsServer:
    """Threaded HTTP server exposing ``GET /metrics`` (reference
    AsyncMetricsServer, metrics_server.py:34-200) and a human dashboard at
    ``GET /`` / ``/dashboard`` (reference cli/metrics_dashboard.py).
    ``port=0`` binds an ephemeral port (test-friendly); other paths 404;
    scrape failures return 500 with the error text, mirroring the
    reference's handler."""

    def __init__(self, store: MetricsStore, host: str = "127.0.0.1", port: int = 8000):
        self.store = store
        self.host = host
        self.scrapes = 0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                path = self.path.split("?")[0]
                if path not in ("/metrics", "/", "/dashboard"):
                    self.send_error(404, "only /metrics and /dashboard are served")
                    return
                try:
                    if path == "/metrics":
                        outer.scrapes += 1
                        body = render_prometheus(outer.store)
                        body += f"# HELP mp_scrapes_total scrapes served\n# TYPE mp_scrapes_total counter\nmp_scrapes_total {outer.scrapes}\n"
                        ctype = CONTENT_TYPE
                    else:
                        body = render_dashboard(outer.store, outer.scrapes)
                        ctype = "text/html; charset=utf-8"
                    payload = body.encode()
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                except Exception as e:  # pragma: no cover - defensive
                    self.send_error(500, f"scrape failed: {e}")

            def log_message(self, *a):  # silence per-request stderr noise
                return None

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}/metrics"

    def start(self) -> MetricsServer:
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> MetricsServer:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
