"""Prometheus-style operational metrics + /metrics HTTP endpoint (R22).

The reference serves a Prometheus registry on ``:8080/metrics``
(indexer-common/src/metrics.rs:36-88, spawn_metrics_server :90-115):
``total_blocks_processed`` (counter), ``latest_block_height`` (gauge),
per-asset-type gauge vectors for captured/missed assets, store-error and
insert-retry counters, and a version-info gauge.  This module is the
Spark-side rendering: a tiny dependency-free metric registry (stdlib
only — the prometheus client library is not available here) with the
SAME metric names and help strings, rendered in the Prometheus text
exposition format, served by ``http.server`` on a daemon thread.

Wiring is observation-only and job-free: the streaming pipeline updates
counters from numbers it already computes (the per-batch max-height agg,
``observe``d append row counts), and ``sinks.with_retries`` increments
the retry/error counters — no extra Spark jobs are scheduled for
metrics.  On a real cluster this registry lives in the driver process
(foreachBatch runs there), exactly where the reference's actix server
lives in its tokio runtime.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _fmt_labels(labels: dict[str, str]) -> str:
    if not labels:
        return ""
    inner = ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
    return "{" + inner + "}"


class Counter:
    """Monotonic int counter (prometheus IntCounter)."""

    def __init__(self, name: str, help: str):
        self.name, self.help = name, help
        self._v = 0
        self._lock = threading.Lock()

    def inc(self, n: int = 1) -> None:
        with self._lock:
            self._v += int(n)

    @property
    def value(self) -> int:
        return self._v

    def render(self) -> str:
        return (
            f"# HELP {self.name} {self.help}\n"
            f"# TYPE {self.name} counter\n"
            f"{self.name} {self._v}\n"
        )


class Gauge:
    """Int gauge (prometheus IntGauge)."""

    def __init__(self, name: str, help: str):
        self.name, self.help = name, help
        self._v = 0

    def set(self, v: int) -> None:
        self._v = int(v)

    @property
    def value(self) -> int:
        return self._v

    def render(self) -> str:
        return (
            f"# HELP {self.name} {self.help}\n"
            f"# TYPE {self.name} gauge\n"
            f"{self.name} {self._v}\n"
        )


class GaugeVec:
    """Labeled int gauges (prometheus IntGaugeVec)."""

    def __init__(self, name: str, help: str, label_names: tuple[str, ...]):
        self.name, self.help, self.label_names = name, help, label_names
        self._children: dict[tuple, int] = {}
        self._lock = threading.Lock()

    def labels(self, **kv: str) -> "GaugeVec._Child":
        if set(kv) != set(self.label_names):
            raise KeyError(f"{self.name} expects labels {self.label_names}, got {kv}")
        key = tuple(str(kv[n]) for n in self.label_names)
        return GaugeVec._Child(self, key)

    class _Child:
        def __init__(self, parent: "GaugeVec", key: tuple):
            self._p, self._k = parent, key

        def set(self, v: int) -> None:
            with self._p._lock:
                self._p._children[self._k] = int(v)

        def inc(self, n: int = 1) -> None:
            with self._p._lock:
                self._p._children[self._k] = self._p._children.get(self._k, 0) + int(n)

        @property
        def value(self) -> int:
            return self._p._children.get(self._k, 0)

    def render(self) -> str:
        lines = [
            f"# HELP {self.name} {self.help}",
            f"# TYPE {self.name} gauge",
        ]
        for key in sorted(self._children):
            labels = dict(zip(self.label_names, key))
            lines.append(f"{self.name}{_fmt_labels(labels)} {self._children[key]}")
        return "\n".join(lines) + "\n"


class MetricsRegistry:
    def __init__(self):
        self._metrics: list = []

    def counter(self, name: str, help: str) -> Counter:
        m = Counter(name, help)
        self._metrics.append(m)
        return m

    def gauge(self, name: str, help: str) -> Gauge:
        m = Gauge(name, help)
        self._metrics.append(m)
        return m

    def gauge_vec(self, name: str, help: str, label_names: tuple[str, ...]) -> GaugeVec:
        m = GaugeVec(name, help, label_names)
        self._metrics.append(m)
        return m

    def render(self) -> str:
        """Prometheus text exposition format (version 0.0.4)."""
        return "".join(m.render() for m in self._metrics)


REGISTRY = MetricsRegistry()

# Metric names + help strings mirror indexer-common/src/metrics.rs:36-88.
BLOCK_PROCESSED_TOTAL = REGISTRY.counter(
    "total_blocks_processed",
    "Total number of blocks processed by indexer regardless of restarts. "
    "Used to calculate Block Processing Rate(BPS)",
)
LATEST_BLOCK_HEIGHT = REGISTRY.gauge(
    "latest_block_height", "Last seen block height by indexer"
)
ASSETS_IN_BLOCK_CAPTURED_TOTAL = REGISTRY.gauge_vec(
    "assets_in_block_captured_total",
    "Total number of captured assets in the processed block",
    ("asset_type",),
)
STORE_ERRORS_TOTAL = REGISTRY.counter(
    "total_tx_store_errors", "Total number of errors while storing transactions"
)
DATABASE_INSERT_RETRIES_TOTAL = REGISTRY.counter(
    "database_insert_retries_total",
    "Total number of retry attempts for database inserts",
)
# not in the reference's set: a block the source cannot parse is dropped
# (streaming.pipeline.process_batch), and this counts what was dropped
CORRUPT_BLOCKS_DROPPED_TOTAL = REGISTRY.counter(
    "corrupt_blocks_dropped_total",
    "Total number of source blocks dropped because they did not parse",
)
VERSION_INFO = REGISTRY.gauge_vec(
    "indexer_version_info",
    "Indexer binary version info (value always 1, label 'version'=crate version)",
    ("version",),
)
VERSION_INFO.labels(version="rust-near-indexer-spark").set(1)


class _MetricsHandler(BaseHTTPRequestHandler):
    registry: MetricsRegistry = REGISTRY

    def do_GET(self):  # noqa: N802 - BaseHTTPRequestHandler API
        if self.path.rstrip("/") not in ("", "/metrics".rstrip("/"), "/metrics"):
            self.send_response(404)
            self.end_headers()
            return
        body = self.registry.render().encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence per-request stderr spam
        pass


def start_metrics_server(
    port: int = 8080, registry: MetricsRegistry = REGISTRY
) -> ThreadingHTTPServer:
    """Serve GET /metrics on a daemon thread (reference: metrics server on
    0.0.0.0:{port}/metrics, metrics.rs:141-160; basic-auth variant not
    modeled).  ``port=0`` binds an ephemeral port (tests).  Returns the
    server; call ``.shutdown()`` to stop."""
    handler = type("Handler", (_MetricsHandler,), {"registry": registry})
    server = ThreadingHTTPServer(("0.0.0.0", port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True, name="metrics")
    t.start()
    return server
