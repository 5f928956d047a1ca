"""Driver-side tracing spans (the reference's OTel setup, Spark-first).

The reference initializes OpenTelemetry over OTLP/HTTP and instruments
its per-block handler and ClickHouse inserts with named spans carrying
block_height / table attributes (`/root/reference/TRACING.md`,
`indexer-common/src/config.rs:109-175`,
`indexer-clickhouse/src/handlers/mod.rs:58-65`,
`indexer-clickhouse/src/database.rs:41,73`).

Spark-first rendering: executor-side work is already traced by Spark's
own event log / UI; what the reference's spans add is the DRIVER-side
orchestration timeline — per-batch handling, state maintenance, sink
inserts — so that is what this module traces.  Spans follow the W3C
Trace Context / OTLP data model (public standards):

- 128-bit trace ids / 64-bit span ids, hex-encoded;
- parenthood via a context-local current-span stack;
- ``traceparent()`` renders the standard ``00-<trace>-<span>-01``
  header for cross-service propagation;
- exporters: ``JsonlExporter`` (always available — newline-delimited
  span records on local disk) and ``OtlpHttpExporter`` (the OTLP/HTTP
  JSON encoding posted with stdlib urllib; transport injectable like
  clickhouse_sink's, since this sandbox has no collector).

``init_tracing()`` honors the standard OTel environment variables the
reference uses (OTEL_EXPORTER_OTLP_ENDPOINT, OTEL_SERVICE_NAME,
OTEL_SERVICE_VERSION); with no endpoint set it stays a no-op unless a
JSONL path is given — tracing must never make the pipeline slower when
unconfigured.
"""

from __future__ import annotations

import json
import logging
import os
import secrets
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

log = logging.getLogger(__name__)

DEFAULT_SERVICE = "rust-near-indexer-spark"


@dataclass
class Span:
    trace_id: str  # 32 hex chars
    span_id: str  # 16 hex chars
    parent_span_id: Optional[str]
    name: str
    start_ns: int
    end_ns: int = 0
    attributes: dict = field(default_factory=dict)


class JsonlExporter:
    """Append finished spans as JSON lines (one object per span)."""

    def __init__(self, path: str) -> None:
        self.path = path

    def export(self, spans: list[Span], service: str) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            for s in spans:
                f.write(
                    json.dumps(
                        {
                            "service": service,
                            "traceId": s.trace_id,
                            "spanId": s.span_id,
                            "parentSpanId": s.parent_span_id,
                            "name": s.name,
                            "startTimeUnixNano": s.start_ns,
                            "endTimeUnixNano": s.end_ns,
                            "attributes": s.attributes,
                        },
                        separators=(",", ":"),
                        sort_keys=True,
                    )
                    + "\n"
                )


def otlp_json_body(spans: list[Span], service: str, version: str) -> dict:
    """The OTLP/HTTP JSON request body (public OTLP encoding) for a
    span batch — what a Jaeger/OpenObserve collector's /v1/traces
    endpoint parses."""

    def attr(k, v):
        if isinstance(v, bool):
            return {"key": k, "value": {"boolValue": v}}
        if isinstance(v, int):
            return {"key": k, "value": {"intValue": str(v)}}
        return {"key": k, "value": {"stringValue": str(v)}}

    return {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": [
                        attr("service.name", service),
                        attr("service.version", version),
                    ]
                },
                "scopeSpans": [
                    {
                        "scope": {"name": service},
                        "spans": [
                            {
                                "traceId": s.trace_id,
                                "spanId": s.span_id,
                                **(
                                    {"parentSpanId": s.parent_span_id}
                                    if s.parent_span_id
                                    else {}
                                ),
                                "name": s.name,
                                "kind": 1,  # SPAN_KIND_INTERNAL
                                "startTimeUnixNano": str(s.start_ns),
                                "endTimeUnixNano": str(s.end_ns),
                                "attributes": [
                                    attr(k, v) for k, v in sorted(s.attributes.items())
                                ],
                            }
                            for s in spans
                        ],
                    }
                ],
            }
        ]
    }


class OtlpHttpExporter:
    """POST span batches to an OTLP/HTTP collector (/v1/traces).

    Transport is injectable for tests / sandboxes without a collector —
    the same seam as clickhouse_sink.post_fn."""

    def __init__(
        self,
        endpoint: str,
        version: str = "0.1.0",
        post_fn: Callable[[str, bytes], None] | None = None,
    ) -> None:
        self.endpoint = endpoint
        self.version = version
        self.post_fn = post_fn or self._post

    @staticmethod
    def _post(url: str, body: bytes) -> None:  # pragma: no cover - network
        import urllib.request

        req = urllib.request.Request(
            url, data=body, method="POST", headers={"Content-Type": "application/json"}
        )
        # Export runs inline on the driver at root-span end; a bounded
        # timeout keeps a hung collector in the "swallowed exception"
        # regime (Tracer.span catches it) instead of stalling the
        # pipeline — tracing must never make the pipeline slower.
        urllib.request.urlopen(req, timeout=5).read()

    def export(self, spans: list[Span], service: str) -> None:
        body = json.dumps(
            otlp_json_body(spans, service, self.version), separators=(",", ":")
        ).encode()
        self.post_fn(self.endpoint, body)


class Tracer:
    """Context-local span stack + batched export on root-span end."""

    def __init__(self, service: str = DEFAULT_SERVICE, exporter=None) -> None:
        self.service = service
        self.exporter = exporter
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.finished = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attributes):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            trace_id=parent.trace_id if parent else secrets.token_hex(16),
            span_id=secrets.token_hex(8),
            parent_span_id=parent.span_id if parent else None,
            name=name,
            start_ns=time.time_ns(),
            attributes=dict(attributes),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end_ns = time.time_ns()
            stack.pop()
            # Record finished spans ONLY when an exporter is configured:
            # in no-op posture an unbounded `finished` buffer would be a
            # slow leak across a long streaming run (and spans from the
            # unconfigured era must not flush into a later-configured
            # exporter's first trace).
            if self.exporter is not None:
                self._local.finished.append(s)
                if not stack:
                    batch, self._local.finished = self._local.finished, []
                    try:
                        self.exporter.export(batch, self.service)
                    except Exception:  # tracing must never fail the pipeline
                        log.warning("tracing: %d spans not exported", len(batch), exc_info=True)
            elif not stack:
                self._local.finished.clear()

    def traceparent(self) -> Optional[str]:
        """W3C Trace Context header for the current span, or None."""
        stack = self._stack()
        if not stack:
            return None
        s = stack[-1]
        return f"00-{s.trace_id}-{s.span_id}-01"


# Module-level tracer: no-op (no exporter) until init_tracing configures
# one.  Pipeline code calls TRACER.span(...) unconditionally — with no
# exporter the overhead is one dataclass + two clock reads per span.
TRACER = Tracer()


def init_tracing(
    endpoint: str | None = None,
    service: str | None = None,
    version: str | None = None,
    jsonl_path: str | None = None,
    post_fn: Callable[[str, bytes], None] | None = None,
) -> Tracer:
    """Configure the module tracer from args or the standard OTel envs
    (the same variables the reference documents in TRACING.md).  Returns
    the tracer.  No endpoint and no jsonl_path → spans are recorded but
    not exported (no-op posture)."""
    endpoint = endpoint or os.environ.get("OTEL_EXPORTER_OTLP_ENDPOINT")
    service = service or os.environ.get("OTEL_SERVICE_NAME", DEFAULT_SERVICE)
    version = version or os.environ.get("OTEL_SERVICE_VERSION", "0.1.0")
    TRACER.service = service
    if endpoint:
        TRACER.exporter = OtlpHttpExporter(endpoint, version, post_fn=post_fn)
    elif jsonl_path:
        TRACER.exporter = JsonlExporter(jsonl_path)
    else:
        TRACER.exporter = None
    return TRACER
