"""Tracing spans (reference TRACING.md analog): span-tree structure,
W3C traceparent format, OTLP/HTTP JSON encoding, JSONL export, and the
instrumented streaming batch producing the expected span names."""

from __future__ import annotations

import json
import re

import pytest

from rust_near_indexer_spark import tracing


class CollectExporter:
    def __init__(self):
        self.batches = []

    def export(self, spans, service):
        self.batches.append((service, list(spans)))


def test_span_tree_and_traceparent():
    t = tracing.Tracer("svc", CollectExporter())
    assert t.traceparent() is None
    with t.span("root", batch_id=7) as root:
        tp = t.traceparent()
        assert re.fullmatch(r"00-[0-9a-f]{32}-[0-9a-f]{16}-01", tp)
        assert tp == f"00-{root.trace_id}-{root.span_id}-01"
        with t.span("child") as child:
            assert child.trace_id == root.trace_id
            assert child.parent_span_id == root.span_id
    (service, spans), = t.exporter.batches  # exported once, at root end
    assert service == "svc"
    assert [s.name for s in spans] == ["child", "root"]  # finish order
    assert spans[1].parent_span_id is None
    assert spans[1].attributes == {"batch_id": 7}
    assert all(s.end_ns >= s.start_ns for s in spans)


def test_otlp_json_encoding():
    t = tracing.Tracer("svc", CollectExporter())
    with t.span("a", table="events", big=3):
        pass
    (_, spans), = t.exporter.batches
    body = tracing.otlp_json_body(spans, "svc", "1.2.3")
    rs = body["resourceSpans"][0]
    res_attrs = {a["key"]: a["value"] for a in rs["resource"]["attributes"]}
    assert res_attrs["service.name"] == {"stringValue": "svc"}
    assert res_attrs["service.version"] == {"stringValue": "1.2.3"}
    sp = rs["scopeSpans"][0]["spans"][0]
    assert sp["name"] == "a" and "parentSpanId" not in sp
    attrs = {a["key"]: a["value"] for a in sp["attributes"]}
    assert attrs["table"] == {"stringValue": "events"}
    assert attrs["big"] == {"intValue": "3"}  # OTLP ints are strings
    json.dumps(body)  # fully serializable


def test_otlp_exporter_posts_via_injected_transport():
    posted = []
    t = tracing.Tracer(
        "svc",
        tracing.OtlpHttpExporter(
            "http://collector:4318/v1/traces",
            post_fn=lambda url, body: posted.append((url, body)),
        ),
    )
    with t.span("root"):
        pass
    (url, body), = posted
    assert url.endswith("/v1/traces")
    assert json.loads(body)["resourceSpans"]


def test_jsonl_exporter_and_env_init(tmp_path, monkeypatch):
    monkeypatch.delenv("OTEL_EXPORTER_OTLP_ENDPOINT", raising=False)
    path = str(tmp_path / "spans.jsonl")
    t = tracing.init_tracing(jsonl_path=path, service="jsvc")
    with t.span("only"):
        pass
    lines = [json.loads(l) for l in open(path)]
    assert lines[0]["name"] == "only" and lines[0]["service"] == "jsvc"
    # endpoint env wins over jsonl and configures OTLP
    monkeypatch.setenv("OTEL_EXPORTER_OTLP_ENDPOINT", "http://c:4318/v1/traces")
    t2 = tracing.init_tracing(post_fn=lambda u, b: None)
    assert isinstance(t2.exporter, tracing.OtlpHttpExporter)
    tracing.init_tracing()  # reset to no-op for other tests
    monkeypatch.delenv("OTEL_EXPORTER_OTLP_ENDPOINT", raising=False)
    tracing.init_tracing()
    assert tracing.TRACER.exporter is None


@pytest.mark.parametrize("entry", ["process_batch", "ingest_bronze"])
def test_streaming_batch_emits_reference_span_names(spark, tmp_path, entry):
    """One micro-batch through process_batch produces the
    handle_block_batch root with sink_append/save_state children —
    the reference's handle_streamer_message + insert span shape.  A
    batch ingest shares the append loop, so it emits the same
    sink_append spans."""
    from rust_near_indexer_spark import fixtures, sinks
    from rust_near_indexer_spark.streaming.pipeline import process_batch

    col = CollectExporter()
    tracing.TRACER.exporter = col
    try:
        blocks, _ = fixtures.generate(n_blocks=3, ttl_blocks=5)
        df = fixtures.blocks_df(spark, blocks)
        if entry == "process_batch":
            process_batch(
                df,
                batch_id=0,
                out_dir=str(tmp_path / "out"),
                state_dir=str(tmp_path / "state"),
                ttl_blocks=5,
            )
        else:
            sinks.ingest_bronze(spark, df, str(tmp_path / "out"), 1)
    finally:
        tracing.TRACER.exporter = None
    spans = [s for _, batch in col.batches for s in batch]
    sink_spans = [s for s in spans if s.name == "sink_append"]
    assert len(sink_spans) == 4  # four bronze tables
    assert {s.attributes["table"] for s in sink_spans} == {
        "events", "transactions", "execution_outcomes", "receipts"
    }
    assert all("rows" in s.attributes for s in sink_spans)
    if entry == "process_batch":
        (_, spans), = col.batches
        root = [s for s in spans if s.name == "handle_block_batch"]
        assert len(root) == 1 and root[0].attributes["n_blocks"] == 3
        assert "save_state" in [s.name for s in spans]
        assert all(s.parent_span_id == root[0].span_id for s in sink_spans)


def test_clickhouse_insert_span_carries_table():
    from rust_near_indexer_spark.clickhouse_sink import ClickHouseSink

    col = CollectExporter()
    tracing.TRACER.exporter = col
    try:
        sink = ClickHouseSink("http://ch:8123", post_fn=lambda u, b: None)
        sink.write_rows("events", [{"a": 1}, {"a": 2}])
    finally:
        tracing.TRACER.exporter = None
    (_, spans), = col.batches
    assert spans[0].name == "clickhouse_insert"
    assert spans[0].attributes["table"] == "events"
    assert spans[0].attributes["bytes"] > 0


def test_unconfigured_spans_never_leak_into_a_later_exporter():
    """No-op posture must not buffer: spans finished while no exporter
    is configured are dropped (bounded memory across a long streaming
    run) and must NOT flush into an exporter configured later."""
    t = tracing.Tracer("svc", None)
    for _ in range(50):
        with t.span("noop"):
            pass
    assert t._local.finished == []
    col = CollectExporter()
    t.exporter = col
    with t.span("first-real"):
        pass
    (_, spans), = col.batches
    assert [s.name for s in spans] == ["first-real"]
