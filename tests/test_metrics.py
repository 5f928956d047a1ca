"""R22 observability: Prometheus-format registry, /metrics endpoint, and
the job-free streaming-pipeline wiring (reference:
indexer-common/src/metrics.rs:36-88 metric set, :90-160 HTTP server)."""

from __future__ import annotations

import urllib.request

import pytest

from rust_near_indexer_spark import metrics


def test_registry_renders_prometheus_text_format():
    reg = metrics.MetricsRegistry()
    c = reg.counter("my_total", "a counter")
    g = reg.gauge("my_height", "a gauge")
    v = reg.gauge_vec("my_assets", "labeled", ("asset_type",))
    c.inc()
    c.inc(4)
    g.set(97)
    v.labels(asset_type="events").set(12)
    v.labels(asset_type="receipts").set(3)
    text = reg.render()
    assert "# HELP my_total a counter" in text
    assert "# TYPE my_total counter" in text
    assert "\nmy_total 5\n" in text
    assert "\nmy_height 97\n" in text
    assert 'my_assets{asset_type="events"} 12' in text
    assert 'my_assets{asset_type="receipts"} 3' in text


def test_default_registry_has_reference_metric_names():
    text = metrics.REGISTRY.render()
    for name in (
        "total_blocks_processed",
        "latest_block_height",
        "assets_in_block_captured_total",
        "total_tx_store_errors",
        "database_insert_retries_total",
        "indexer_version_info",
    ):
        assert f"# HELP {name} " in text, name


def test_metrics_http_endpoint():
    reg = metrics.MetricsRegistry()
    reg.gauge("up_gauge", "x").set(1)
    server = metrics.start_metrics_server(port=0, registry=reg)
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            assert r.status == 200
            assert "text/plain" in r.headers["Content-Type"]
            body = r.read().decode()
        assert "up_gauge 1" in body
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_with_retries_feeds_counters():
    from rust_near_indexer_spark.sinks import with_retries

    r0 = metrics.DATABASE_INSERT_RETRIES_TOTAL.value
    e0 = metrics.STORE_ERRORS_TOTAL.value
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retries(flaky, sleep=lambda _: None) == "ok"
    assert metrics.DATABASE_INSERT_RETRIES_TOTAL.value == r0 + 2
    assert metrics.STORE_ERRORS_TOTAL.value == e0

    def always_fails():
        raise RuntimeError("fatal")

    try:
        with_retries(always_fails, attempts=2, sleep=lambda _: None)
        raise AssertionError("expected raise")
    except RuntimeError:
        pass
    assert metrics.STORE_ERRORS_TOTAL.value == e0 + 1


@pytest.mark.parametrize("entry", ["process_batch", "ingest_bronze"])
def test_process_batch_updates_pipeline_metrics(spark, tmp_path, entry):
    """One micro-batch through process_batch must advance the
    blocks-processed counter, set the latest height, and record per-table
    captured row counts — all from jobs the batch already runs.  A batch
    ingest shares the append loop, so it records the same captured
    counts."""
    from rust_near_indexer_spark import fixtures, sinks
    from rust_near_indexer_spark.streaming.pipeline import process_batch

    blocks, _ = fixtures.generate(n_blocks=40)
    df = fixtures.blocks_df(spark, blocks)
    tables = ("events", "transactions", "receipts", "execution_outcomes")
    for k in tables:
        metrics.ASSETS_IN_BLOCK_CAPTURED_TOTAL.labels(asset_type=k).set(0)
    b0 = metrics.BLOCK_PROCESSED_TOTAL.value
    if entry == "process_batch":
        process_batch(df, 0, str(tmp_path / "out"), str(tmp_path / "state"))
        assert metrics.BLOCK_PROCESSED_TOTAL.value == b0 + 40
        assert metrics.LATEST_BLOCK_HEIGHT.value == max(b["block_height"] for b in blocks)
    else:
        sinks.ingest_bronze(spark, df, str(tmp_path / "out"), 1)
    captured = {
        k: metrics.ASSETS_IN_BLOCK_CAPTURED_TOTAL.labels(asset_type=k).value
        for k in tables
    }
    assert all(v > 0 for v in captured.values()), captured
