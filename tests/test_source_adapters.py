"""R1/R2 block sources: the same bronze pipeline run from a block
directory and from a blocksapi endpoint must produce identical tables
(per-table fingerprints).

The reference switches blocksapi vs NEAR-Lake behind one config enum
(`indexer-clickhouse/src/main.rs:59-79`) and the handlers never know
which fed them; `sources.block_stream` is the Spark rendering, with the
location as the switch, so the proof obligation is source invariance of
the output."""

from __future__ import annotations

import contextlib
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import SimpleNamespace
from urllib.parse import parse_qs, urlparse

import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark import fixtures, sinks
from rust_near_indexer_spark.canonical import fingerprint
from rust_near_indexer_spark.queries.near_events import TTL_BLOCKS
from rust_near_indexer_spark.streaming import run_streaming

N_BLOCKS = 120
N_CHUNKS = 3


@contextlib.contextmanager
def serve_blocks(blocks: list[dict]):
    """A live localhost blocksapi-style server over ``blocks``:
    ``GET /height`` returns the visible count and ``GET
    /blocks?from=N&limit=K`` a height-ordered JSON array cut at it.
    Yields ``server`` with ``.url`` and ``.visible`` (initially all
    blocks); raising ``.visible`` grows the chain."""
    server = SimpleNamespace(visible=len(blocks))

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - stdlib API name
            parsed = urlparse(self.path)
            if parsed.path == "/height":
                body = server.visible
            else:
                q = parse_qs(parsed.query)
                start, limit = int(q["from"][0]), int(q["limit"][0])
                body = blocks[: server.visible][start : start + limit]
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(json.dumps(body).encode())

        def log_message(self, *a):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    server.url = f"http://127.0.0.1:{httpd.server_port}"
    try:
        yield server
    finally:
        httpd.shutdown()
        httpd.server_close()


@pytest.fixture(scope="module")
def fixture_blocks():
    blocks, _ = fixtures.generate(n_blocks=N_BLOCKS, ttl_blocks=TTL_BLOCKS)
    return blocks


@pytest.fixture(scope="module")
def blocks_dir(tmp_path_factory, fixture_blocks):
    d = tmp_path_factory.mktemp("adapter_blocks")
    per = (len(fixture_blocks) + N_CHUNKS - 1) // N_CHUNKS
    for c in range(N_CHUNKS):
        chunk = fixture_blocks[c * per : (c + 1) * per]
        with open(d / f"chunk-{c:03d}.jsonl", "w") as f:
            for b in chunk:
                f.write(json.dumps(b, separators=(",", ":")) + "\n")
    return str(d)


def _table_fps(spark, out: str) -> dict[str, tuple]:
    fps = {}
    for name, pk in sinks.TABLE_PKS.items():
        df = sinks.read_final(spark, os.path.join(out, name), pk)
        cols = [F.col(c).cast("string") for c in df.columns if c != "receipt_ids"]
        fps[name] = tuple(
            df.agg(F.count("*").alias("n"), fingerprint(*cols).alias("fp")).collect()[0]
        )
    return fps


def test_all_source_kinds_fingerprint_match(spark, blocks_dir, fixture_blocks, tmp_path):
    """A block directory (one file per trigger) and a live endpoint over
    the same blocks (the default prefetch batch per trigger, over a real
    socket) index identical tables."""
    fps = {}
    with serve_blocks(fixture_blocks) as server:
        for kind, location in (("dir", blocks_dir), ("endpoint", server.url)):
            out = str(tmp_path / f"out-{kind}")
            run_streaming(
                spark,
                location,
                out,
                checkpoint_dir=str(tmp_path / f"ckpt-{kind}"),
                ttl_blocks=TTL_BLOCKS,
            )
            fps[kind] = _table_fps(spark, out)
    assert all(fps["dir"][t][0] > 0 for t in fps["dir"]), fps  # non-trivial corpus
    assert fps["endpoint"] == fps["dir"]


def test_http_poll_resumes_from_checkpoint_as_tip_advances(
    spark, blocks_dir, fixture_blocks, tmp_path
):
    """The live scenario R3 + R1 compose into: index to the server's
    tip, stop, the chain grows, restart from the same checkpoint — the
    second run must pick up at the committed ordinal (initialOffset/
    readBetweenOffsets from checkpoint restore over a real socket) and
    the final tables must fingerprint-match a single uninterrupted
    directory run."""
    with serve_blocks(fixture_blocks) as server:
        server.visible = len(fixture_blocks) // 2
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        common = dict(checkpoint_dir=ckpt, ttl_blocks=TTL_BLOCKS, blocks_per_trigger=40)
        run_streaming(spark, server.url, out, **common)  # indexes to half-tip
        server.visible = len(fixture_blocks)  # the chain grows
        run_streaming(spark, server.url, out, **common)  # resume to new tip

    ref = str(tmp_path / "ref")
    run_streaming(
        spark, blocks_dir, ref, checkpoint_dir=str(tmp_path / "ckpt-ref"), ttl_blocks=TTL_BLOCKS
    )
    assert _table_fps(spark, out) == _table_fps(spark, ref)


def test_http_poll_drops_corrupt_payloads_loudly(spark, tmp_path, caplog):
    """A block the endpoint serves in the wrong shape parses to a NULL
    block_height row: the stream keeps going to the tip instead of dying
    inside from_json, each micro-batch drops those rows with a warning
    and a count in ``corrupt_blocks_dropped_total``, and the tables equal
    a directory run over the good blocks alone."""
    import logging

    from rust_near_indexer_spark import metrics

    blocks, _ = fixtures.generate(n_blocks=12, ttl_blocks=TTL_BLOCKS)
    served = [dict(b) for b in blocks]
    served[2] = {"garbage": "\x00not-a-block"}  # parses as JSON, wrong shape
    served[4] = {"block_height": None}
    dropped0 = metrics.CORRUPT_BLOCKS_DROPPED_TOTAL.value
    processed0 = metrics.BLOCK_PROCESSED_TOTAL.value
    out = str(tmp_path / "out")
    with serve_blocks(served) as server, caplog.at_level(logging.WARNING):
        run_streaming(
            spark, server.url, out, str(tmp_path / "ckpt"),
            ttl_blocks=TTL_BLOCKS, blocks_per_trigger=4,
        )
    # triggers of 4 blocks: block 2 is in batch 0, block 4 in batch 1
    warned = [r.getMessage() for r in caplog.records if "did not parse" in r.getMessage()]
    assert warned == [
        "batch 0: dropped 1 block(s) that did not parse",
        "batch 1: dropped 1 block(s) that did not parse",
    ]
    assert metrics.CORRUPT_BLOCKS_DROPPED_TOTAL.value - dropped0 == 2
    assert metrics.BLOCK_PROCESSED_TOTAL.value - processed0 == len(blocks) - 2

    good_dir = tmp_path / "good"
    good_dir.mkdir()
    with open(good_dir / "blocks.jsonl", "w") as f:
        for i, b in enumerate(blocks):
            if i not in (2, 4):
                f.write(json.dumps(b, separators=(",", ":")) + "\n")
    ref = str(tmp_path / "ref")
    run_streaming(
        spark, str(good_dir), ref, str(tmp_path / "ckpt-ref"), ttl_blocks=TTL_BLOCKS
    )
    assert _table_fps(spark, out) == _table_fps(spark, ref)
