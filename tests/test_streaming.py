"""Streaming == batch: the Structured Streaming formulation must produce
exactly the bronze tables of the batch pipeline (per-table fingerprints),
including chains that span micro-batches and TTL expiry across batches."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark import fixtures, sinks
from rust_near_indexer_spark.canonical import fingerprint
from rust_near_indexer_spark.plans.pipeline import run_bronze
from rust_near_indexer_spark.queries.near_events import TTL_BLOCKS
from rust_near_indexer_spark.streaming import run_streaming

N_BLOCKS = 240  # same fixture parameters as scripts/make_fixture.py
N_CHUNKS = 4


@pytest.fixture(scope="module")
def chunked_blocks_dir(tmp_path_factory):
    """The fixture stream split into height-ordered chunk files — each
    chunk becomes (at least) one micro-batch."""
    blocks, _ = fixtures.generate(n_blocks=N_BLOCKS, ttl_blocks=TTL_BLOCKS)
    d = tmp_path_factory.mktemp("block_stream")
    per = (len(blocks) + N_CHUNKS - 1) // N_CHUNKS
    for c in range(N_CHUNKS):
        chunk = blocks[c * per : (c + 1) * per]
        with open(d / f"chunk-{c:03d}.jsonl", "w") as f:
            for b in chunk:
                f.write(json.dumps(b, separators=(",", ":")) + "\n")
    return str(d), blocks


def _fp(df):
    cols = [F.col(c).cast("string") for c in df.columns if c != "receipt_ids"]
    return df.agg(F.count("*").alias("n"), fingerprint(*cols).alias("fp")).collect()[0]


def test_streaming_equals_batch(spark, chunked_blocks_dir, tmp_path):
    blocks_dir, blocks = chunked_blocks_dir
    out = str(tmp_path / "out")
    run_streaming(
        spark,
        blocks_dir,
        out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        ttl_blocks=TTL_BLOCKS,
    )

    batch_tables = run_bronze(fixtures.blocks_df(spark, blocks), ttl_blocks=TTL_BLOCKS)
    for name, pk in sinks.TABLE_PKS.items():
        streamed = sinks.read_final(spark, os.path.join(out, name), pk)
        want = _fp(batch_tables[name])
        got = _fp(streamed.select(*[c for c in batch_tables[name].columns]))
        assert got == want, f"{name}: streaming diverged from batch ({got} vs {want})"


def test_streaming_silver_equals_batch(spark, chunked_blocks_dir, tmp_path):
    """S18 incremental MV maintenance: per-batch silver appends must union
    to exactly the batch-mode silver tables (ClickHouse MV semantics —
    each MV sees only the insert batch)."""
    from rust_near_indexer_spark.plans import silver

    blocks_dir, blocks = chunked_blocks_dir
    out = str(tmp_path / "out")
    run_streaming(
        spark,
        blocks_dir,
        out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        ttl_blocks=TTL_BLOCKS,
        with_silver=True,
    )
    batch_events = run_bronze(
        fixtures.blocks_df(spark, blocks), ttl_blocks=TTL_BLOCKS
    )["events"]
    batch_silver = silver.all_silver_tables(batch_events)
    for name in ("silver_nep_245_events", "silver_dip4_transfer", "silver_transfers"):
        streamed = (
            spark.read.parquet(os.path.join(out, "silver", name))
            .drop("ingest_seq", "height_bucket")
        )
        want = _fp(batch_silver[name])
        got = _fp(streamed.select(*batch_silver[name].columns))
        assert got == want, f"{name}: streamed silver diverged ({got} vs {want})"


def test_streaming_restart_is_noop(spark, chunked_blocks_dir, tmp_path):
    """Restarting with no new input (same checkpoint) changes nothing —
    the checkpoint + PK-dedup sink compose to exactly-once."""
    blocks_dir, _ = chunked_blocks_dir
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_streaming(spark, blocks_dir, out, checkpoint_dir=ckpt, ttl_blocks=TTL_BLOCKS)
    before = _fp(sinks.read_final(spark, os.path.join(out, "events"), sinks.TABLE_PKS["events"]))
    run_streaming(spark, blocks_dir, out, checkpoint_dir=ckpt, ttl_blocks=TTL_BLOCKS)
    after = _fp(sinks.read_final(spark, os.path.join(out, "events"), sinks.TABLE_PKS["events"]))
    assert before == after


_NEAR_DUPS = "the quick brown fox jumps over the lazy dog near the river"


def _near_dup_docs(spark):
    return spark.createDataFrame(
        [(1, _NEAR_DUPS, "web"), (2, _NEAR_DUPS + " bank", "web"), (3, "short", "web")],
        "doc_id long, text string, source string",
    )


def _curate(spark, tmp_path, monkeypatch):
    from rust_near_indexer_spark import caching, curation

    assert curation.curate(_near_dup_docs(spark))["decisions"].count() == 3
    caching.clear_caches()


def _write_dedup_artifact(spark, tmp_path, monkeypatch):
    from rust_near_indexer_spark import dedup_artifact
    from rust_near_indexer_spark.operators import graph

    def fail(*a, **k):
        raise RuntimeError("injected components failure")

    monkeypatch.setattr(graph, "connected_components", fail)
    with pytest.raises(RuntimeError, match="injected components failure"):
        dedup_artifact.write_dedup_artifact(
            _near_dup_docs(spark).select("doc_id", "text"), str(tmp_path / "art")
        )


def _append_ann_artifact(spark, tmp_path, monkeypatch):
    import math

    from rust_near_indexer_spark import ann_artifact

    def emb(ids):
        rows = []
        for i in ids:
            raw = [math.sin(0.7 * i + 1.3 * j) for j in range(64)]
            norm = math.sqrt(sum(x * x for x in raw))
            rows.append((i, [x / norm for x in raw], i % 7))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    path = str(tmp_path / "ann")
    ann_artifact.write_ann_artifact(emb(range(300, 530)), path)
    with pytest.raises(ValueError, match="donor range"):
        ann_artifact.append_ann_artifact(spark, path, emb([110]))


def _write_training_shards(spark, tmp_path, monkeypatch):
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    manifest = spark.createDataFrame(
        [(i, "web", i % 2) for i in range(6)], "doc_id long, source string, shard_id long"
    )
    stats = sinks.write_training_shards(docs, manifest, str(tmp_path / "shards"))
    assert stats == {"n_shards": 2, "n_docs": 6}


def _receipt_dag_depths(spark, tmp_path, monkeypatch):
    from rust_near_indexer_spark import caching
    from rust_near_indexer_spark.queries import near_events

    # the walk reads the bronze tables of the fixture blocks, not an sf dir
    assert near_events.receipt_dag_depths(spark, None).count() > 0
    caching.clear_caches()


def _failing_concurrent_append(spark, tmp_path, monkeypatch):
    import functools

    append = sinks.append

    def fail_receipts(df, path, *a, **kw):
        if os.path.basename(path) == "receipts":
            raise RuntimeError("injected append failure")
        return append(df, path, *a, **kw)

    monkeypatch.setattr(sinks, "append", fail_receipts)
    monkeypatch.setattr(
        sinks, "with_retries", functools.partial(sinks.with_retries, attempts=1)
    )
    blocks, _ = fixtures.generate(n_blocks=60, ttl_blocks=TTL_BLOCKS)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="injected append failure"):
        sinks.ingest_bronze(
            spark, fixtures.blocks_df(spark, blocks), str(out), 1, with_silver=True
        )
    # the other appends ran to the end before the error surfaced: each
    # committed its rows and no staging dir is left in flight
    for name in ("events", "transactions", "execution_outcomes", "silver/silver_transfers"):
        assert not [d for d in os.listdir(out / name) if d.startswith("_staging-")]
        assert spark.read.parquet(str(out / name)).count() > 0, name
    assert not (out / "receipts").exists()


_OWNERS = {
    "failing_concurrent_append": _failing_concurrent_append,
    "curate": _curate,
    "write_dedup_artifact": _write_dedup_artifact,
    "append_ann_artifact": _append_ann_artifact,
    "write_training_shards": _write_training_shards,
    "receipt_dag_depths": _receipt_dag_depths,
}


@pytest.mark.parametrize("entry", ["ingest_bronze", "process_batch", *_OWNERS])
def test_no_persisted_frame_outlives_its_batch(spark, tmp_path, monkeypatch, entry):
    """Every frame the bronze DAG, the silver fan-out or a micro-batch
    persists is released when the call returns, or raises: Spark's cache
    manager is as empty after a batch ingest, or after several
    micro-batches, as it was before — and again after one that fails
    inside the state fixpoint, and after a batch ingest whose receipts
    append fails while the other appends run.  The other owners leave it
    empty too:
    curation once ``clear_caches()`` ran, a dedup artifact build whose
    connected components fail, an ANN append refused for a donor-range
    id, a training-shard write, and the receipt-DAG walk once
    ``clear_caches()`` ran."""
    from rust_near_indexer_spark import caching
    from rust_near_indexer_spark.plans import state
    from rust_near_indexer_spark.streaming.pipeline import process_batch

    caching.clear_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    if entry in _OWNERS:
        _OWNERS[entry](spark, tmp_path, monkeypatch)
        assert cache.isEmpty()
        return
    blocks, _ = fixtures.generate(n_blocks=60, ttl_blocks=TTL_BLOCKS)
    out = str(tmp_path / "out")
    if entry == "ingest_bronze":
        sinks.ingest_bronze(
            spark, fixtures.blocks_df(spark, blocks), out, 1, with_silver=True
        )
    else:
        for i in range(3):
            process_batch(
                fixtures.blocks_df(spark, blocks[i * 20 : (i + 1) * 20]),
                i,
                out,
                str(tmp_path / "state"),
                ttl_blocks=TTL_BLOCKS,
                with_silver=True,
            )
    assert cache.isEmpty()

    child_edges = state.child_edges
    monkeypatch.setattr(
        state,
        "child_edges",
        lambda *a: child_edges(*a).withColumn(
            "child_receipt_id", F.raise_error(F.lit("injected edge failure"))
        ),
    )
    with pytest.raises(Exception, match="injected edge failure"):
        if entry == "ingest_bronze":
            sinks.ingest_bronze(spark, fixtures.blocks_df(spark, blocks), out, 2)
        else:
            process_batch(
                fixtures.blocks_df(spark, blocks[40:]), 3, out, str(tmp_path / "state")
            )
    assert cache.isEmpty()


def test_replayed_blocks_leave_no_duplicate_state(spark, tmp_path):
    """Re-delivering blocks still inside the TTL window (ingest --force,
    an overlapping range) re-derives mappings the carried state holds;
    the saved state keeps each mapping once."""
    from rust_near_indexer_spark.streaming.pipeline import process_batch

    blocks, _ = fixtures.generate(n_blocks=100, ttl_blocks=TTL_BLOCKS)
    state_dir = str(tmp_path / "state")
    for i, chunk in enumerate([blocks, blocks[90:], blocks[90:]]):
        process_batch(
            fixtures.blocks_df(spark, chunk),
            i,
            str(tmp_path / "out"),
            state_dir,
            ttl_blocks=TTL_BLOCKS,
            events_only=True,
        )
    saved = spark.read.parquet(os.path.join(state_dir, "mappings"))
    assert saved.count() == saved.distinct().count() > 0


def test_empty_trigger_writes_nothing(spark, tmp_path):
    """A trigger with no blocks returns 0, writes neither tables nor
    state, and leaves nothing in Spark's cache."""
    from rust_near_indexer_spark import caching, schemas
    from rust_near_indexer_spark.streaming.pipeline import process_batch

    caching.clear_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    empty = spark.createDataFrame([], schemas.BLOCK)
    out, state_dir = tmp_path / "out", tmp_path / "state"
    assert process_batch(empty, 0, str(out), str(state_dir), with_silver=True) == 0
    assert not out.exists() and not state_dir.exists()
    assert cache.isEmpty()
