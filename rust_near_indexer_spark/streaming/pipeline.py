"""Streaming indexer: block stream → bronze sinks, exactly-once.

The reference is a streaming system (R1/R2 sources → R4 ordered map →
per-block handlers → R23 sink, indexer-clickhouse/src/main.rs:59-79,
handlers/mod.rs:16-139).  The Spark-first rendering:

- **Source (R1/R2)**: ``readStream`` over a block directory (NEAR
  Lake) or a blocksapi endpoint, chosen from the location
  (sources.block_stream).  Both deliver the same schema in the same
  height order; a per-trigger bound sizes the micro-batch — the analog
  of the blocksapi prefetch batch (indexer-common/src/config.rs:98-104).
- **Ordered processing (R4)**: micro-batches run strictly serially
  (Structured Streaming's execution model) and the within-batch fixpoint
  checks mapping-validity windows against reader heights, so replay
  order is height-deterministic, not arrival-time-dependent.
- **Correlation state (R16–R19)**: the reference's Redis is a *shared*
  KV store read across keys (an outcome's lookup for receipt R writes
  mappings for its children R′ — a cross-key dependency chain).  Spark's
  keyed-state operators (``applyInPandasWithState`` /
  ``transformWithStateInPandas``) partition state BY KEY and forbid
  cross-key reads inside a batch, so chained same-batch resolution is
  inexpressible there.  The idiomatic Spark equivalent of a shared KV
  is an incrementally-maintained **state table**: each batch passes the
  carried mappings to the one bronze DAG (``run_bronze(carried=...)``,
  shared with batch ingest, as is the ``sinks.append_tables`` loop with
  its silver MV fan-out), which adds them to the seeds of the bounded
  fixpoint; the batch then saves the surviving window of mappings
  (TTL-pruned by height distance).  Deterministic, and the whole state
  lives in columnar storage instead of an external Redis.
- **Exactly-once**: ``foreachBatch`` may replay a batch after failure;
  every append is stamped with ``ingest_seq = batch_id`` and the sinks
  dedup by declared PK on read/compact (sinks.py), so replays collapse —
  the same ReplacingMergeTree + re-insert-overlap idempotency model the
  reference relies on (SURVEY §1.3).  The state is saved last, as a new
  generation swapped in by symlink (artifact_io.publish_artifact): a
  crash anywhere, inside the state write included, leaves the previous
  generation, so the replay reads the state the first attempt read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import metrics, schemas, sinks
from ..artifact_io import publish_artifact
from ..caching import Pins
from ..plans.pipeline import run_bronze
from ..plans.state import DEFAULT_TTL_BLOCKS
from ..tracing import TRACER
from .sources import block_stream, is_endpoint

_STATE_COLS = ("receipt_id", "tx_hash", "tier", "write_block")


def _load_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    path = os.path.join(state_dir, "mappings")
    return spark.read.parquet(path) if os.path.exists(path) else None


def _save_state(df: DataFrame, state_dir: str) -> None:
    # a new generation swapped in atomically: a write that fails leaves
    # the previous generation, the one this batch read, as the state.
    # distinct: a replayed block (ingest --force, an overlapping range)
    # re-derives mappings the carried state already holds
    publish_artifact(
        os.path.join(state_dir, "mappings"),
        None,
        lambda tmp: df.select(*_STATE_COLS).distinct().write.parquet(tmp),
    )


def process_batch(
    blocks: DataFrame,
    batch_id: int,
    out_dir: str,
    state_dir: str,
    accounts: tuple = schemas.ACCOUNTS_OF_INTEREST,
    ttl_blocks: int = DEFAULT_TTL_BLOCKS,
    events_only: bool = False,
    with_silver: bool = False,
) -> int:
    """One micro-batch: the streaming body of handle_streamer_message
    (handlers/mod.rs:66-139) over a batch of blocks.  Returns the number
    of blocks processed (0 for an empty trigger).

    Traced as the reference traces it: one ``handle_block_batch`` root
    span per batch (the handle_streamer_message span,
    handlers/mod.rs:58-65) with per-sink child spans; a no-op unless
    tracing.init_tracing configured an exporter."""
    with TRACER.span("handle_block_batch", batch_id=batch_id) as sp, Pins() as pins:
        sp.attributes["n_blocks"] = 0
        # One JSON parse per batch: blocks feeds both flattens (each read
        # by several consumers).  The max-height/count job fills the cache,
        # answers the empty-trigger check and feeds the TTL prune and the
        # R22 throughput/height metrics.
        blocks = pins.pin(blocks)
        agg = blocks.agg(
            F.max("block_height").alias("h"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        max_h, n = agg["h"], int(agg["n"])
        if not n:
            return 0
        tables = run_bronze(
            blocks,
            accounts,
            ttl_blocks,
            events_only=events_only,
            carried=_load_state(blocks.sparkSession, state_dir),
        )
        pins.enter_context(tables.pins)
        sinks.append_tables(tables, out_dir, batch_id, with_silver)
        metrics.BLOCK_PROCESSED_TOTAL.inc(n)
        metrics.LATEST_BLOCK_HEIGHT.set(max_h)
        # TTL prune: a mapping written at W is unreadable once every
        # future reader height exceeds W + ttl; batches arrive in
        # height order, so pruning against the batch's max height is
        # safe.
        with TRACER.span("save_state", max_block_height=int(max_h)):
            _save_state(
                tables.mappings.where(F.col("write_block") >= max_h - ttl_blocks),
                state_dir,
            )
        sp.attributes["n_blocks"] = n
        return n


def run_streaming(
    spark: SparkSession,
    location: str,
    out_dir: str,
    checkpoint_dir: str,
    state_dir: str | None = None,
    accounts: tuple = schemas.ACCOUNTS_OF_INTEREST,
    ttl_blocks: int = DEFAULT_TTL_BLOCKS,
    blocks_per_trigger: int | None = None,
    events_only: bool = False,
    with_silver: bool = False,
) -> None:
    """Index every block the source holds when the call starts, then
    return — R5's bounded stop in streaming form.

    ``location`` is a block directory or a blocksapi endpoint
    (sources.block_stream); the downstream pipeline does not know which.
    Each source bounds itself.  The directory runs under
    Trigger.AvailableNow, which snapshots the file listing at start.  The
    endpoint's reader stops at the tip it read at start, and
    ``processAllAvailable`` drains to it: a Python data source does not
    support AvailableNow (Spark falls back to a single batch).
    """
    state_dir = state_dir or os.path.join(out_dir, "_state")

    def _batch(df: DataFrame, bid: int) -> None:
        process_batch(
            df,
            bid,
            out_dir,
            state_dir,
            accounts=accounts,
            ttl_blocks=ttl_blocks,
            events_only=events_only,
            with_silver=with_silver,
        )

    writer = (
        block_stream(spark, location, blocks_per_trigger)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if is_endpoint(location):
        query = writer.trigger(processingTime="0 seconds").start()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    else:
        writer.trigger(availableNow=True).start().awaitTermination()
