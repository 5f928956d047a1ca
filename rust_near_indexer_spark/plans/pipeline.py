"""End-to-end bronze DAG: block stream → bronze tables, batch and streaming.

The per-block orchestration of the reference (R6,
indexer-clickhouse/src/handlers/mod.rs:66-139 — transactions seed state
first, then receipts/outcomes and events read it) becomes a declarative
DAG here: state resolution is a fixpoint over the whole bounded input,
which is equivalent for ordered replay because mapping validity windows
are checked against the reader's block height.  A streaming micro-batch
runs the same DAG with the carried state table added to the seeds.

What the DAG persists (the flattened outcomes and the resolved reader
rows) is pinned in a ``caching.Pins`` that the returned tables carry: a
failure inside the call releases it, and after a return the caller
closes ``tables.pins`` once every table has been consumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import schemas
from ..caching import Pins
from . import bronze, state


class BronzeTables(dict):
    """The bronze output tables by name.  ``mappings`` is the resolved
    correlation state; ``pins`` owns what the DAG persisted."""

    def __init__(self, tables: dict, mappings: DataFrame, pins: Pins) -> None:
        super().__init__(tables)
        self.mappings = mappings
        self.pins = pins


def run_bronze(
    blocks: DataFrame,
    accounts: tuple = schemas.ACCOUNTS_OF_INTEREST,
    ttl_blocks: int = state.DEFAULT_TTL_BLOCKS,
    block_end: int | None = None,
    events_only: bool = False,
    carried: DataFrame | None = None,
) -> BronzeTables:
    """Return the four bronze tables as DataFrames.

    block_end: bounded stop (R5, handlers/mod.rs:23-29) — the bound is
    applied up front, before extraction and state computation.  This is
    equivalent to the reference's stop-consuming-at-the-bound semantics
    because a mapping written at block W is only readable at blocks
    M ≥ W: state written above the bound is unreachable by any in-bound
    reader, so dropping those blocks entirely changes no emitted row.
    (Contrast with the accounts-of-interest filter, which must NOT be
    pushed past state writes — filtered txs still seed the potential
    tier; the DAG below honors that by building seeds/edges from the
    unfiltered flat_txs/flat_outcomes.)

    events_only: R26 (config.rs:74-76) — extract & state-update everything
    but only produce the events table.

    carried: mappings kept from earlier micro-batches (streaming).  The
    fixpoint runs over carried ∪ batch seeds and the batch's edges: an
    edge's parent mapping is either carried or produced in this batch —
    there are no forward cross-batch dependencies because a parent
    executes before its children are spawned.

    The caller owns the persisted intermediates and closes
    ``tables.pins`` once every table has been consumed.
    """
    if block_end is not None:
        blocks = blocks.where(blocks["block_height"] <= block_end)

    # the fixpoint runs eagerly, so a failure inside this block releases
    # the pins before the caller ever holds them
    with Pins() as pins:
        flat_txs = bronze.flatten_transactions(blocks)
        flat_outcomes = pins.pin(bronze.flatten_outcomes(blocks))

        seeds = state.seed_mappings(flat_txs, accounts)
        if carried is not None:
            seeds = carried.unionByName(seeds)
        edges = state.child_edges(flat_outcomes, accounts)
        mappings = state.resolve_mappings(seeds, edges, ttl_blocks)

        # resolved answers both read rules and feeds the outcome, receipt
        # and event projections; unpinned, every consumer action replays
        # the join/agg chain (r12 — measured via the bronze blocks/s
        # bench, which counts all four tables; same pattern as the
        # flat_outcomes pin above)
        resolved = pins.pin(
            state.resolve(
                state.readers_from_outcomes(flat_outcomes), mappings, accounts, ttl_blocks
            )
        )

        events = bronze.event_rows(flat_outcomes, resolved.where("event_readable"), accounts)
        out: dict[str, DataFrame] = {"events": events}
        if not events_only:
            outcomes_rows, receipt_rows = bronze.outcome_and_receipt_rows(
                flat_outcomes, resolved, accounts
            )
            out["transactions"] = bronze.transaction_rows(flat_txs, accounts)
            out["execution_outcomes"] = outcomes_rows.unionByName(
                bronze.tx_outcome_rows(flat_txs, accounts)
            )
            out["receipts"] = receipt_rows
        return BronzeTables(out, mappings, pins.pop_all())
