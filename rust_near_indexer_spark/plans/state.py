"""Receipt→transaction correlation state (R16–R19) — batch formulation.

The reference resolves `receipt_id → parent_transaction_hash` through a
TTL'd two-tier Redis cache (indexer-common/src/cache/redis.rs): the
*main* tier holds definitive mappings, the *potential* tier speculative
ones, with promotion when a reader touches an account of interest
(receipts_and_outcomes.rs:258-328; events.rs:143-213).

Batch rendering (SURVEY §7.2): iterative propagation over the receipt
DAG to fixpoint, with the wall-clock TTL (900 s ≈ 50 blocks, README.md:10,
config.rs:27-29) replaced by a deterministic block-distance bound — a
mapping written at block W is readable at block M iff W ≤ M ≤ W+ttl.
This is replay-deterministic (better than wall-clock) and the reference's
only quality gate on this operator is the ≤5 % NULL rate
(scripts/validate.sh:126-135).

Writes modeled (all mirror exact reference call sites):
- seed: every tx maps its first receipt_id to its own hash — main tier if
  the tx touches accounts of interest, potential otherwise
  (extractors/transactions.rs:88-148, receipt_ids.first() :89-95);
- chaining: an outcome whose parent resolved maps all spawned child
  receipt_ids to the same tx — main tier if the outcome's receipt touches
  accounts of interest (set_many_receipts, :165-171), potential otherwise
  (set_many_potentials, :186-191, :238-251).

Read rules, both answered by one join and one aggregation in
``resolve`` (the reference's two branches on one cache lookup):
- outcomes/receipts path: main, then potential unconditionally
  (find_parent_tx_hash, :258-328);
- events path: main, then potential ONLY if receiver/predecessor of
  interest (events.rs:155-178).

Promotion's TTL refresh is not modeled: each receipt executes exactly
once, so no later reader exists for a promoted key; the simplification
cannot change any emitted row on a well-formed chain (documented
deviation, can only increase NULLs in replay-of-duplicate scenarios).

Scale: each iteration is one equi-join on receipt_id (shuffle bounded by
frontier size, which shrinks geometrically with DAG depth ≤ ~6) and the
TTL bound keeps resolved-state size O(receipts in window) under
streaming, where the state is a carried mapping table, not keyed
operator state: streaming/pipeline.py explains why keyed state cannot
express the cross-key fixpoint.  A round keeps no record of earlier
rounds: each receipt is spawned exactly once, so a round can only
rediscover an earlier mapping when blocks are replayed, and ``resolve``
collapses such duplicates (the streaming state save drops them too).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import Pins, materialize_observed
from .bronze import of_interest

log = logging.getLogger(__name__)

DEFAULT_TTL_BLOCKS = 50  # ≈ 900 s at ~1.1 s/block (README.md:10)

MAIN, POTENTIAL = "main", "potential"


def seed_mappings(flat_txs: DataFrame, accounts: tuple) -> DataFrame:
    """(first receipt_id → tx hash) per transaction; tier by interest."""
    return flat_txs.select(
        # null-safe first element: a tx whose outcome spawned no receipts
        # seeds nothing (receipt_ids.first() None-arm, transactions.rs:89-95)
        F.get(F.col("tx_outcome.outcome.receipt_ids"), F.lit(0)).alias("receipt_id"),
        F.col("tx.hash").alias("tx_hash"),
        F.when(of_interest(accounts, "tx.signer_id", "tx.receiver_id"), MAIN)
        .otherwise(POTENTIAL)
        .alias("tier"),
        F.col("block_height").alias("write_block"),
    ).where(F.col("receipt_id").isNotNull())


def child_edges(flat_outcomes: DataFrame, accounts: tuple) -> DataFrame:
    """One edge per (executed receipt → spawned child receipt).  The edge
    only takes effect if the parent resolves at the execution block; the
    child's tier depends on whether the outcome's receipt touches accounts
    of interest (emitted → main, filtered → potential)."""
    return flat_outcomes.select(
        F.col("receipt.receipt_id").alias("parent_receipt_id"),
        F.explode("eo.outcome.receipt_ids").alias("child_receipt_id"),
        F.col("block_height").alias("edge_block"),
        F.when(
            of_interest(accounts, "receipt.receiver_id", "receipt.predecessor_id"), MAIN
        )
        .otherwise(POTENTIAL)
        .alias("child_tier"),
    )


def resolve_mappings(
    seeds: DataFrame,
    edges: DataFrame,
    ttl_blocks: int = DEFAULT_TTL_BLOCKS,
    max_depth: int = 8,
) -> DataFrame:
    """Propagate seeds down the receipt DAG to fixpoint.

    Returns the full mapping table (receipt_id, tx_hash, tier,
    write_block).  Multiple validity windows per receipt are kept as
    separate rows (Redis overwrite = a later SETEX; readers check any
    window).

    Scale posture: each frontier is eagerly materialized (lineage
    truncation — no replanning-cost compounding, no recompute-chain on
    executor loss), the final mapping table is a union of materialized
    frontiers (nothing stays pinned in cache), and iteration count is
    bounded by the receipt-DAG depth (≤ ~6 in practice per SURVEY §7.2;
    default 8; stopping there with a non-empty frontier is logged).  Per
    round: one equi-join shuffle on a geometrically shrinking frontier +
    a distinct, whose row count rides the materialization job and ends
    the loop when it reaches zero.
    """
    n = F.count(F.lit(1)).alias("n")
    with Pins() as pins:
        edges = pins.pin(edges)
        frontier, seen = materialize_observed(seeds, n)
        mappings = frontier
        for _ in range(max_depth):
            frontier, seen = materialize_observed(
                edges.join(
                    frontier, edges["parent_receipt_id"] == frontier["receipt_id"], "inner"
                )
                .where(
                    (F.col("edge_block") >= F.col("write_block"))
                    & (F.col("edge_block") <= F.col("write_block") + ttl_blocks)
                )
                .select(
                    F.col("child_receipt_id").alias("receipt_id"),
                    "tx_hash",
                    F.col("child_tier").alias("tier"),
                    F.col("edge_block").alias("write_block"),
                )
                .distinct(),
                n,
            )
            if not seen["n"]:
                break
            # union of already-materialized frontiers: cheap to recompute, so
            # no persist needed — nothing accumulates in the cache.
            mappings = mappings.unionByName(frontier)
        if seen["n"]:
            log.warning(
                "resolve_mappings: stopped at max_depth=%d with %d mappings on "
                "the frontier; deeper receipts stay unresolved",
                max_depth,
                seen["n"],
            )
    return mappings


def resolve(
    readers: DataFrame,
    mappings: DataFrame,
    accounts: tuple,
    ttl_blocks: int = DEFAULT_TTL_BLOCKS,
    events_path: bool = False,
) -> DataFrame:
    """Resolve parent tx hashes for reader rows under both read rules.

    ``readers`` needs (receipt_id, read_block, receiver_id,
    predecessor_id); duplicate readers collapse.  Returns (receipt_id,
    read_block, tx_hash, event_readable) — one row per reader that
    resolves under the outcome/receipt rule; unresolved readers are
    absent (the caller's inner join reproduces drop-on-miss).
    ``event_readable`` says whether the reader also resolves under the
    stricter event rule (potential tier only when receiver/predecessor
    is of interest), and then to the same tx_hash: the pick below ranks
    the main tier first, so when any main mapping exists the overall
    winner is the main winner, and every reader variant of a
    (receipt_id, read_block) joins the same mapping rows, so the event
    rule changes only whether a reader resolves, never which tx.

    events_path=True keeps only the event-readable rows.
    """
    joined = readers.join(mappings, "receipt_id", "inner").where(
        (F.col("read_block") >= F.col("write_block"))
        & (F.col("read_block") <= F.col("write_block") + ttl_blocks)
    )
    # One mapping per reader.  Tie-break mirrors the reference's read
    # order + Redis overwrite semantics: main tier consulted first
    # (find_parent_tx_hash, receipts_and_outcomes.rs:258-328), and within
    # a tier a later SETEX wins (last-write-wins) → greatest write_block;
    # tx_hash as the final total order makes the pick deterministic even
    # for same-tier same-block duplicates.
    resolved = joined.groupBy("receipt_id", "read_block").agg(
        F.max_by(
            "tx_hash",
            F.struct(
                F.when(F.col("tier") == MAIN, F.lit(1)).otherwise(F.lit(0)).alias("tier_rank"),
                F.col("write_block").alias("write_block"),
                F.col("tx_hash").alias("tx_hash"),
            ),
        ).alias("tx_hash"),
        F.max(
            (F.col("tier") == MAIN) | of_interest(accounts, "receiver_id", "predecessor_id")
        ).alias("event_readable"),
    )
    return resolved.where("event_readable") if events_path else resolved


def readers_from_outcomes(flat_outcomes: DataFrame) -> DataFrame:
    return flat_outcomes.select(
        F.col("receipt.receipt_id").alias("receipt_id"),
        F.col("block_height").alias("read_block"),
        F.col("receipt.receiver_id").alias("receiver_id"),
        F.col("receipt.predecessor_id").alias("predecessor_id"),
    )
