"""Bronze extraction: block stream → 4 core row tables.

Spark-first rendering of the Rust extractors (SURVEY §2A R7–R15,
R20–R21): nested-array explosion instead of iterator flat_maps, column
expressions instead of per-row parsing, and zero Python UDFs.  The
stateful receipt→tx correlation (R16–R19) lives in ``state.py``; the
functions here either feed it (seeds/edges) or consume its resolved
mappings.

Scale posture: every function is a narrow projection/explode over the
block scan — no shuffles at all until the resolution join, which is a
single equi-join keyed by receipt_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas

# The 12 Action variants (indexer-primitives/src/lib.rs:93-108).  Unknown
# variants are silently dropped (`filter_map(.. .ok())`,
# extractors/transactions.rs:126-128) — the null-filter below preserves that.
KNOWN_ACTION_TYPES = (
    "CreateAccount",
    "DeployContract",
    "FunctionCall",
    "Transfer",
    "Stake",
    "AddKey",
    "DeleteKey",
    "DeleteAccount",
    "Delegate",
    "DeployGlobalContract",
    "UseGlobalContract",
    "DeterministicStateInit",
)

EVENT_JSON_PREFIX = "EVENT_JSON:"  # extractors/events.rs:7


def canonical_status(col: Column | str) -> Column:
    """Status enum → string projection (R21, extractors/events.rs:235-246).

    Maps the source's ExecutionStatusView variant names to the four
    canonical strings the reference emits; already-canonical values pass
    through unchanged (the enum is closed, so no other input exists).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "SuccessReceiptId", F.lit("success_receipt_id"))
        .when(c == "SuccessValue", F.lit("success_value"))
        .when(c == "Failure", F.lit("failure"))
        .when(c == "Unknown", F.lit("unknown"))
        .otherwise(c)
    )


def of_interest(accounts: tuple, *cols: Column | str) -> Column:
    """any_account_id_of_interest (indexer-common/src/lib.rs:11-18):
    true iff ANY of the columns is in the account set.  The set is tiny —
    Catalyst compiles isin() to an in-predicate, no join needed."""
    pred = F.lit(False)
    for c in cols:
        c = F.col(c) if isinstance(c, str) else c
        pred = pred | c.isin(*accounts)
    return pred


def actions_to_json(actions: Column) -> Column:
    """Tagged-union JSON encode (R12): array<struct<action_type,params>> →
    '[{"action_type":"X","params":{...}}]' with params inlined as raw JSON
    (serde tag/content attrs, indexer-primitives/src/lib.rs:94).  Unknown
    variants dropped, matching filter_map semantics."""
    known = F.filter(
        actions, lambda a: a["action_type"].isin(*KNOWN_ACTION_TYPES)
    )
    rendered = F.transform(
        known,
        lambda a: F.concat(
            F.lit('{"action_type":"'),
            a["action_type"],
            F.lit('","params":'),
            F.coalesce(a["params"], F.lit("null")),
            F.lit("}"),
        ),
    )
    return F.when(actions.isNull(), F.lit("[]")).otherwise(
        F.concat(F.lit("["), F.array_join(rendered, ","), F.lit("]"))
    )


# ---------------------------------------------------------------------------
# Flattening (R7/R8/R9): pure explodes, no shuffle.
# ---------------------------------------------------------------------------

_BLOCK_COLS = ["block_height", "block_timestamp_ns", "block_hash"]


def flatten_transactions(blocks: DataFrame) -> DataFrame:
    """message.shards[].chunk?.transactions[] → one row per transaction
    (extractors/transactions.rs:36-40)."""
    return (
        blocks.select(*_BLOCK_COLS, F.explode("shards").alias("shard"))
        .where(F.col("shard.chunk").isNotNull())
        .select(*_BLOCK_COLS, F.explode("shard.chunk.transactions").alias("t"))
        .select(
            *_BLOCK_COLS,
            F.col("t.transaction").alias("tx"),
            F.col("t.outcome.execution_outcome").alias("tx_outcome"),
        )
    )


def flatten_outcomes(blocks: DataFrame) -> DataFrame:
    """shards[].receipt_execution_outcomes[] → one row per outcome, with
    receipt_index_in_block = position in the block-wide flat_map+enumerate
    (extractors/events.rs:24-29) — i.e. across shards in shard order."""
    all_outcomes = F.flatten(
        F.transform(
            "shards",
            lambda s: F.coalesce(
                s["receipt_execution_outcomes"],
                # empty array typed from the single source of truth —
                # schema evolution cannot silently diverge a string copy
                F.array().cast(schemas.SHARD["receipt_execution_outcomes"].dataType),
            ),
        )
    )
    return blocks.select(
        *_BLOCK_COLS,
        F.posexplode(all_outcomes).alias("receipt_index_in_block", "oc"),
    ).select(
        *_BLOCK_COLS,
        "receipt_index_in_block",
        F.col("oc.execution_outcome").alias("eo"),
        F.col("oc.receipt").alias("receipt"),
    )


# ---------------------------------------------------------------------------
# Transaction rows (R10/R11/R12) + tx execution outcomes (R13).
# ---------------------------------------------------------------------------


def transaction_rows(flat_txs: DataFrame, accounts: tuple) -> DataFrame:
    """TransactionRow projection (extractors/transactions.rs:80-149):
    keep iff signer or receiver of interest; actions as tagged JSON."""
    return flat_txs.where(
        of_interest(accounts, "tx.signer_id", "tx.receiver_id")
    ).select(
        *_BLOCK_COLS,
        F.col("tx.hash").alias("transaction_hash"),
        F.col("tx.signer_id").alias("signer_id"),
        F.col("tx.receiver_id").alias("receiver_id"),
        actions_to_json(F.col("tx.actions")).alias("actions"),
    )


def tx_outcome_rows(flat_txs: DataFrame, accounts: tuple) -> DataFrame:
    """Transaction execution-outcome rows (extractors/transactions.rs:190-234):
    same interest filter; parent_transaction_hash = the tx itself."""
    return flat_txs.where(
        of_interest(accounts, "tx.signer_id", "tx.receiver_id")
    ).select(
        *_BLOCK_COLS,
        F.col("tx_outcome.id").alias("execution_outcome_id"),
        F.col("tx.hash").alias("parent_transaction_hash"),
        F.col("tx_outcome.outcome.executor_id").alias("executor_id"),
        F.col("tx_outcome.outcome.receipt_ids").alias("receipt_ids"),
        canonical_status(F.col("tx_outcome.outcome.status")).alias("status"),
        F.to_json(F.coalesce(F.col("tx_outcome.outcome.logs"), F.array())).alias("logs"),
        F.col("tx_outcome.outcome.tokens_burnt").alias("tokens_burnt"),
        F.col("tx_outcome.outcome.gas_burnt").alias("gas_burnt"),
    )


# ---------------------------------------------------------------------------
# Receipt + outcome rows (R14/R15), given resolved parent mappings.
# `resolved` carries (receipt_id, read_block, tx_hash, event_readable)
# from state.resolve.
# ---------------------------------------------------------------------------


def receipt_actions_json(receipt: Column) -> Column:
    """ReceiptEnumView projection (R15, receipts_and_outcomes.rs:195-225):
    Action → tagged actions JSON; Data → data payload JSON (null → 'null');
    GlobalContractDistribution → ''."""
    return (
        F.when(receipt["receipt_kind"] == "Action", actions_to_json(receipt["actions"]))
        .when(receipt["receipt_kind"] == "Data", F.coalesce(receipt["data"], F.lit("null")))
        .otherwise(F.lit(""))
    )


def outcome_and_receipt_rows(
    flat_outcomes: DataFrame, resolved: DataFrame, accounts: tuple
) -> tuple[DataFrame, DataFrame]:
    """Single-pass dual projection (R14): one resolution join feeds both
    the execution_outcomes and receipts tables — the Spark rendering of
    `collect_outcomes_and_receipts` (receipts_and_outcomes.rs:42-120).

    Emission rule (receipts_and_outcomes.rs:140-150): parent resolved AND
    receipt.receiver/predecessor of interest.
    """
    base = flat_outcomes.join(
        resolved,
        (flat_outcomes["receipt.receipt_id"] == resolved["receipt_id"])
        & (flat_outcomes["block_height"] == resolved["read_block"]),
        "inner",
    ).where(
        of_interest(accounts, "receipt.receiver_id", "receipt.predecessor_id")
    )
    outcome_rows = base.select(
        *_BLOCK_COLS,
        F.col("eo.id").alias("execution_outcome_id"),
        F.col("tx_hash").alias("parent_transaction_hash"),
        F.col("eo.outcome.executor_id").alias("executor_id"),
        F.coalesce(F.col("eo.outcome.receipt_ids"), F.array().cast("array<string>")).alias(
            "receipt_ids"
        ),
        canonical_status(F.col("eo.outcome.status")).alias("status"),
        F.to_json(F.coalesce(F.col("eo.outcome.logs"), F.array())).alias("logs"),
        F.col("eo.outcome.tokens_burnt").alias("tokens_burnt"),
        F.col("eo.outcome.gas_burnt").alias("gas_burnt"),
    )
    receipt_rows = base.select(
        *_BLOCK_COLS,
        F.col("tx_hash").alias("parent_transaction_hash"),
        F.col("receipt.receipt_id").alias("receipt_id"),
        F.col("receipt.receiver_id").alias("receiver_id"),
        F.col("receipt.predecessor_id").alias("predecessor_id"),
        receipt_actions_json(F.col("receipt")).alias("actions"),
    )
    return outcome_rows, receipt_rows


# ---------------------------------------------------------------------------
# Event rows (R9/R20/R21).
# ---------------------------------------------------------------------------


def event_rows(
    flat_outcomes: DataFrame, resolved_events: DataFrame, accounts: tuple
) -> DataFrame:
    """Event log parser (R20, extractors/events.rs:103-232), Spark-first:

    1. fast executor filter (events.rs:112-115) — cheap predicate first;
    2. posexplode(logs) → index_in_log (R9);
    3. trim + EVENT_JSON: prefix gate (events.rs:120-123);
    4. dip4/nep245 SUBSTRING filter on the whole trimmed log — the
       reference checks the raw log text, not the parsed standard
       (events.rs:138-141); preserved verbatim;
    5. JSON field extraction; malformed or field-missing → drop-with-warn
       semantics = null-filter (events.rs:126-136; EventJson requires all
       four fields, indexer-primitives/src/lib.rs:44-50);
    6. parent-tx resolution join (events path: dropped when unresolved,
       events.rs:206-213).

    ``resolved_events`` must be state.resolve's rows where
    ``event_readable`` (main tier always readable; potential tier only for
    receipts whose receiver/predecessor is of interest —
    events.rs:143-213).

    execution_status goes through canonical_status (R21,
    events.rs:235-246): raw ExecutionStatusView variant names are mapped
    to the four canonical strings at this bronze boundary.
    """
    logs = (
        flat_outcomes.where(of_interest(accounts, "eo.outcome.executor_id"))
        .select(
            *_BLOCK_COLS,
            "receipt_index_in_block",
            "eo",
            "receipt",
            F.posexplode("eo.outcome.logs").alias("index_in_log", "log"),
        )
        .withColumn("log_trimmed", F.trim(F.col("log")))
        .where(F.col("log_trimmed").startswith(EVENT_JSON_PREFIX))
        .withColumn(
            "payload", F.expr(f"substring(log_trimmed, {len(EVENT_JSON_PREFIX) + 1})")
        )
        .where(
            F.col("log_trimmed").contains("dip4") | F.col("log_trimmed").contains("nep245")
        )
        .select(
            *_BLOCK_COLS,
            "receipt_index_in_block",
            "index_in_log",
            "eo",
            "receipt",
            F.get_json_object("payload", "$.version").alias("version"),
            F.get_json_object("payload", "$.standard").alias("standard"),
            F.get_json_object("payload", "$.event").alias("event"),
            F.get_json_object("payload", "$.data").alias("data"),
        )
        .where(
            F.col("version").isNotNull()
            & F.col("standard").isNotNull()
            & F.col("event").isNotNull()
            & F.col("data").isNotNull()
        )
    )
    return logs.join(
        resolved_events,
        (logs["receipt.receipt_id"] == resolved_events["receipt_id"])
        & (logs["block_height"] == resolved_events["read_block"]),
        "inner",
    ).select(
        *_BLOCK_COLS,
        F.col("eo.outcome.executor_id").alias("contract_id"),
        canonical_status(F.col("eo.outcome.status")).alias("execution_status"),
        "version",
        "standard",
        F.col("index_in_log").cast("long").alias("index_in_log"),
        "event",
        "data",
        F.col("receipt.receipt_id").alias("related_receipt_id"),
        F.col("receipt.receiver_id").alias("related_receipt_receiver_id"),
        F.col("receipt.predecessor_id").alias("related_receipt_predecessor_id"),
        F.col("tx_hash"),
        F.col("receipt_index_in_block").cast("long").alias("receipt_index_in_block"),
    )
