"""Silver layer: the 7 insert-triggered ClickHouse MVs as DataFrame transforms.

Each function is the Spark-first rendering of one materialized view from
clickhouse/init/02-silver-tables.sql (S1, S3–S9, S17 of SURVEY §2B):
typed ``from_json`` + ``explode`` replaces arrayJoin/JSONExtract, with the
reference's exact null-defaulting (``coalesce(JSON_VALUE(...), '')``),
conditional projections, per-MV cutoff timestamps, and contract filters.

In the reference these run per inserted block (incremental view
maintenance, S18); here they are pure stateless column transforms over
the bronze ``events`` table, so the same function body serves batch
(full-table recompute), incremental ``foreachBatch``, and Structured
Streaming (the transforms contain no aggregation, joins, or state).

Scale posture: every transform is filter→explode→project — no shuffles;
predicate pushdown reaches the events scan (standard/contract/timestamp
are all scan-level filters).

Timestamps follow the repo convention (SURVEY §1.2): canonical
``block_timestamp_ns`` LongType everywhere; the reference's per-MV
``block_timestamp >= '...'`` cutoffs become ns-epoch comparisons.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas


def _cutoff_ns(s: str) -> int:
    return int(dt.datetime.fromisoformat(s + "+00:00").timestamp()) * 10**9


# Per-MV cutoffs (02-silver-tables.sql:79,152,219,272,325); the two
# dip4-transfer MVs have none (:388,:494).
CUTOFF_NEP245_NS = _cutoff_ns("2025-02-12 22:10:00")
CUTOFF_TOKEN_DIFF_NS = _cutoff_ns("2025-02-18 22:55:00")
CUTOFF_PUBLIC_KEYS_NS = _cutoff_ns("2025-02-12 23:35:00")
CUTOFF_INTENTS_EXECUTED_NS = _cutoff_ns("2025-02-12 23:45:00")
CUTOFF_FEE_CHANGED_NS = _cutoff_ns("2025-02-12 23:50:00")

_COMMON = [
    "block_height",
    "block_timestamp_ns",
    "block_hash",
    "contract_id",
    "execution_status",
    "version",
    "standard",
    "event",
    "related_receipt_id",
    "related_receipt_receiver_id",
    "related_receipt_predecessor_id",
]


def _jv(col, default: bool = True):
    """coalesce(JSON_VALUE(...), '') — the MVs' null-defaulting idiom."""
    return F.coalesce(col, F.lit("")) if default else col


def nep_245_events(events: DataFrame) -> DataFrame:
    """mv_silver_nep_245_events (02-silver-tables.sql:57-93): S4 explode of
    the data array, S7 arrays_zip of token_ids∥amounts, S8 owner-id
    conditional, S9 cast to double (the raw-quote scrub is subsumed by the
    typed parse)."""
    d = events.where(
        (F.col("standard") == "nep245")
        & (F.col("block_timestamp_ns") >= CUTOFF_NEP245_NS)
    ).withColumn("data_row", F.explode(F.from_json("data", schemas.NEP245_DATA)))
    zipped = d.select(
        *_COMMON,
        "tx_hash",
        _jv(F.col("data_row.memo")).alias("memo"),
        F.when(F.col("event") == "mt_transfer", F.col("data_row.old_owner_id"))
        .otherwise(F.col("data_row.owner_id"))
        .alias("old_owner_id"),
        F.when(F.col("event") == "mt_transfer", F.col("data_row.new_owner_id"))
        .otherwise(F.col("data_row.owner_id"))
        .alias("new_owner_id"),
        F.explode(
            F.arrays_zip(
                F.col("data_row.token_ids").alias("token_id"),
                F.col("data_row.amounts").alias("amount"),
            )
        ).alias("t"),
    )
    return zipped.select(
        *_COMMON,
        "tx_hash",
        "memo",
        "old_owner_id",
        "new_owner_id",
        F.col("t.token_id").alias("token_id"),
        F.col("t.amount").cast("double").alias("amount"),
    )


def dip4_token_diff(
    events: DataFrame, contracts: tuple = schemas.PRODUCTION_CONTRACTS
) -> DataFrame:
    """mv_silver_dip4_token_diff (02-silver-tables.sql:129-170): S6 map
    explode of the signed-float diff map, S8 sign-split projections."""
    d = (
        events.where(
            F.col("contract_id").isin(*contracts)
            & (F.col("standard") == "dip4")
            & (F.col("event") == "token_diff")
            & (F.col("block_timestamp_ns") >= CUTOFF_TOKEN_DIFF_NS)
        )
        .withColumn("data_row", F.explode(F.from_json("data", schemas.DIP4_TOKEN_DIFF_DATA)))
        .select(
            *_COMMON,
            _jv(F.col("data_row.account_id")).alias("account_id"),
            _jv(F.col("data_row.intent_hash")).alias("intent_hash"),
            _jv(F.col("data_row.referral")).alias("referral"),
            F.explode(F.map_entries("data_row.diff")).alias("kv"),
        )
    )
    v = F.col("kv.value")
    return d.select(
        *_COMMON,
        "account_id",
        F.when(v >= 0, F.col("kv.key")).otherwise(F.lit("")).alias("diff_positive_token"),
        F.when(v >= 0, v).otherwise(F.lit(0.0)).alias("diff_positive_amount"),
        F.when(v < 0, F.col("kv.key")).otherwise(F.lit("")).alias("diff_negative_token"),
        F.when(v < 0, v).otherwise(F.lit(0.0)).alias("diff_negative_amount"),
        "intent_hash",
        "referral",
    )


def dip4_public_keys(
    events: DataFrame, contracts: tuple = schemas.PRODUCTION_CONTRACTS
) -> DataFrame:
    """mv_silver_dip4_public_keys (02-silver-tables.sql:201-223): object
    payload (no arrayJoin), S5 scalar extraction only."""
    d = events.where(
        F.col("contract_id").isin(*contracts)
        & (F.col("standard") == "dip4")
        & (F.col("event").isin("public_key_added", "public_key_removed"))
        & (F.col("block_timestamp_ns") >= CUTOFF_PUBLIC_KEYS_NS)
    ).withColumn("data_row", F.from_json("data", schemas.DIP4_PUBLIC_KEY_DATA))
    return d.select(
        *_COMMON,
        _jv(F.col("data_row.account_id")).alias("account_id"),
        _jv(F.col("data_row.public_key")).alias("public_key"),
    )


def dip4_intents_executed(
    events: DataFrame, contracts: tuple = schemas.PRODUCTION_CONTRACTS
) -> DataFrame:
    """mv_silver_dip4_intents_executed (02-silver-tables.sql:254-276)."""
    d = events.where(
        F.col("contract_id").isin(*contracts)
        & (F.col("standard") == "dip4")
        & (F.col("event") == "intents_executed")
        & (F.col("block_timestamp_ns") >= CUTOFF_INTENTS_EXECUTED_NS)
    ).withColumn(
        "data_row", F.explode(F.from_json("data", schemas.DIP4_INTENTS_EXECUTED_DATA))
    )
    return d.select(
        *_COMMON,
        _jv(F.col("data_row.account_id")).alias("account_id"),
        _jv(F.col("data_row.intent_hash")).alias("intent_hash"),
    )


def dip4_fee_changed(
    events: DataFrame, contracts: tuple = schemas.PRODUCTION_CONTRACTS
) -> DataFrame:
    """silver_mv_dip4_fee_changed (02-silver-tables.sql:307-329): object
    payload."""
    d = events.where(
        F.col("contract_id").isin(*contracts)
        & (F.col("standard") == "dip4")
        & (F.col("event") == "fee_changed")
        & (F.col("block_timestamp_ns") >= CUTOFF_FEE_CHANGED_NS)
    ).withColumn("data_row", F.from_json("data", schemas.DIP4_FEE_CHANGED_DATA))
    return d.select(
        *_COMMON,
        _jv(F.col("data_row.old_fee")).alias("old_fee"),
        _jv(F.col("data_row.new_fee")).alias("new_fee"),
    )


def dip4_transfer(events: DataFrame, contracts: tuple) -> DataFrame:
    """mv_silver_dip4_transfer / mv_staging_silver_dip4_transfer
    (02-silver-tables.sql:365-403,471-509): no timestamp cutoff; S6 map
    explode of tokens{token→amount-string}; S9 quote-scrub+cast is the
    typed map's value cast.  ``contracts`` selects production vs staging."""
    d = (
        events.where(
            F.col("contract_id").isin(*contracts)
            & (F.col("standard") == "dip4")
            & (F.col("event") == "transfer")
        )
        .withColumn("data_row", F.explode(F.from_json("data", schemas.DIP4_TRANSFER_DATA)))
        .select(
            *_COMMON,
            "tx_hash",
            _jv(F.col("data_row.memo")).alias("memo"),
            # JSON_VALUE without coalesce → nullable (sql:392-393)
            F.col("data_row.account_id").alias("old_owner_id"),
            F.col("data_row.receiver_id").alias("new_owner_id"),
            _jv(F.col("data_row.intent_hash")).alias("intent_hash"),
            F.explode(F.map_entries("data_row.tokens")).alias("kv"),
        )
    )
    return d.select(
        *_COMMON,
        "tx_hash",
        "memo",
        "old_owner_id",
        "new_owner_id",
        F.col("kv.key").alias("token_id"),
        F.col("kv.value").cast("double").alias("amount"),
        "intent_hash",
    )


_TRANSFER_COLS = _COMMON + [
    "tx_hash",
    "memo",
    "old_owner_id",
    "new_owner_id",
    "token_id",
    "amount",
    "intent_hash",
]


def transfers_union(
    nep245: DataFrame, transfer: DataFrame, contracts: tuple
) -> DataFrame:
    """silver_transfers / staging_silver_transfers UNION ALL views
    (02-silver-tables.sql:410-435,516-541, S17): nep245 rows for the given
    contract set with intent_hash='' ∪ the dip4 transfer table."""
    nep_part = nep245.where(F.col("contract_id").isin(*contracts)).select(
        *_COMMON,
        "tx_hash",
        "memo",
        "old_owner_id",
        "new_owner_id",
        "token_id",
        "amount",
        F.lit("").alias("intent_hash"),
    )
    return nep_part.unionByName(transfer.select(*_TRANSFER_COLS))


def dip4_transfers_r25(
    events: DataFrame, contracts: tuple = schemas.PRODUCTION_CONTRACTS
) -> DataFrame:
    """R25 — the reference's *second*, in-process formulation of the dip4
    transfer silver table (extract_silver_dip4_transfers,
    indexer-common/src/extractors/silver_transfers.rs:25-114), used by the
    PG sink.  Differences from the MV (mv_silver_dip4_transfer):

    - adds a ``referral`` column: the first non-empty referral among the
      receipt's token_diff data items, in scan order
      (silver_transfers.rs:32-53) — here a groupBy-first aggregate with a
      deterministic (block, receipt_index, log_index, item_pos) order,
      broadcast-left-joined (tiny per-receipt dim);
    - ``amount`` is the exact decimal string → DecimalType(38,0) (the PG
      NUMERIC path, migrations/...sql:18) instead of lossy Float64;
    - empty memo → NULL (silver_transfers.rs:80);
    - no timestamp cutoff, same production-contract filter.

    Cross-validated row-for-row against the MV formulation (tolerance
    1e-10 on amounts) the way scripts/cross-validate-pg.sh does.
    """
    base = events.where(
        F.col("contract_id").isin(*contracts) & (F.col("standard") == "dip4")
    )

    td_items = base.where(F.col("event") == "token_diff").select(
        "block_height",
        "receipt_index_in_block",
        "index_in_log",
        "related_receipt_id",
        F.posexplode(F.from_json("data", schemas.DIP4_TOKEN_DIFF_DATA)).alias(
            "pos", "item"
        ),
    )
    referrals = (
        td_items.where(F.coalesce(F.col("item.referral"), F.lit("")) != "")
        .groupBy("related_receipt_id")
        .agg(
            F.min_by(
                F.col("item.referral"),
                F.struct(
                    "block_height", "receipt_index_in_block", "index_in_log", "pos"
                ),
            ).alias("referral")
        )
    )

    tr = base.where(F.col("event") == "transfer").select(
        *_COMMON,
        "tx_hash",
        F.explode(F.from_json("data", schemas.DIP4_TRANSFER_DATA)).alias("item"),
    )
    flat = tr.select(
        *_COMMON,
        F.coalesce("tx_hash", F.lit("")).alias("tx_hash"),
        F.when(F.col("item.memo") == "", F.lit(None))
        .otherwise(F.col("item.memo"))
        .alias("memo"),
        F.col("item.account_id").alias("old_owner_id"),
        F.col("item.receiver_id").alias("new_owner_id"),
        F.coalesce("item.intent_hash", F.lit("")).alias("intent_hash"),
        F.explode(F.map_entries("item.tokens")).alias("kv"),
    )
    return flat.select(
        *_COMMON,
        "tx_hash",
        "memo",
        "old_owner_id",
        "new_owner_id",
        F.col("kv.key").alias("token_id"),
        F.col("kv.value").cast("decimal(38,0)").alias("amount"),
        "intent_hash",
    ).join(referrals, "related_receipt_id", "left")
    # No broadcast hint: referrals grows with the data (one row per
    # receipt with a referral), so AQE must pick the strategy — broadcast
    # on a micro-batch, sort-merge on a 100 TB backfill.


# the names all_silver_tables returns, in its order: what --with-silver
# writes under silver/, known before any frame is built
SILVER_TABLES = (
    "silver_nep_245_events",
    "silver_dip4_token_diff",
    "silver_dip4_public_keys",
    "silver_dip4_intents_executed",
    "silver_dip4_fee_changed",
    "silver_dip4_transfer",
    "staging_silver_dip4_transfer",
    "silver_transfers",
    "staging_silver_transfers",
)


def all_silver_tables(events: DataFrame) -> dict[str, DataFrame]:
    """The complete silver layer from one bronze events DataFrame — the
    batch rendering of the 7-MV insert fan-out (SURVEY §3.2)."""
    nep = nep_245_events(events)
    prod_transfer = dip4_transfer(events, schemas.PRODUCTION_CONTRACTS)
    staging_transfer = dip4_transfer(events, (schemas.STAGING_CONTRACT,))
    return {
        "silver_nep_245_events": nep,
        "silver_dip4_token_diff": dip4_token_diff(events),
        "silver_dip4_public_keys": dip4_public_keys(events),
        "silver_dip4_intents_executed": dip4_intents_executed(events),
        "silver_dip4_fee_changed": dip4_fee_changed(events),
        "silver_dip4_transfer": prod_transfer,
        "staging_silver_dip4_transfer": staging_transfer,
        "silver_transfers": transfers_union(
            nep, prod_transfer, schemas.PRODUCTION_CONTRACTS
        ),
        "staging_silver_transfers": transfers_union(
            nep, staging_transfer, (schemas.STAGING_CONTRACT,)
        ),
    }
