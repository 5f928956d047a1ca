"""Deterministic synthetic block-stream fixture (FIXTURES.md §1).

Generates the nested StreamerMessage-shaped rows the bronze extractors
consume, exercising every corner of the reference dataflow:

- accounts of interest vs ~70 % noise accounts
  (indexer-clickhouse/src/config.rs:52-55);
- receipt DAGs: tx → first receipt (extractors/transactions.rs:89-95) →
  child receipts executing 1-3 blocks later
  (receipts_and_outcomes.rs:165-191), depth ≤ 3;
- chains whose tx is noise but a descendant receipt touches an account
  of interest (potential-tier promotion, receipts_and_outcomes.rs:285-307);
- receipts whose parent mapping is > TTL blocks old (expiry → dropped /
  NULL tx_hash, validate.sh:126-135);
- malformed EVENT_JSON logs, non-event logs, and events of standards
  outside the dip4/nep245 substring filter (extractors/events.rs:120-141);
- all seven standard/event payload shapes of SURVEY §2C, with empty
  memos/referrals and multi-element arrays/maps.

All JSON is emitted compactly (no whitespace) so a raw-substring read of
``data`` equals serde_json's compact re-rendering in the reference.
"""

from __future__ import annotations

import json
import random
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

from . import schemas

NOISE_ACCOUNTS = [f"noise{i}.near" for i in range(12)] + ["system", "alice.near", "bob.near"]
TOKENS = ["nep141:usdc.near", "nep141:wrap.near", "nep141:aurora", "nep141:empty.near"]
REFERRALS = ["", "app.ref.near", "dex.ref.near"]

BASE_TS_NS = 1_740_000_000_000_000_000  # 2025-02-19T21:20:00Z (after MV cutoffs)
PRE_CUTOFF_TS_NS = 1_736_000_000_000_000_000  # 2025-01-04 (before every cutoff)
BLOCK_NS = 1_100_000_000  # ~1.1 s block time


def _j(obj) -> str:
    # sort_keys: serde_json's Value is a BTreeMap, so the reference's
    # re-rendered `data` has alphabetically ordered keys; emitting the
    # fixture in that canonical order makes raw-substring reads equal the
    # reference's re-serialization.
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _event_log(rng: random.Random, standard: str, event: str, data) -> str:
    return "EVENT_JSON:" + _j(
        {"version": "1.0.0", "standard": standard, "event": event, "data": data}
    )


def _amounts(rng: random.Random, n: int) -> list[str]:
    return [str(rng.randint(1, 10**12) * 10 ** rng.randint(0, 12)) for _ in range(n)]


def _make_event_logs(rng: random.Random, receipt_id: str) -> list[str]:
    """1-3 EVENT_JSON logs + occasional noise/malformed entries."""
    logs: list[str] = []
    for _ in range(rng.randint(1, 3)):
        kind = rng.random()
        n_tok = rng.randint(1, 3)
        toks = rng.sample(TOKENS, n_tok)

        def _zip_arrays():
            """token_ids ∥ amounts, with ~10% of events length-mismatched
            (buggy producers exist): both engines must null-pad the
            positional zip identically (Spark arrays_zip ↔ DuckDB
            parallel unnest)."""
            amts = _amounts(rng, n_tok)
            mism = rng.random()
            if mism < 0.06 and n_tok > 1:
                return toks, amts[:-1]  # fewer amounts than tokens
            if mism < 0.10 and n_tok > 1:
                return toks[:-1], amts  # fewer tokens than amounts
            return toks, amts

        if kind < 0.30:  # nep245 mt_transfer
            z_toks, z_amts = _zip_arrays()
            data = [
                {
                    "old_owner_id": rng.choice(NOISE_ACCOUNTS),
                    "new_owner_id": rng.choice(NOISE_ACCOUNTS),
                    "token_ids": z_toks,
                    "amounts": z_amts,
                    **({"memo": f"memo-{rng.randint(1, 9)}"} if rng.random() < 0.5 else {}),
                }
            ]
            logs.append(_event_log(rng, "nep245", "mt_transfer", data))
        elif kind < 0.45:  # nep245 mint/burn
            ev = rng.choice(["mt_mint", "mt_burn"])
            z_toks, z_amts = _zip_arrays()
            data = [
                {
                    "owner_id": rng.choice(NOISE_ACCOUNTS),
                    "token_ids": z_toks,
                    "amounts": z_amts,
                    **({"memo": ""} if rng.random() < 0.3 else {}),
                }
            ]
            logs.append(_event_log(rng, "nep245", ev, data))
        elif kind < 0.62:  # dip4 token_diff
            diff = {t: round(rng.uniform(-50, 50), 4) for t in toks}
            data = [
                {
                    "account_id": rng.choice(NOISE_ACCOUNTS),
                    # ~6 %: diff missing entirely → the MV's
                    # JSONExtractKeysAndValues('')/arrayJoin([]) drop path
                    **({"diff": diff} if rng.random() > 0.06 else {}),
                    "intent_hash": f"ih_{receipt_id}_{rng.randint(0, 99)}",
                    "referral": rng.choice(REFERRALS),
                }
            ]
            logs.append(_event_log(rng, "dip4", "token_diff", data))
        elif kind < 0.78:  # dip4 transfer (sometimes multi-item)
            data = [
                {
                    "account_id": rng.choice(NOISE_ACCOUNTS),
                    # ~6 %: receiver missing → NULL new_owner_id
                    # (JSON_VALUE without coalesce, sql:393)
                    **(
                        {"receiver_id": rng.choice(NOISE_ACCOUNTS)}
                        if rng.random() > 0.06
                        else {}
                    ),
                    # ~5 %: tokens missing → coalesce('{}') empty-map drop
                    **(
                        {"tokens": {t: str(rng.randint(1, 10**9)) for t in toks}}
                        if rng.random() > 0.05
                        else {}
                    ),
                    **({"memo": f"m{rng.randint(0, 5)}"} if rng.random() < 0.4 else {}),
                    **(
                        {"intent_hash": f"ih_{receipt_id}_t"}
                        if rng.random() < 0.7
                        else {}
                    ),
                }
                for _ in range(rng.randint(1, 2))
            ]
            logs.append(_event_log(rng, "dip4", "transfer", data))
        elif kind < 0.85:  # dip4 public keys (object payload)
            ev = rng.choice(["public_key_added", "public_key_removed"])
            data = {
                "account_id": rng.choice(NOISE_ACCOUNTS),
                "public_key": f"ed25519:PK{rng.randint(0, 10**6)}",
            }
            logs.append(_event_log(rng, "dip4", ev, data))
        elif kind < 0.92:  # dip4 intents_executed
            data = [
                {"account_id": rng.choice(NOISE_ACCOUNTS), "intent_hash": f"ih{rng.randint(0, 10**5)}"}
                for _ in range(rng.randint(1, 3))
            ]
            logs.append(_event_log(rng, "dip4", "intents_executed", data))
        else:  # dip4 fee_changed (object payload)
            data = {"old_fee": str(rng.randint(0, 100)), "new_fee": str(rng.randint(0, 100))}
            logs.append(_event_log(rng, "dip4", "fee_changed", data))
    # drop-path entries
    if rng.random() < 0.25:
        logs.append("plain log line, not an event")
    if rng.random() < 0.08:
        logs.append("EVENT_JSON:{not valid json")  # malformed → drop with warn
    if rng.random() < 0.06:
        logs.append(
            _event_log(rng, "nep171", "nft_mint", [{"owner_id": "x.near"}])
        )  # fails the dip4/nep245 substring filter
    rng.shuffle(logs)
    return logs


def generate(
    n_blocks: int = 150,
    seed: int = 42,
    ttl_blocks: int = 50,
    start_height: int = 1000,
    n_pre_cutoff: int = 6,
):
    """Return (block_rows, asset_rows) as plain Python lists."""
    rng = random.Random(seed)
    interest = list(schemas.ACCOUNTS_OF_INTEREST)

    # pending[block_index] -> receipts executing in that generated block
    pending: dict[int, list[dict]] = defaultdict(list)
    blocks: list[dict] = []
    height = start_height
    rc_seq = 0

    def new_receipt_id() -> str:
        nonlocal rc_seq
        rc_seq += 1
        return f"rc{rc_seq:06d}"

    for i in range(n_blocks):
        height += 1 if rng.random() > 0.05 else rng.randint(2, 4)
        if i < n_pre_cutoff:
            ts_ns = PRE_CUTOFF_TS_NS + i * BLOCK_NS
        else:
            # roll the clock forward one day every 80 blocks so the stream
            # spans several calendar days (exercises the gold view's per-day
            # grouping and the date-bucket assets join, 03-gold-views.sql:20)
            ts_ns = BASE_TS_NS + (i // 80) * 86_400 * 10**9 + (i % 80) * BLOCK_NS
        block_hash = f"bh{height}"

        # --- transactions for this block ---------------------------------
        txs = []
        for j in range(rng.randint(0, 3)):
            of_interest = rng.random() < 0.30
            if of_interest:
                # at least one side of interest
                signer = rng.choice(NOISE_ACCOUNTS + interest)
                receiver = rng.choice(interest) if signer not in interest else rng.choice(
                    NOISE_ACCOUNTS + interest
                )
            else:
                signer, receiver = rng.choice(NOISE_ACCOUNTS), rng.choice(NOISE_ACCOUNTS)
            tx_hash = f"tx{height}_{j}"
            # ~5 %: a transaction whose outcome spawned NO receipts —
            # receipt_ids.first() is None, so no state seed happens
            # (extractors/transactions.rs:89-95 None-arm)
            if rng.random() < 0.05:
                txs.append(
                    {
                        "transaction": {
                            "hash": tx_hash,
                            "signer_id": signer,
                            "receiver_id": receiver,
                            "actions": [
                                {"action_type": "Transfer", "params": _j({"deposit": "1"})}
                            ],
                        },
                        "outcome": {
                            "execution_outcome": {
                                "id": f"eo_{tx_hash}",
                                "outcome": {
                                    "executor_id": signer,
                                    "receipt_ids": [],
                                    "status": "SuccessValue",
                                    "logs": [],
                                    "tokens_burnt": str(rng.randint(1, 10**6) * 10**18),
                                    "gas_burnt": rng.randint(10**12, 3 * 10**14),
                                },
                            }
                        },
                    }
                )
                continue
            r0 = new_receipt_id()
            # schedule first receipt: mostly soon; sometimes past TTL
            if rng.random() < 0.04:
                delay = ttl_blocks + rng.randint(5, 15)  # expiry case
            else:
                delay = rng.randint(1, 3)
            # the receipt's receiver: often an account of interest even when
            # the tx is noise → exercises potential-tier promotion
            r_receiver = rng.choice(interest) if rng.random() < 0.55 else rng.choice(
                NOISE_ACCOUNTS
            )
            pending[i + delay].append(
                {
                    "receipt_id": r0,
                    "receiver_id": r_receiver,
                    "predecessor_id": signer,
                    "depth": 0,
                }
            )
            txs.append(
                {
                    "transaction": {
                        "hash": tx_hash,
                        "signer_id": signer,
                        "receiver_id": receiver,
                        "actions": [
                            {
                                "action_type": "FunctionCall",
                                "params": _j(
                                    {"method_name": "execute", "gas": rng.randint(1, 300) * 10**12}
                                ),
                            }
                        ],
                    },
                    "outcome": {
                        "execution_outcome": {
                            "id": f"eo_{tx_hash}",
                            "outcome": {
                                "executor_id": signer,
                                "receipt_ids": [r0],
                                # raw variant name — bronze canonicalizes (R21)
                                "status": "SuccessReceiptId",
                                "logs": [],
                                "tokens_burnt": str(rng.randint(1, 10**6) * 10**18),
                                "gas_burnt": rng.randint(10**12, 3 * 10**14),
                            },
                        }
                    },
                }
            )

        # --- receipt execution outcomes due in this block -----------------
        outcomes = []
        for spec in pending.pop(i, []):
            executor = spec["receiver_id"]
            children = []
            if spec["depth"] < 3 and rng.random() < 0.55:
                for _ in range(rng.randint(1, 2)):
                    child_id = new_receipt_id()
                    child_receiver = (
                        rng.choice(interest) if rng.random() < 0.5 else rng.choice(NOISE_ACCOUNTS)
                    )
                    delay = (
                        ttl_blocks + rng.randint(5, 15)
                        if rng.random() < 0.03
                        else rng.randint(1, 3)
                    )
                    pending[i + delay].append(
                        {
                            "receipt_id": child_id,
                            "receiver_id": child_receiver,
                            "predecessor_id": executor,
                            "depth": spec["depth"] + 1,
                        }
                    )
                    children.append(child_id)
            executor_of_interest = executor in interest
            logs = (
                _make_event_logs(rng, spec["receipt_id"])
                if executor_of_interest
                else (["some plain log"] if rng.random() < 0.3 else [])
            )
            # raw ExecutionStatusView variant names (canonicalized by R21)
            status = rng.choices(
                ["SuccessValue", "SuccessReceiptId", "Failure", "Unknown"],
                weights=[60, 25, 12, 3],
            )[0]
            # null-handling corners: logs arrive as null (not []) and an
            # Action receipt may carry null actions → '[]' (R12 null arm)
            null_logs = not logs and rng.random() < 0.3
            null_actions = rng.random() < 0.05
            outcomes.append(
                {
                    "execution_outcome": {
                        "id": f"eo_{spec['receipt_id']}",
                        "outcome": {
                            "executor_id": executor,
                            "receipt_ids": children,
                            "status": status,
                            "logs": None if null_logs else logs,
                            "tokens_burnt": str(rng.randint(0, 10**5) * 10**18),
                            "gas_burnt": rng.randint(10**11, 10**14),
                        },
                    },
                    "receipt": {
                        "receipt_id": spec["receipt_id"],
                        "receiver_id": spec["receiver_id"],
                        "predecessor_id": spec["predecessor_id"],
                        # all three ReceiptEnumView branches of R15
                        # (receipts_and_outcomes.rs:195-225)
                        "receipt_kind": rng.choices(
                            ["Action", "Data", "GlobalContractDistribution"],
                            weights=[90, 6, 4],
                        )[0],
                        "actions": None
                        if null_actions
                        else [
                            {
                                "action_type": "FunctionCall",
                                "params": _j({"method_name": "on_receipt"}),
                            }
                        ],
                        "data": None,
                    },
                }
            )

        # empty blocks occasionally carry null or empty shards — the
        # flatten operators must drop them without error (R7/R8 null arms)
        if not txs and not outcomes and rng.random() < 0.5:
            blocks.append(
                {
                    "block_height": height,
                    "block_hash": block_hash,
                    "block_timestamp_ns": ts_ns,
                    "shards": None if rng.random() < 0.5 else [],
                }
            )
            continue

        # split into 1-2 shards
        n_shards = 1 if (len(txs) + len(outcomes)) < 3 or rng.random() < 0.5 else 2
        shards = []
        for s in range(n_shards):
            shard_txs = [t for k, t in enumerate(txs) if k % n_shards == s]
            shard_outs = [o for k, o in enumerate(outcomes) if k % n_shards == s]
            shards.append(
                {
                    "chunk": (
                        {
                            "transactions": shard_txs,
                            "receipts": [o["receipt"]["receipt_id"] for o in shard_outs],
                        }
                        if (shard_txs or rng.random() > 0.1)
                        else None  # shards may have no chunk
                    ),
                    "receipt_execution_outcomes": shard_outs,
                }
            )

        blocks.append(
            {
                "block_height": height,
                "block_hash": block_hash,
                "block_timestamp_ns": ts_ns,
                "shards": shards,
            }
        )

    # --- defuse_assets dimension: one row per (asset, day) ----------------
    day_ns = 86_400 * 10**9
    first_day = BASE_TS_NS - (BASE_TS_NS % day_ns)
    last_ts = (
        BASE_TS_NS + ((n_blocks - 1) // 80) * day_ns + ((n_blocks - 1) % 80) * BLOCK_NS
    )
    n_days = int((last_ts - first_day) // day_ns) + 1
    assets = []
    meta = {
        "nep141:usdc.near": ("near", 6, "USDC", 1.0),
        "nep141:wrap.near": ("near", 24, "wNEAR", 3.2),
        "nep141:aurora": ("aurora", 18, "AURORA", 0.12),
        "nep141:empty.near": ("", 8, "", 9.9),  # filtered out by gold (symbol='')
    }
    for d in range(n_days):
        for asset_id, (chain, decimals, symbol, base_price) in meta.items():
            assets.append(
                {
                    "blockchain": chain,
                    "contract_address": asset_id.split(":", 1)[1],
                    "decimals": decimals,
                    "defuse_asset_id": asset_id,
                    "price": round(base_price * (1 + 0.01 * ((d * 7) % 5)), 6),
                    "price_updated_at_ns": first_day + d * day_ns + 3_600 * 10**9,
                    "symbol": symbol,
                }
            )
    return blocks, assets


def blocks_df(spark: SparkSession, blocks: list[dict]) -> DataFrame:
    return spark.createDataFrame(blocks, schemas.BLOCK)
