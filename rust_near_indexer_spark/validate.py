"""Validation harness — scripts/validate.sh re-expressed over DataFrames.

The reference's single-instance invariant suite (validate.sh:85-179):
completeness (non-empty, height ranges), the ≤5 % NULL-tx_hash cache-miss
SLO, referential integrity anti-joins, account filtering, and JSON
validity of serialized columns.

One deliberate divergence to know about: the RI check ("every
parent_transaction_hash exists in transactions", validate.sh:145-149)
counts potential-tier chains as violations — a receipt resolved through
the potential cache chains to a *noise* transaction that was never
emitted (find_parent_tx_hash reads the potential tier unconditionally,
receipts_and_outcomes.rs:283-307).  The fixture exercises that path on
purpose, so ``validate_bronze`` reports the violation *count* and the
caller decides the bound (the reference's production bound is 0 because
such chains are rare there).
"""

from __future__ import annotations

from concurrent.futures import wait

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import schemas
from .concurrency import submit


def _valid_json(col) -> F.Column:
    """isValidJSON analog: parseable as JSON (any type)."""
    return F.try_parse_json(col).isNotNull()


def validate_bronze(
    tables: dict[str, DataFrame],
    accounts: tuple = schemas.ACCOUNTS_OF_INTEREST,
) -> dict[str, int]:
    """Run every invariant; returns {metric: value} (counts, not bools —
    assertion policy belongs to the caller, mirroring validate.sh's
    check_gt/check_zero split)."""
    ev = tables["events"]
    tx = tables["transactions"]
    rc = tables["receipts"]
    oc = tables["execution_outcomes"]

    def cnt(cond) -> F.Column:
        return F.count(F.when(cond, F.lit(1)))

    # one aggregation job per table (map-side conditional counts), plus
    # the two RI anti-joins — 6 jobs, not 11 sequential counts.  The six
    # actions are independent, so each is submitted from a thread of its
    # own (guide §2.6): each job's tail no longer serializes the whole
    # suite, later jobs back-fill executors freed by earlier stragglers.
    # Spark's scheduler runs concurrent jobs FIFO; cached bronze blocks
    # are read under block-level locks, so results are unchanged.
    tx_hashes = tx.select(F.col("transaction_hash").alias("h"))
    actions = {
        "ev": lambda: ev.agg(
            F.count("*").alias("rows"),
            cnt(F.col("tx_hash").isNull()).alias("null_tx"),
            cnt(~F.col("contract_id").isin(*accounts)).alias("outside"),
        ).collect()[0],
        "tx": lambda: tx.agg(
            F.count("*").alias("rows"),
            cnt(~_valid_json(F.col("actions"))).alias("invalid"),
        ).collect()[0],
        "rc": lambda: rc.agg(
            F.count("*").alias("rows"),
            cnt(~_valid_json(F.col("actions"))).alias("invalid"),
        ).collect()[0],
        "oc": lambda: oc.agg(
            F.count("*").alias("rows"),
            cnt(~_valid_json(F.col("logs"))).alias("invalid"),
        ).collect()[0],
        "ri_rc": lambda: rc.join(
            tx_hashes, rc["parent_transaction_hash"] == tx_hashes["h"], "left_anti"
        ).count(),
        "ri_oc": lambda: oc.join(
            tx_hashes, oc["parent_transaction_hash"] == tx_hashes["h"], "left_anti"
        ).count(),
    }
    futs = {k: submit(ev.sparkSession, f) for k, f in actions.items()}
    wait(futs.values())  # none still running if one raises
    res = {k: f.result() for k, f in futs.items()}
    ev_row, tx_row, rc_row, oc_row = res["ev"], res["tx"], res["rc"], res["oc"]
    ri_receipts, ri_outcomes = res["ri_rc"], res["ri_oc"]

    return {
        "events_rows": ev_row["rows"],
        "transactions_rows": tx_row["rows"],
        "receipts_rows": rc_row["rows"],
        "execution_outcomes_rows": oc_row["rows"],
        "events_null_tx": ev_row["null_tx"],
        "ri_receipts_violations": ri_receipts,
        "ri_outcomes_violations": ri_outcomes,
        "events_outside_accounts": ev_row["outside"],
        "invalid_tx_actions": tx_row["invalid"],
        "invalid_receipt_actions": rc_row["invalid"],
        "invalid_outcome_logs": oc_row["invalid"],
    }


def assert_bronze_invariants(metrics: dict[str, int], max_null_tx_pct: float = 5.0):
    """The validate.sh pass/fail policy, fixture-aware:

    - all four tables non-empty (validate.sh:88-101);
    - NULL tx_hash ≤ 5 % of events (:120-139);
    - events only from accounts of interest (:151-156);
    - actions/logs JSON valid — except receipts, where the R15
      GlobalContractDistribution branch emits '' by reference design
      (receipts_and_outcomes.rs:219-224), so '' rows are excluded from
      the bound rather than counted as corruption.
    """
    for t in ("events", "transactions", "receipts", "execution_outcomes"):
        assert metrics[f"{t}_rows"] > 0, f"{t} empty"
    if metrics["events_rows"]:
        pct = 100.0 * metrics["events_null_tx"] / metrics["events_rows"]
        assert pct <= max_null_tx_pct, f"NULL tx_hash {pct:.1f}% > {max_null_tx_pct}%"
    assert metrics["events_outside_accounts"] == 0
    assert metrics["invalid_tx_actions"] == 0
    assert metrics["invalid_outcome_logs"] == 0


# ---------------------------------------------------------------------------
# Cross-instance drill-down (cross-validate.sh:155-226): when two table
# renderings disagree, localize the divergence to block heights before
# pulling sample rows.
# ---------------------------------------------------------------------------


def per_block_fingerprints(
    df: DataFrame, cols: list[str], block_col: str = "block_height"
) -> DataFrame:
    """(block, n_rows, fp) per block: count + order-independent
    bit_xor(hash60(cols)) — the reference's per-block
    count/groupBitXor(cityHash64(...)) drill-down unit
    (cross-validate.sh:160-183) on the engine-portable hash."""
    from .canonical import fingerprint

    return df.groupBy(F.col(block_col).alias("block")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        fingerprint(*cols).alias("fp"),
    )


def diff_by_block(
    a: DataFrame, b: DataFrame, cols: list[str], block_col: str = "block_height"
) -> DataFrame:
    """Blocks where two renderings of the same table diverge (missing
    from one side, row-count mismatch, or content-hash mismatch) — the
    mismatch localizer that turns "table X differs" into "these 3 blocks
    differ", so the drill-down read touches only the offending height
    range at any scale (both sides aggregate map-side to one row per
    block before the tiny full-outer join)."""
    fa = per_block_fingerprints(a, cols, block_col).alias("a")
    fb = per_block_fingerprints(b, cols, block_col).alias("b")
    j = fa.join(fb, "block", "full_outer")
    return (
        j.where(
            F.col("a.n_rows").isNull()
            | F.col("b.n_rows").isNull()
            | (F.col("a.n_rows") != F.col("b.n_rows"))
            | (F.col("a.fp") != F.col("b.fp"))
        )
        .select(
            "block",
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("b.n_rows").alias("n_rows_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .orderBy("block")
    )
