"""End-to-end bronze pipeline vs the pure-Python reference simulator.

The committed fixture (fixture_data/) bakes in every corner case:
TTL-expired chains, potential-tier promotion (noise tx → of-interest
receipt), malformed/non-event logs, all three ReceiptEnumView kinds,
multi-shard blocks, and pre-cutoff timestamps.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark import fixtures, oracle_sim, schemas
from rust_near_indexer_spark.queries import load_registry
from rust_near_indexer_spark.queries.near_events import (
    BLOCKS_PATH,
    TTL_BLOCKS,
    bronze_tables,
    expected_path,
)

from .oracle_harness import compare, duck_connect

N_BLOCKS = 240  # must match scripts/make_fixture.py


@pytest.fixture(scope="module")
def golden():
    blocks, _ = fixtures.generate(n_blocks=N_BLOCKS, ttl_blocks=TTL_BLOCKS)
    return blocks, oracle_sim.run_bronze_sim(blocks, ttl_blocks=TTL_BLOCKS)


def test_fixture_files_current(golden):
    """Committed goldens match a fresh simulator run (regeneration guard)."""
    import duckdb

    _, sim = golden
    con = duckdb.connect()
    for name, rows in sim.items():
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{expected_path(name)}')"
        ).fetchone()[0]
        assert n == len(rows), f"{name}: stale fixture_data/ — rerun scripts/make_fixture.py"


@pytest.mark.parametrize(
    "name",
    [
        "bronze_transactions",
        "bronze_receipts",
        "bronze_execution_outcomes",
        "bronze_events",
        "bronze_events_block_end",
        "bronze_events_only_mode",
        "bronze_per_block_stats",
        "bronze_outcomes_fingerprint",
    ],
)
def test_bronze_query_matches_golden(spark, sf_dir, name):
    reg = load_registry()
    con = duck_connect(sf_dir)
    q = reg[name]
    r = compare(q.spark(spark, sf_dir), con, q.oracle)
    assert r["hash_match"], r


def test_ttl_expiry_drops_rows(golden):
    """R19: with an unbounded TTL more events resolve — i.e. the fixture
    really contains past-TTL receipts and the bound really drops them."""
    blocks, sim = golden
    unbounded = oracle_sim.run_bronze_sim(blocks, ttl_blocks=10**9)
    assert len(unbounded["events"]) > len(sim["events"])
    assert len(unbounded["receipts"]) > len(sim["receipts"])


def test_potential_tier_promotion(golden):
    """R16/R17: some emitted events chain to a NOISE transaction (seeded in
    the potential tier, readable because the receipt touches accounts of
    interest) — the promotion path carries real rows."""
    _, sim = golden
    interest_txs = {t["transaction_hash"] for t in sim["transactions"]}
    via_potential = [e for e in sim["events"] if e["tx_hash"] not in interest_txs]
    assert via_potential, "fixture lost its potential-tier coverage"


def test_receipt_kind_branches(golden):
    """R15: all three ReceiptEnumView projections appear in the output."""
    _, sim = golden
    actions = [r["actions"] for r in sim["receipts"]]
    assert any(a == "null" for a in actions), "no Data receipt emitted"
    assert any(a == "" for a in actions), "no GlobalContractDistribution receipt emitted"
    assert any(a.startswith("[{") for a in actions), "no Action receipt emitted"


def test_events_only_mode_shape(spark):
    out = bronze_tables(spark, events_only=True)
    assert set(out) == {"events"}


def test_null_txhash_slo(golden):
    """validate.sh:126-139 quality gate, adapted: the share of *candidate*
    event logs dropped by resolution misses must stay ≤ 5+ε % — the
    fixture's expiry rate is calibrated under the SLO."""
    blocks, sim = golden
    unbounded = oracle_sim.run_bronze_sim(blocks, ttl_blocks=10**9)
    dropped = len(unbounded["events"]) - len(sim["events"])
    rate = dropped / max(len(unbounded["events"]), 1)
    assert rate <= 0.08, f"miss rate {rate:.1%} implausibly high for TTL≈50 blocks"


@pytest.mark.parametrize("seed", [7, 123, 20260813])
def test_random_fixture_differential(spark, seed):
    """Property-style differential: a fresh random block stream (seeds the
    committed fixture never used) must produce identical rows from the
    Spark pipeline and the pure-Python simulator — the corner cases are
    probabilistic, so every new seed exercises a different mix of TTL
    expiries, promotions, malformed logs, and zip mismatches."""
    from rust_near_indexer_spark.plans.pipeline import run_bronze

    from .oracle_harness import canonical_rows

    blocks, _ = fixtures.generate(n_blocks=60, seed=seed, ttl_blocks=TTL_BLOCKS)
    sim = oracle_sim.run_bronze_sim(blocks, ttl_blocks=TTL_BLOCKS)
    tables = run_bronze(fixtures.blocks_df(spark, blocks), ttl_blocks=TTL_BLOCKS)
    for name, df in tables.items():
        cols = df.columns
        _, s_rows = canonical_rows(cols, [tuple(r) for r in df.collect()])
        _, o_rows = canonical_rows(
            cols, [tuple(d.get(c) for c in cols) for d in sim[name]]
        )
        assert s_rows == o_rows, f"{name} mismatch at seed {seed}"


def test_clear_caches_releases_bronze_intermediates(spark):
    """The bronze query cache also owns what run_bronze persisted for it
    (flat outcomes and the resolved rows): after clear_caches() Spark's
    cache manager holds nothing."""
    from rust_near_indexer_spark import caching

    caching.clear_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert bronze_tables(spark)["transactions"].count() > 0
    assert not cache.isEmpty()
    caching.clear_caches()
    assert cache.isEmpty()


def test_one_resolve_answers_both_read_rules(spark):
    """The event rule applied before the pick (potential mappings only for
    readers of interest) gives exactly resolve's event-readable rows, and
    on the fixture it still excludes readers the outcome rule resolves."""
    from rust_near_indexer_spark.plans import bronze, state
    from rust_near_indexer_spark.queries.near_events import load_blocks

    acc = schemas.ACCOUNTS_OF_INTEREST
    blocks = load_blocks(spark)
    flat = bronze.flatten_outcomes(blocks)
    mappings = state.resolve_mappings(
        state.seed_mappings(bronze.flatten_transactions(blocks), acc),
        state.child_edges(flat, acc),
        TTL_BLOCKS,
    )
    readers = state.readers_from_outcomes(flat)
    resolved = state.resolve(readers, mappings, acc, TTL_BLOCKS)
    keep = bronze.of_interest(acc, "receiver_id", "predecessor_id")
    cols = ["receipt_id", "read_block", "tx_hash"]
    rule_first = state.resolve(readers.where(keep), mappings, acc, TTL_BLOCKS).unionByName(
        state.resolve(
            readers.where(~keep), mappings.where(F.col("tier") == state.MAIN), acc, TTL_BLOCKS
        )
    ).select(cols)
    events = state.resolve(readers, mappings, acc, TTL_BLOCKS, events_path=True).select(cols)
    assert sorted(events.collect()) == sorted(rule_first.collect())
    assert sorted(resolved.where("event_readable").select(cols).collect()) == sorted(
        events.collect()
    )
    assert resolved.where(~F.col("event_readable")).count() > 0


def test_receipt_dag_depths_releases_edges_on_failure(spark, monkeypatch):
    """A failure inside the depth walk still unpersists its edge list:
    Spark's cache manager is as empty afterwards as before."""
    from rust_near_indexer_spark import caching
    from rust_near_indexer_spark.queries import near_events

    caching.clear_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    tables = {
        "execution_outcomes": spark.createDataFrame(
            [("eo_tx0", ["r1"]), ("eo_r1", [])],
            "execution_outcome_id string, receipt_ids array<string>",
        ),
        "transactions": spark.createDataFrame([("tx0",)], "transaction_hash string"),
    }
    monkeypatch.setattr(near_events, "bronze_tables", lambda spark: tables)

    def fail(*a, **k):
        raise RuntimeError("injected level failure")

    monkeypatch.setattr(near_events, "materialize_observed", fail)
    with pytest.raises(RuntimeError, match="injected level failure"):
        near_events.receipt_dag_depths(spark, "")
    assert cache.isEmpty()


def test_fixpoint_stopped_at_max_depth_is_logged(spark, caplog):
    """A receipt chain deeper than max_depth keeps its first max_depth
    levels and the cut is logged, not silent."""
    from rust_near_indexer_spark.plans.state import resolve_mappings

    seeds = spark.createDataFrame(
        [("r0", "tx", "main", 0)], "receipt_id string, tx_hash string, tier string, write_block long"
    )
    edges = spark.createDataFrame(
        [(f"r{i}", f"r{i + 1}", i, "main") for i in range(4)],
        "parent_receipt_id string, child_receipt_id string, edge_block long, child_tier string",
    )
    with caplog.at_level("WARNING", logger="rust_near_indexer_spark.plans.state"):
        got = resolve_mappings(seeds, edges, ttl_blocks=10, max_depth=2)
        assert sorted(r["receipt_id"] for r in got.collect()) == ["r0", "r1", "r2"]
    assert "max_depth=2" in caplog.text
    caplog.clear()
    with caplog.at_level("WARNING", logger="rust_near_indexer_spark.plans.state"):
        assert resolve_mappings(seeds, edges, ttl_blocks=10).count() == 5
    assert "max_depth" not in caplog.text
