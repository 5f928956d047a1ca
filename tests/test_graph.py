"""Connected components (operators/graph.py): hand-built graphs with
known answers, plus seeded random-graph differentials against a DuckDB
recursive label-propagation oracle."""

from __future__ import annotations

import random

import duckdb
import pytest

from rust_near_indexer_spark.operators.graph import connected_components


def _cc(spark, pairs, max_rounds=30):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    out = connected_components(edges, max_rounds=max_rounds)
    return {r["node"]: r["component"] for r in out.collect()}


def _oracle(pairs):
    con = duckdb.connect()
    con.execute("CREATE TABLE e (s BIGINT, d BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    rows = con.execute(
        """
        WITH RECURSIVE
        und AS (SELECT s, d FROM e WHERE s != d
                UNION SELECT d, s FROM e WHERE s != d),
        reach AS (
            SELECT s AS node, s AS lbl FROM und
            UNION
            SELECT u.d, r.lbl FROM reach r JOIN und u ON u.s = r.node
        )
        SELECT node, MIN(lbl) FROM reach GROUP BY node
        """
    ).fetchall()
    return dict(rows)


def test_path_graph_collapses_to_min(spark):
    """A 12-node path needs multiple alternating rounds — every node must
    land on component 0."""
    path = [(i, i + 1) for i in range(11)]
    assert _cc(spark, path) == {i: 0 for i in range(12)}


def test_two_components_and_self_loop(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (5, 5)]  # 5 is a pure self-loop
    got = _cc(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_star_and_cycle(spark):
    """High-degree hub + a cycle (worst case for naive propagation)."""
    star = [(100, v) for v in range(101, 110)]
    cycle = [(i, i + 1) for i in range(20, 26)] + [(26, 20)]
    got = _cc(spark, star + cycle)
    expected = {v: 100 for v in range(100, 110)} | {v: 20 for v in range(20, 27)}
    assert got == expected


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graph_matches_duckdb_oracle(spark, seed):
    rng = random.Random(seed)
    n = 120
    pairs = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(40, 140))
    ]
    got = _cc(spark, pairs)
    assert got == _oracle(pairs)


def test_empty_edges(spark):
    assert _cc(spark, []) == {}


def test_nonconvergence_raises(spark):
    with pytest.raises(RuntimeError):
        _cc(spark, [(i, i + 1) for i in range(40)], max_rounds=1)


def test_connected_components_under_reliable_checkpoint(spark, tmp_path):
    """The observe-based convergence probe must also report under the
    reliable-checkpoint branch of caching.materialize (cluster posture) — a
    non-firing Observation would hang the fixpoint loop."""
    from rust_near_indexer_spark.operators.graph import connected_components

    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (5, 5)], "src long, dst long"
        )
        got = sorted(
            (r["node"], r["component"]) for r in connected_components(edges).collect()
        )
        assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    finally:
        if old:
            sc.setCheckpointDir(old)
        else:
            # reset the Option var so later tests keep the local branch
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty()
            )


def test_elect_representatives_policy_diverges_from_keep_min(spark):
    """The election must implement (src_rank, -n_chars, node) — planted
    clusters where the min-id doc LOSES on source priority or length
    (the gate corpus's clusters are single-source, so only this fixture
    distinguishes the policy from blind keep-min)."""
    from rust_near_indexer_spark.operators.graph import elect_representatives

    rows = [
        # cluster 1: min id 10 is from a LOWER-priority source than 12
        (1, 10, 5, 100), (1, 11, 5, 300), (1, 12, 2, 50),
        # cluster 2: same source; min id 20 is SHORTER than 21
        (2, 20, 3, 80), (2, 21, 3, 200),
        # cluster 3: full tie on (rank, len) -> min id wins
        (3, 30, 1, 99), (3, 31, 1, 99),
    ]
    members = spark.createDataFrame(
        rows, "cluster_id long, node long, src_rank long, n_chars long"
    )
    got = {
        r["cluster_id"]: (r["keeper"], r["keeper_src_rank"],
                          r["keeper_n_chars"], r["n_dropped"])
        for r in elect_representatives(members).collect()
    }
    assert got[1] == (12, 2, 50, 2)   # priority beats id and length
    assert got[2] == (21, 3, 200, 1)  # length beats id
    assert got[3] == (30, 1, 99, 1)   # id breaks full ties


def test_elect_representatives_plan_is_one_aggregate(spark):
    """No per-cluster window/sort: the election is a hash aggregate."""
    from rust_near_indexer_spark.operators.graph import elect_representatives

    members = spark.createDataFrame(
        [(1, 1, 1, 1)], "cluster_id long, node long, src_rank long, n_chars long"
    )
    plan = elect_representatives(members)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan
