"""Connected components by alternating large-star / small-star rounds.

The reference engine has no graph operator; this is north-star surface
(SURVEY §2B): near-duplicate PAIRS only become a dedup *decision* after
grouping them into clusters and electing one keeper per cluster, and at
100 TB that grouping is exactly connected components over the pair
graph.  The algorithm is the published MapReduce formulation (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC'14):

- **large-star**: every node points its strictly-larger neighbors at
  the minimum of its neighborhood — breaks up high-degree hubs, so the
  per-key skew that kills naive label propagation *shrinks* each round;
- **small-star**: every node folds its smaller neighbors (and itself)
  onto its minimum neighbor — flattens chains into stars.

Alternating the two converges in O(log n) rounds to a star forest
rooted at each component's minimum node id.  Each round is one shuffle
keyed by node (a window min + a projection — no join), so the cluster
cost is rounds × one exchange of the (shrinking) edge set.  Labels are
node-id minima, not hashes: output is engine-independent.

Convergence is detected by comparing a deterministic edge-set checksum
(count + xor of xxhash64) between rounds.  The checksum rides the
round's own materialization job (``caching.materialize_observed`` —
VERDICT r03 item 7), so each round is exactly ONE Spark job: no
separate probe pass, and lineage is truncated per round
(``caching.materialize``) so the fixpoint never replays the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import materialize, materialize_observed


def _large_star(e: DataFrame) -> DataFrame:
    """(v, min(N(u) ∪ {u})) for every neighbor v > u, per node u."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.col("src"), F.min("dst").over(Window.partitionBy("src")))
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(v, min(N(u) ∪ {u})) for every neighbor v ≤ u plus u itself."""
    o = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).withColumn("m", F.min("dst").over(Window.partitionBy("src")))
    out = o.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        o.select("src", F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 30
) -> DataFrame:
    """Component labels for every endpoint of ``edges``.

    Returns ``(node, component)`` where ``component`` is the MINIMUM
    node id in the node's connected component — deterministic, so the
    downstream "keep the smallest id" dedup policy needs no extra pass.
    Self-loops are ignored; isolated nodes never appear (they have no
    edges to appear in).  Raises if ``max_rounds`` alternating rounds
    don't converge (O(log n) expected — 30 covers any real graph).
    """
    # the round digest: count + xor of xxhash64 — bit_xor (not sum) is
    # overflow-free under ANSI mode and order-independent, and the edge
    # set is distinct, so xor is a faithful set digest
    digest = (F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("h"))
    e, sig = materialize_observed(
        edges.select(
            F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        *digest,
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    for _ in range(max_rounds):
        e, new_sig = materialize_observed(_small_star(_large_star(e)), *digest)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")
    # fixpoint = star forest: every non-root has exactly (node → root)
    mapped = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = nodes.join(mapped, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return mapped.unionByName(roots)


def elect_representatives(members: DataFrame) -> DataFrame:
    """Canonical-document election: given cluster members
    ``(cluster_id, node, src_rank, n_chars)``, keep ONE per cluster by
    (lowest src_rank, longest text, smallest id).

    ONE struct-min aggregate per cluster — min over
    ``(src_rank, -n_chars, node)`` structs is the lexicographic argmin,
    so no per-cluster window or membership sort exists in the plan; at
    100 TB this is a map-combined hash aggregate however large a
    cluster gets."""
    elected = members.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                F.col("src_rank").alias("r"),
                (-F.col("n_chars")).alias("neg_len"),
                F.col("node").alias("keeper"),
            )
        ).alias("win"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return elected.select(
        "cluster_id",
        F.col("win.keeper").alias("keeper"),
        F.col("win.r").cast("long").alias("keeper_src_rank"),
        (-F.col("win.neg_len")).cast("long").alias("keeper_n_chars"),
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )
