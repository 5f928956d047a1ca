"""Round-6 advanced operators: exact sequential folds, skew
diagnostics, Pareto frontiers, bounded label propagation, and lift
binning — the remaining ops a 100 TB training-data pipeline reaches for
once dedup/similarity/text/temporal are in place.

Like every module here, each operator states its 100 TB shape in the
docstring and carries a bit-exact DuckDB oracle.  The recurring theme
of this batch is *order-dependent or order-aware computation without a
global single-reducer pass*: the EWMA fold shuffles once by key and
keeps O(1) state; the Pareto frontier reuses the two-phase
range-partitioned prefix pattern (corpus_shuffle_order,
equi_depth_histogram); label propagation is a bounded number of
equi-join rounds over an edges table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import materialize
from ..canonical import cents
from ..operators.ranking import _pin as _pin_ranged
from ..tables import load, spread
from . import register
from .dedup import _LSH_CTES, _verified_pairs

# ---------------------------------------------------------------------------
# Exact integer EWMA per key (order-dependent sequential fold).
# ---------------------------------------------------------------------------

EWMA_SHIFT = 3  # alpha = 1/8: e_t = (x_t + 7*e_{t-1}) div 8


@register(
    "ewma_user_value",
    oracle=f"""
    WITH RECURSIVE v AS (
        SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS x,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    ),
    r AS (
        SELECT user_id, rn, x AS e FROM v WHERE rn = 1
        UNION ALL
        SELECT v.user_id, v.rn, (v.x + {(1 << EWMA_SHIFT) - 1} * r.e) // {1 << EWMA_SHIFT}
        FROM r JOIN v ON v.user_id = r.user_id AND v.rn = r.rn + 1
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(arg_max(e, rn) AS BIGINT) AS ewma_cents
    FROM r GROUP BY user_id ORDER BY user_id
    """,
    tags=("temporal", "stateful", "fold", "beyond-reference"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer EWMA of event value per user: e_1 = x_1,
    e_t = (x_t + 7·e_{t-1}) div 8 over the (ts, event_id) order — the
    feature-engineering smoother behind engagement/price trend signals.
    Floor-division fixed point keeps it bit-exact across engines (floor
    == truncate on the non-negative cent domain); the recurrence is
    inherently sequential per key, which is exactly what the oracle's
    recursive CTE states.

    Scale shape: ONE shuffle keyed by user_id, then a partition-local
    ``mapInPandas`` fold over rows pre-sorted by (user_id, ts, id) —
    O(events-per-user) time and O(1) carried state per key.  mapInPandas
    (not applyInPandas) deliberately: per-GROUP Arrow calls cost
    milliseconds of pandas overhead each, which dominates when keys are
    small and numerous (measured 4.9 s → sub-second at sf0.1's ~1.5k
    users); the partition-level fold pays that overhead once per Arrow
    BATCH and carries the running (user, e, n) across batch boundaries
    — sortWithinPartitions guarantees each user's rows are contiguous
    and ordered.  The python-level row loop is the recurrence itself
    (no closed form under floor division) on Arrow-materialized
    columns, never row-at-a-time through serialization."""
    e = load(spark, sf_dir, "events")
    v = (
        e.select(
            "user_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            "event_id",
            cents("value").alias("x"),
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "user_id")
        .sortWithinPartitions("user_id", "ts_us", "event_id")
    )

    def fold(batches):
        import pandas as pd

        mul, den = (1 << EWMA_SHIFT) - 1, 1 << EWMA_SHIFT
        cur = None  # (user_id, e_acc, n)
        out_uid: list[int] = []
        out_n: list[int] = []
        out_e: list[int] = []
        for pdf in batches:
            for uid, x in zip(pdf["user_id"], pdf["x"]):
                uid, x = int(uid), int(x)
                if cur is None or uid != cur[0]:
                    if cur is not None:
                        out_uid.append(cur[0]); out_n.append(cur[2]); out_e.append(cur[1])
                    cur = (uid, x, 1)
                else:
                    cur = (uid, (x + mul * cur[1]) // den, cur[2] + 1)
        if cur is not None:
            out_uid.append(cur[0]); out_n.append(cur[2]); out_e.append(cur[1])
        yield pd.DataFrame(
            {"user_id": out_uid, "n_events": out_n, "ewma_cents": out_e}
        )

    return v.mapInPandas(
        fold, schema="user_id long, n_events long, ewma_cents long"
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Join-key skew diagnostics.
# ---------------------------------------------------------------------------

SKEW_TOP_N = 20


@register(
    "join_key_skew_profile",
    oracle=f"""
    WITH c AS (
        SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_partkey
    ),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(n_rows) AS BIGINT) AS max_rows FROM c)
    SELECT key, n_rows,
           (1000000 * n_rows) // t.total AS share_ppm,
           (1000000 * n_rows * t.n_keys) // t.total AS skew_ppm
    FROM c, t
    ORDER BY n_rows DESC, key
    LIMIT {SKEW_TOP_N}
    """,
    tags=("profiling", "skew", "diagnostics", "beyond-reference"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top heavy hitters of a join column
    (lineitem.l_partkey) with absolute count, corpus share, and skew
    ratio vs the uniform expectation (1e6 = perfectly uniform) — the
    profile that decides between plain shuffle join, AQE skew split,
    and explicit salting.  Integer ppm keeps it engine-exact.

    Scale shape: ONE map-combined count keyed by the join key (partials
    shrink each partition to its distinct keys), a 1-row global
    aggregate broadcast back, and a top-N sort over keys — never rows.
    This is the cheapest possible skew probe: strictly less work than
    the join it de-risks.  The per-key count table is materialized once
    (caching.materialize) because both the global stats and the top-N
    consume it — without the cut Catalyst re-derives it per branch and
    scans the fact table twice."""
    li = load(spark, sf_dir, "lineitem")
    c = materialize(
        li.groupBy(F.col("l_partkey").alias("key")).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
    )
    t = c.agg(
        F.sum("n_rows").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").alias("max_rows"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "key",
            "n_rows",
            F.expr("(1000000 * n_rows) div total").alias("share_ppm"),
            F.expr("(1000000 * n_rows * n_keys) div total").alias("skew_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(SKEW_TOP_N)
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline) without a global window.
# ---------------------------------------------------------------------------

PARETO_RANGE_PARTS = 32
_US_PER_DAY = 86_400_000_000


@register(
    "pareto_frontier_orders",
    oracle=f"""
    WITH v AS (
        SELECT o_orderkey,
               epoch_us(o_orderdate) // {_US_PER_DAY} AS day,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    m AS (
        SELECT o_orderkey, CAST(day AS BIGINT) AS day, cents,
               MAX(cents) OVER (ORDER BY day
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS best_before
        FROM v
    )
    SELECT o_orderkey, day, cents FROM m
    WHERE best_before IS NULL OR best_before <= cents
    ORDER BY o_orderkey
    """,
    tags=("skyline", "pareto", "beyond-reference"),
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): orders not strictly dominated —
    no other order is BOTH more expensive and strictly earlier.  The
    data-selection primitive behind "keep the best examples per cost"
    curation sweeps.  In 2-D the skyline reduces to a prefix-max scan
    over the date order: a row survives iff the max price over strictly
    earlier days does not exceed its own.

    Scale shape: the prefix-max is computed WITHOUT a global window —
    the same two-phase pattern as equi_depth_histogram:
    ``repartitionByRange`` on day puts contiguous day ranges (equal
    days never straddle) on separate partitions, each partition scans
    its own running max over a day-range frame, and the cross-partition
    prefix is a broadcast cumulative max over the per-partition maxima
    (#partitions rows).  Every corpus-sized exchange is range/pid
    keyed."""
    o = load(spark, sf_dir, "orders")
    v = o.select(
        "o_orderkey",
        # o_orderdate arrives TIMESTAMP_NTZ; cast through TIMESTAMP in the
        # UTC session (tune() pins UTC) so unix_micros matches epoch_us
        F.expr(
            f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_US_PER_DAY}"
        ).alias("day"),
        cents("o_totalprice").alias("cents"),
    )
    # Pin the (pid, row) assignment once: the counts and window branches
    # below must see identical range boundaries (operators/ranking._pin).
    ranged = _pin_ranged(
        v.repartitionByRange(PARETO_RANGE_PARTS, "day").withColumn(
            "pid", F.spark_partition_id()
        )
    )
    pmax = ranged.groupBy("pid").agg(F.max("cents").alias("mx"))
    w_cum = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = pmax.select("pid", F.max("mx").over(w_cum).alias("prev_max"))
    w_day = Window.partitionBy("pid").orderBy("day").rangeBetween(
        Window.unboundedPreceding, -1
    )
    return (
        ranged.withColumn("run_max", F.max("cents").over(w_day))
        .join(F.broadcast(prefix), "pid")
        .withColumn(
            "best_before",
            F.greatest(
                F.coalesce(F.col("run_max"), F.lit(-1)),
                F.coalesce(F.col("prev_max"), F.lit(-1)),
            ),
        )
        .where(F.col("best_before") <= F.col("cents"))
        .select("o_orderkey", "day", "cents")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Bounded label propagation over the near-dup pair graph.
# ---------------------------------------------------------------------------

LP_ROUNDS = 3


def _lp_oracle() -> str:
    rounds = []
    for r in range(1, LP_ROUNDS + 1):
        rounds.append(
            f"""m{r} AS (
        SELECT u.s AS node, MIN(l.lbl) AS nb
        FROM und u JOIN l{r - 1} l ON l.node = u.d GROUP BY u.s
    ),
    l{r} AS (
        SELECT l.node, LEAST(l.lbl, COALESCE(m.nb, l.lbl)) AS lbl
        FROM l{r - 1} l LEFT JOIN m{r} m ON m.node = l.node
    )"""
        )
    return f"""
    WITH {_LSH_CTES},
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION
        SELECT doc_b, doc_a FROM e
    ),
    l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM und),
    {",".join(rounds)}
    SELECT lbl AS community_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM l{LP_ROUNDS} GROUP BY lbl ORDER BY community_id
    """


@register(
    "label_propagation_communities",
    oracle=_lp_oracle(),
    tags=("graph", "communities", "dedup", "beyond-reference"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded min-label propagation (LP_ROUNDS rounds) over the
    verified near-dup pair graph: each round every node adopts the
    minimum label in its closed neighborhood.  Unlike the
    connected-components fixpoint (dedup_clusters), the bounded variant
    is the *diameter-limited* community view — chains longer than
    LP_ROUNDS hops stay split — which is what curation pipelines use
    when transitive near-dup closure over-merges (the "hub document"
    chaining pathology).  Deterministic: min is order-free.

    Scale shape: per round ONE equi-join of the label table against the
    edge list keyed by node + a map-combined min — the textbook Pregel
    step as DataFrames; LP_ROUNDS is a constant, so the whole operator
    is O(rounds) shuffles of (node, long) pairs.  The label table is
    materialized per round (caching.materialize) to keep lineage flat."""
    pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # und is consumed every round (and for the label init): materialize
    # once (r12) instead of re-running the union+distinct per round
    und = materialize(
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("s", "d")
        .distinct()
    )
    labels = materialize(
        und.select(F.col("s").alias("node")).distinct().withColumn("lbl", F.col("node"))
    )
    for _ in range(LP_ROUNDS):
        # r12 (the receipt_pagerank spine pattern): min over the CLOSED
        # neighborhood = min over (neighbor labels ∪ own label), so
        # union the per-edge label stream with the label table itself
        # and aggregate ONCE — identical to the old groupBy-then-LEFT-
        # JOIN-back (least(lbl, coalesce(nb, lbl))), at one exchange
        # per round and no spine join.
        nb = und.join(labels.withColumnRenamed("node", "d"), "d").select(
            F.col("s").alias("node"), "lbl"
        )
        labels = materialize(
            nb.unionByName(labels).groupBy("node").agg(F.min("lbl").alias("lbl"))
        )
    return (
        labels.groupBy(F.col("lbl").alias("community_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias("member_ids"),
        )
        .orderBy("community_id")
    )


# ---------------------------------------------------------------------------
# Feature binning with lift statistics.
# ---------------------------------------------------------------------------

BIN_CENTS = 5000  # $50 bins over the 0..~$490 value domain


@register(
    "feature_bin_liftstats",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) // {BIN_CENTS} AS bin,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events
    ),
    b AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM v GROUP BY bin
    ),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(SUM(n_pos) AS BIGINT) AS tot_pos FROM b)
    SELECT bin, n, n_pos,
           (1000000 * n_pos) // n AS pos_ppm,
           CASE WHEN g.tot_pos = 0 THEN NULL
                ELSE (1000000 * n_pos * g.tot) // (n * g.tot_pos) END AS lift_ppm
    FROM b, g
    ORDER BY bin
    """,
    tags=("binning", "features", "classifier", "beyond-reference"),
)
def feature_bin_liftstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width feature binning with class-lift statistics: bin the
    event value, count positives (purchases) per bin, and report the
    per-bin positive rate and its lift vs the global rate (1e6 =
    baseline) — the evidence table behind monotone-binning / WOE
    feature engineering for quality classifiers, kept in exact integer
    ppm (log-WOE is monotone in the lift ratio, so ranking/thresholding
    on lift_ppm is rank-identical).

    Scale shape: ONE map-combined aggregate keyed by bin (bin domain =
    value-range/width — tiny), a 1-row global broadcast, arithmetic
    map-side.  The classic wordcount shape."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        F.expr(f"CAST(ROUND(value * 100) AS BIGINT) div {BIN_CENTS}").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    b = v.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    g = b.agg(F.sum("n").alias("tot"), F.sum("n_pos").alias("tot_pos"))
    return (
        b.crossJoin(F.broadcast(g))
        .select(
            "bin",
            "n",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.expr("(1000000 * n_pos) div n").alias("pos_ppm"),
            F.expr(
                "CASE WHEN tot_pos = 0 THEN NULL"
                " ELSE (1000000 * n_pos * tot) div (n * tot_pos) END"
            ).alias("lift_ppm"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Containment similarity join (asymmetric near-dup: quotes/excerpts).
# ---------------------------------------------------------------------------

CONT_TAU_MILLI = 800


def _containment_oracle() -> str:
    from .dedup import _SHINGLES5_SQL

    return f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    exc AS (
        SELECT doc_id + 300000 AS doc_id,
               w[1:GREATEST(len(w) // 2, 5)] AS w
        FROM base WHERE len(w) >= 10
    ),
    corpus AS (SELECT doc_id, w FROM base UNION ALL SELECT doc_id, w FROM exc),
    sh AS (
        SELECT doc_id, {_SHINGLES5_SQL} AS sh FROM corpus
        WHERE len({_SHINGLES5_SQL}) > 0
    ),
    tok AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    t1 AS (
        SELECT doc_id, s,
               COUNT(*) OVER (PARTITION BY s) AS df,
               COUNT(*) OVER (PARTITION BY doc_id) AS sz
        FROM tok
    ),
    t2 AS (
        SELECT doc_id, s, sz,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn
        FROM t1
    ),
    prefix AS (
        SELECT doc_id, s, sz FROM t2
        WHERE rn <= sz - (({CONT_TAU_MILLI} * sz + 999) // 1000) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS contained_id, b.doc_id AS container_id,
               a.sz AS sz_a
        FROM prefix a JOIN t1 b ON a.s = b.s AND a.doc_id != b.doc_id
        WHERE b.sz * 1000 >= {CONT_TAU_MILLI} * a.sz
    ),
    ver AS (
        SELECT c.contained_id, c.container_id, c.sz_a,
               COUNT(*) AS inter
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.contained_id
        JOIN tok tb ON tb.doc_id = c.container_id AND tb.s = ta.s
        GROUP BY 1, 2, 3
    )
    SELECT contained_id, container_id,
           CAST((1000 * inter) // sz_a AS BIGINT) AS containment_milli
    FROM ver
    WHERE (1000 * inter) // sz_a >= {CONT_TAU_MILLI}
    ORDER BY contained_id, container_id
    """


@register(
    "dedup_containment_join",
    oracle=_containment_oracle(),
    tags=("llm", "dedup", "containment", "beyond-reference"),
)
def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join: find documents whose 5-gram shingle
    set is ≥ τ contained in another document's — the quote/excerpt/
    boilerplate-wrapper dedup Jaccard misses (a short excerpt has LOW
    Jaccard against its source but containment 1.0).  The corpus is
    augmented with planted excerpts (first half of every ≥10-word doc,
    +300000) whose contiguous shingles are subsets by construction.

    Prefix-filter principle, containment form: C(A→B) ≥ τ forces A and
    B to share one of A's first |A| − ceil(τ·|A|) + 1 rarest shingles —
    so only the PROBE side is prefix-reduced and the index side stays
    full (Chaudhuri et al.'s SSJoin asymmetry).  A size filter
    (|B| ≥ τ·|A|) prunes, exact shared-shingle counting verifies.

    Scale shape (r09, recovering the AQE-only-broadcast small-scale tax
    without static hints — VERDICT r08 #2): candidate generation is the
    prefix-filtered equi-join on rare shingles, never all-pairs.
    Document frequency is a window count keyed by shingle (the oracle's
    own t1 shape) — replacing the old groupBy df table + join, which
    shuffled the token table an extra time to CO-LOCATE df with every
    token.  The index side of the candidate join prunes to a plain
    re-explode of the checkpointed arrays (see the inline note: AQE
    broadcasts whichever side is small after the prefix filter; at
    volumes where neither fits, the shuffled equi-join on s is the
    correct plan).  Verification joins the candidate pairs back to the
    CHECKPOINTED shingle arrays (array_intersect of two per-doc sets)
    instead of re-joining two full token tables: same bytes, ~sz× fewer
    rows, so the per-row shuffle-write CPU that dominated at sf0.1
    (measured ~11 s executor time per full-token exchange) drops with
    it, and the intersect runs map-side once AQE converts the tiny
    candidate side to a broadcast.  Per-doc arrays are bounded
    (document length), so one task always holds both sides of a pair;
    if candidates ever outgrow broadcastability AQE falls back to a
    shuffled pair join — the correct plan at that volume.  Set sizes
    ride the array BEFORE the explode (shingles are array_distinct, so
    |set| = size(sh) — zero shuffles); the only sort in the plan is the
    per-doc rarity ranking the SSJoin prefix needs."""
    from .dedup import _shingles5

    # spread the compact scan BEFORE the shingle projection: a small
    # parquet file arrives as one split, and 5-gram generation is the
    # CPU-heavy step (measured 3.4 s single-task vs 0.2 s spread at
    # sf0.1); no-op at 100 TB where the scan already has > core splits
    base = spread(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    exc = base.where(F.size("w") >= 10).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.slice("w", 1, F.greatest(F.expr("size(w) div 2"), F.lit(5))).alias("w"),
    )

    corpus = base.unionByName(exc)
    sh = corpus.select("doc_id", _shingles5(F.col("w")).alias("sh"))
    # Materialize the ARRAY frame before exploding: the four tok
    # consumers (df aggregate, probe ranking, index side, verify sides)
    # re-explode from the checkpoint instead of re-tokenizing the
    # corpus, and the barrier guards against InferFiltersFromGenerate
    # duplicating the higher-order shingle expression into a pushed-down
    # Filter on sessions where tune() hasn't excluded the rule (measured
    # 3.3 s serial vs 0.1 s on the stored arrays — see session.py).
    # sz rides the array pre-explode: _shingles5 is array_distinct, so
    # the oracle's COUNT(*) OVER (PARTITION BY doc_id) == size(sh)
    # exactly; explode drops empty arrays, matching `WHERE size(sh)>0`.
    docs = materialize(sh.select("doc_id", F.size("sh").alias("sz"), "sh"))
    tok = docs.select("doc_id", "sz", F.explode("sh").alias("s"))
    t1 = tok.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
    ranked = t1.withColumn(
        "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s"))
    )
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz") - F.expr(f"({CONT_TAU_MILLI} * sz + 999) div 1000") + 1
    ).select(F.col("doc_id").alias("contained_id"), "s", F.col("sz").alias("sz_a"))
    # index side: column pruning deletes the window from this branch, so
    # it is a plain re-explode of the CHECKPOINTED arrays — cheap map
    # work, no window sort.  (An exchange-reuse formulation was tried
    # and measured in r09: the self-join's attribute de-duplication
    # re-aliases the subtree, AQE does not match the stages, and forcing
    # the window to survive pruning just made the index side compute its
    # own window — strictly worse.  AQE instead broadcasts whichever
    # join side is small after the prefix filter; at volumes where
    # neither fits, the shuffled join on s is the correct plan.)
    idx = t1.select("doc_id", "sz", "s")
    cand = (
        prefix.join(idx, "s")
        .where(F.col("contained_id") != F.col("doc_id"))
        .where(F.col("sz") * 1000 >= CONT_TAU_MILLI * F.col("sz_a"))
        .select(
            "contained_id", F.col("doc_id").alias("container_id"), "sz_a"
        )
        .distinct()
    )
    # exact verification on the checkpointed arrays (sets by
    # construction: _shingles5 is array_distinct) — inter = |A ∩ B|
    a = docs.select(F.col("doc_id").alias("contained_id"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("container_id"), F.col("sh").alias("sh_b"))
    ver = (
        a.join(cand, "contained_id")
        .join(b, "container_id")
        .select(
            "contained_id",
            "container_id",
            "sz_a",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
    )
    cont = F.expr("(1000 * inter) div sz_a")
    return (
        ver.where(cont >= CONT_TAU_MILLI)
        .select("contained_id", "container_id", cont.alias("containment_milli"))
        .orderBy("contained_id", "container_id")
    )


# ---------------------------------------------------------------------------
# Item co-occurrence pairs (market-basket association counts).
# ---------------------------------------------------------------------------

COOC_TOP_N = 30


@register(
    "item_cooccurrence_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
    p AS (
        SELECT a.pk AS part_a, b.pk AS part_b, CAST(COUNT(*) AS BIGINT) AS n_co
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_co,
           (1000000 * n_co) // n.n_orders AS support_ppm
    FROM p, n
    ORDER BY n_co DESC, part_a, part_b
    LIMIT {COOC_TOP_N}
    """,
    tags=("association", "cooccurrence", "beyond-reference"),
)
def item_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the most frequent part pairs bought
    in the same order, with ppm support — one A-priori round / the
    co-occurrence statistics behind item-item recommenders and
    phrase-association mining.

    Scale shape: baskets collect per order (map-combined, bounded by
    basket size — TPC-H baskets are ≤7 lines; a pathological
    mega-basket would get the hot-bucket cap treatment the LSH join
    uses), pairs expand from each sorted basket array so fanout is
    bounded by basket size squared exactly like the self-join form the
    r12 rewrite replaced — minus that form's three lineitem scans and
    its SortMergeJoin.  The pair count is map-combined; the 1-row
    basket total broadcasts; the top-N sorts pair-domain rows, never
    baskets."""
    li = load(spark, sf_dir, "lineitem")
    # One basket row per order (collect_set is map-side combinable and
    # bounded by basket size), materialized once: the old
    # distinct-items self-join form re-scanned lineitem and re-ran the
    # distinct THREE times (a side, b side, n_orders) and planned the
    # pair generation as a SortMergeJoin — the r12 rewrite generates
    # the same ordered pairs from each basket's sorted item array
    # (fanout bounded by basket size squared, exactly like the join on
    # ok), on ONE scan and ONE exchange keyed by order.
    baskets = materialize(
        li.groupBy(F.col("l_orderkey").alias("ok")).agg(
            F.sort_array(F.collect_set("l_partkey")).alias("pks")
        )
    )
    n = baskets.agg(F.count("*").alias("n_orders"))
    # pairs {(a, b): a < b} within each basket: the array is sorted and
    # duplicate-free, so position order IS value order
    p = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(pks, (x, i) ->"
                    " transform(slice(pks, i + 2, size(pks)), y ->"
                    " struct(x AS part_a, y AS part_b))))"
                )
            ).alias("pr")
        )
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    return (
        p.crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_co",
            F.expr("(1000000 * n_co) div n_orders").alias("support_ppm"),
        )
        .orderBy(F.col("n_co").desc(), "part_a", "part_b")
        .limit(COOC_TOP_N)
    )


# ---------------------------------------------------------------------------
# The END-TO-END curation pipeline as one oracle-gated query.
# ---------------------------------------------------------------------------


def _curation_oracle() -> str:
    from ..curation import QUALITY_MIN_MILLI
    from .dedup import lsh_ctes

    return f"""
    WITH RECURSIVE
    d0 AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    ck AS (SELECT doc_id, md5(text) AS k FROM d0),
    keep AS (SELECT k, MIN(doc_id) AS keeper FROM ck GROUP BY k),
    kk AS (SELECT ck.doc_id, keep.keeper FROM ck JOIN keep USING (k)),
    exact_kept AS (
        SELECT d.doc_id, d.text FROM d0 d
        JOIN kk ON kk.doc_id = d.doc_id WHERE kk.doc_id = kk.keeper
    ),
    {lsh_ctes("SELECT doc_id, text FROM exact_kept")},
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION SELECT doc_b, doc_a FROM e
    ),
    reach AS (
        SELECT s AS node, s AS lbl FROM und
        UNION SELECT u.d, r.lbl FROM reach r JOIN und u ON u.s = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node),
    labels AS (
        SELECT ek.doc_id, COALESCE(c.cluster, ek.doc_id) AS cluster, ek.text
        FROM exact_kept ek LEFT JOIN comp c ON c.node = ek.doc_id
    ),
    elected AS (SELECT cluster, MIN(doc_id) AS doc_id FROM labels GROUP BY cluster),
    q AS (
        SELECT l.doc_id,
               LEAST(GREATEST((1000 * length(l.text))
                     // GREATEST(len(string_split(l.text, ' ')), 1)
                     - 2000, 0), 1000) AS qm
        FROM labels l JOIN elected el ON el.doc_id = l.doc_id
    ),
    dec AS (
        SELECT doc_id, 'kept' AS stage FROM q WHERE qm >= {QUALITY_MIN_MILLI}
        UNION ALL
        SELECT doc_id, 'low_quality' FROM q WHERE qm < {QUALITY_MIN_MILLI}
        UNION ALL
        SELECT doc_id, 'exact_dup' FROM kk WHERE doc_id != keeper
        UNION ALL
        SELECT l.doc_id, 'near_dup' FROM labels l
        WHERE l.doc_id NOT IN (SELECT doc_id FROM elected)
    )
    SELECT doc_id, stage FROM dec ORDER BY doc_id
    """


@register(
    "curation_decisions",
    oracle=_curation_oracle(),
    tags=("llm", "curation", "pipeline", "dedup", "beyond-reference"),
)
def curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline (curation.curate) as one gated
    query: exact dedup → LSH near-dup clusters → election → quality
    filter, with every input document classified into exactly one of
    kept / exact_dup / near_dup / low_quality.  The DuckDB oracle
    re-runs the entire flow — including the recursive-CTE connected
    components and the identical LSH chain over the exact-dedup
    survivors — so the end-to-end pipeline, not just its stages, is
    hash-checked cross-engine.

    Scale shape: inherits each stage's audited plan (one content-hash
    shuffle; banded LSH with the hot-bucket cap, never all-pairs;
    O(log n) CC rounds over checkpointed frontiers; keyed election and
    quality map; persisted stage hand-offs so the corpus is scanned
    once per stage)."""
    from ..curation import curate
    from ..tables import load as _load

    docs = _load(spark, sf_dir, "documents")
    return curate(docs)["decisions"].orderBy("doc_id")
