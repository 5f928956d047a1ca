"""Round-7 ADVICE red-teams.

1. ``two_phase_rank`` must be correct WITHOUT exchange reuse: the
   (pid, row) assignment used to be consistent across the counts and
   window branches only because Spark deduplicated the identical range
   exchange; the fix pins the ranged frame once (operators/ranking._pin)
   so ``spark.sql.exchange.reuse=false`` cannot desynchronize boundary
   sampling between branches.
2. ``curation.curate`` document conservation with NULL text: md5(NULL)
   is NULL and NULL-keyed rows vanish from hash equi-joins AND from
   both sides of the quality predicate — pre-fix such docs appeared in
   no decisions stage.
3. ``curate`` persists route through a SessionCache: repeated calls on
   the same input reuse the memoized stage hand-offs instead of pinning
   fresh copies, and ``clear_caches()`` releases the executor storage.
4. ``tables.spread`` no longer touches ``df.rdd`` — the split probe is
   file-listing-based and still widens narrow scans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rust_near_indexer_spark import curation
from rust_near_indexer_spark.caching import clear_caches
from rust_near_indexer_spark.operators.ranking import two_phase_rank
from rust_near_indexer_spark.tables import _estimated_splits, load, spread


def test_two_phase_rank_survives_exchange_reuse_off(spark, sf_dir):
    """Global ranks must match the single-window oracle even when the
    optimizer cannot dedupe the two range exchanges (ADVICE r07 medium)."""
    df = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        got = {
            r["o_orderkey"]: r["rank"]
            for r in two_phase_rank(df, ["o_orderkey"]).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    from pyspark.sql.window import Window

    want = {
        r["o_orderkey"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("o_orderkey"))
        ).collect()
    }
    assert got == want


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_curate_null_text_conservation(spark):
    rows = [
        (1, "a long enough document " * 30, "web"),
        (2, None, "web"),  # NULL text: must land in exactly one stage
        (3, None, "book"),  # second NULL → exact-dup of the first ''
        (4, "", "web"),  # explicit empty collides with coalesced NULLs
    ]
    clear_caches()
    dec = curation.curate(_docs_df(spark, rows))["decisions"].collect()
    by_doc: dict[int, list[str]] = {}
    for r in dec:
        by_doc.setdefault(r["doc_id"], []).append(r["stage"])
    assert sorted(by_doc) == [1, 2, 3, 4], "every input doc classified"
    assert all(len(v) == 1 for v in by_doc.values()), "exactly one stage each"
    # doc 2 keeps the min-id slot of the ''-content group; 3 and 4 are
    # its exact dups; 2 itself then fails the quality gate
    assert by_doc[3] == ["exact_dup"] and by_doc[4] == ["exact_dup"]
    assert by_doc[2] == ["low_quality"]
    clear_caches()


def test_curate_memoizes_and_clear_releases(spark):
    rows = [(i, f"doc number {i} with some words " * 8, "web") for i in range(6)]
    docs = _docs_df(spark, rows)
    clear_caches()
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    out1 = curation.curate(docs)
    out2 = curation.curate(docs)
    assert out1 is out2, "same (session, plan, threshold) → memoized dict"
    out1["decisions"].count()
    assert not cache.isEmpty(), "stage hand-offs are pinned"
    clear_caches()
    assert cache.isEmpty(), "clear_caches released every pin"
    assert curation.curate(docs) is not out1, "cache entry dropped"
    clear_caches()


def test_spread_split_probe_is_plan_safe(spark, sf_dir):
    mem = spark.range(10).toDF("x")
    assert _estimated_splits(mem) == 0  # in-memory → treated as narrow
    scan = load(spark, sf_dir, "lineitem")
    assert _estimated_splits(scan) >= 1
    n = spark.sparkContext.defaultParallelism
    widened = spread(scan.select("l_orderkey"), "l_orderkey")
    assert widened.rdd.getNumPartitions() >= min(
        n, scan.count()
    ), "narrow scan still widened to cluster parallelism"
