"""Planted-skew RUNTIME red-team (VERDICT r06 #2).

The 52 plan tests prove shapes (rangepartitioning present, no
cartesian); these tests prove runtime behavior under planted skew, by
measuring actual per-partition row counts (``spark_partition_id()``
group-counts ARE the per-task input rows of the stage) and actual
operator output:

1. dominant-group spread: with one language at 90% of rows, a plain
   ``PARTITION BY lang`` window funnels 90% of the corpus through ONE
   task; ``two_phase_grouped_rank``'s range partitioning on
   (group, order) must spread the dominant group so
   max-task-rows / median-task-rows stays near 1 — asserted from
   measured partition counts, not the plan;
2. hot-bucket cap engagement: a 70-clone boilerplate family exceeds
   MAX_BUCKET_DOCS in every band, so the cap must drop those buckets —
   zero pairs between clones in the output, while a small genuine
   near-dup family still pairs up;
3. mega-basket exactness: one basket 100x the median must still produce
   exactly C(n,2) co-occurrence pairs through the basket-keyed
   self-join (fanout bounded by basket size, not corpus size).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_near_indexer_spark.operators.ranking import two_phase_grouped_rank


def _skewed_docs(spark, n=4000, dominant_frac=0.9):
    """(doc_id, lang, n_chars): 90% of rows in language 'en'."""
    cut = int(n * dominant_frac)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < cut, F.lit("en"))
        .otherwise(F.concat(F.lit("l"), (F.col("id") % 7).cast("string")))
        .alias("lang"),
        ((F.col("id") * 7919) % 100000).alias("n_chars"),
    )


def test_grouped_rank_spreads_dominant_group(spark):
    docs = _skewed_docs(spark)
    parts = 16
    # Measure the ACTUAL row distribution of the operator's range
    # partitioning (same keys, same partition count): per-pid counts are
    # the per-task input rows of the local-rank stage.
    ranged = docs.repartitionByRange(parts, "lang", "n_chars", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    counts = sorted(
        r["n"] for r in ranged.groupBy("pid").agg(F.count("*").alias("n")).collect()
    )
    assert len(counts) >= parts - 1, "dominant group spans many partitions"
    med = counts[len(counts) // 2]
    assert max(counts) <= 3 * med, (
        f"skewed task balance: max {max(counts)} vs median {med} "
        f"(single-window would put 3600 rows on one task)"
    )
    # the naive formulation's imbalance, for contrast: one lang = one task
    naive = (
        docs.repartition(parts, "lang")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert naive >= 3600, "fixture really is skewed under hash-by-group"

    # and the operator is still exact on the skewed input
    got = two_phase_grouped_rank(
        docs, ["lang"], ["n_chars", "doc_id"], parts=parts
    ).select("doc_id", "rank")
    want = docs.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("lang").orderBy("n_chars", "doc_id")
        ),
    ).select("doc_id", "rank")
    assert {(r["doc_id"], r["rank"]) for r in got.collect()} == {
        (r["doc_id"], r["rank"]) for r in want.collect()
    }


def test_hot_bucket_cap_engages_at_runtime(spark):
    from rust_near_indexer_spark.queries.dedup import (
        MAX_BUCKET_DOCS,
        bands_from_signatures,
        candidate_pair_ids,
        cap_hot_buckets,
        signatures_for,
        verify_pair_ids,
    )

    boiler = "this exact boilerplate legal disclaimer repeats verbatim across pages"
    fam = "a genuinely distinct small family of near duplicate documents here"
    n_clones = MAX_BUCKET_DOCS + 6
    rows = [(i, boiler) for i in range(n_clones)]
    rows += [(1000, fam), (1001, " ".join(fam.split()[:-1]))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = signatures_for(docs).persist()
    bands = bands_from_signatures(sigs)
    # runtime precondition: the clone bucket really exceeds the cap
    hot_n = (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    assert hot_n >= n_clones, "clones share every band bucket"
    capped = cap_hot_buckets(bands)
    pairs = verify_pair_ids(candidate_pair_ids(capped), sigs).collect()
    clone_pairs = [p for p in pairs if p["doc_a"] < 1000 and p["doc_b"] < 1000]
    assert clone_pairs == [], "capped bucket absent from the pair output"
    assert {(p["doc_a"], p["doc_b"]) for p in pairs} == {(1000, 1001)}, (
        "genuine small family still found"
    )
    # without the cap the clone group would emit C(70,2)=2415 candidates
    uncapped = candidate_pair_ids(bands).count()
    assert uncapped >= n_clones * (n_clones - 1) // 2
    sigs.unpersist()


def test_mega_basket_cooccurrence_exact(spark):
    """One basket 100x the rest: the basket-keyed self-join's fanout is
    C(basket,2) for THAT basket only — output counts stay exact."""
    mega = [(1, p) for p in range(100)]
    small = [(o, p) for o in range(2, 42) for p in (o % 5, o % 5 + 1)]
    items = spark.createDataFrame(mega + small, "ok long, pk long").distinct()
    a = items.select("ok", F.col("pk").alias("part_a"))
    b = items.select("ok", F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_co"))
    )
    total = pairs.agg(F.sum("n_co").alias("s")).collect()[0]["s"]
    assert total == 100 * 99 // 2 + 40, "exact fanout: mega C(100,2) + 40 smalls"
