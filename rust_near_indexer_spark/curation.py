"""End-to-end corpus-curation pipeline: the composed training-data flow.

Every stage already exists as an oracle-gated registry query; this
module is the PRODUCTION composition — one function that takes a raw
document corpus and produces leak-safe, deduplicated, quality-filtered,
shard-packed training data plus a per-stage audit trail, the way a
real 100 TB curation run chains them:

    raw corpus
      → exact dedup           (hash-groupBy keep-min — dedup.py rules)
      → near-dup clusters     (MinHash-LSH pairs → connected components)
      → cluster election      (keep the min doc_id of every cluster)
      → quality filter        (integer quality score ≥ threshold)
      → leakage-safe split    (cluster-keyed hash → train/val/test —
                               near-dups can never straddle splits)
      → token-budget shards   (per split: hash order + running token sum)
      → JSONL shard tree      (sinks.write_training_shards layout)

Scale shape: the composition inherits each stage's audited plan (one
content-hash shuffle; banded LSH, never all-pairs; O(log n) CC rounds;
broadcast split of the cluster-label table; one window per source for
shard cuts; partitionBy write).  Stages communicate through pinned
DataFrames (SessionCache rules), so the corpus is scanned once per
stage, not once per downstream consumer.

Invariants (pinned by tests/test_curation_pipeline.py):
- document conservation: every input doc is exactly one of
  kept / exact-dup-dropped / near-dup-dropped / quality-dropped;
- leak-safety: no near-dup cluster spans two splits;
- the written shard tree round-trips the kept set exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import Pins, SessionCache
from .canonical import hash60
from .queries.dedup import JACCARD_MILLI_THRESHOLD  # noqa: F401 (re-export)
from .queries.dedup import verified_pairs_for
from .tables import spread

QUALITY_MIN_MILLI = 350  # keep docs scoring >= this (0..1000 scale)
SPLIT_PPM = (900_000, 50_000, 50_000)  # train / val / test
SHARD_TOKENS = 2000

# Stage hand-offs are pinned in a SessionCache entry (keyed on
# applicationId + the input plan's semantic hash), so a repeated
# curate() over the same corpus reuses the pinned stages instead of
# stacking fresh copies in executor storage, and
# caching.clear_caches() releases everything.
_CURATE_CACHE = SessionCache("curation")


def _quality_milli(text_col: str = "text") -> F.Column:
    """Integer quality score 0..1000: mean word length in milli-chars
    clamped into a 0..1000 band — floor-division integer arithmetic so
    the DuckDB oracle twin (curation_decisions) agrees bit-for-bit."""
    # '' splits to [''] → denominator 1, mwl 0 → dropped
    mwl = F.expr(
        f"(1000 * length({text_col}))"
        f" div greatest(size(split({text_col}, ' ')), 1)"
    )
    return F.least(F.greatest(mwl - 2000, F.lit(0)), F.lit(1000))


def curate(
    docs: DataFrame,
    quality_min_milli: int = QUALITY_MIN_MILLI,
) -> dict[str, DataFrame]:
    """Run the curation flow over a (doc_id, text, source, ...) corpus.

    Returns a dict of DataFrames:
      - ``decisions``: (doc_id, stage) — one row per input doc, stage ∈
        {kept, exact_dup, near_dup, low_quality};
      - ``splits``: (doc_id, split) for kept docs (leak-safe);
      - ``manifest``: (doc_id, source, n_tokens, split, shard_id).
    Nothing is collected; every output is a DataFrame the caller can
    write, join, or audit.

    Results (including the pinned stage hand-offs) are memoized per
    (applicationId, input plan, threshold) in a :class:`SessionCache`;
    call :func:`rust_near_indexer_spark.caching.clear_caches` to
    release the executor storage.
    """
    spark = docs.sparkSession
    key = ("curate", quality_min_milli, docs.semanticHash())
    return _CURATE_CACHE.get_or_build(
        spark, key, lambda pins: _curate_build(docs, quality_min_milli, pins)
    )


def _curate_build(
    docs: DataFrame, quality_min_milli: int, pins: Pins
) -> dict[str, DataFrame]:
    # Null text would vanish from every stage (md5(NULL) is NULL and the
    # hash equi-joins drop NULL keys; NULL quality fails BOTH >= and <
    # predicates) — violating document conservation.  Coalesce to ''
    # up front so such docs flow through as empty documents (exact-dup
    # or low_quality, deterministically).
    base = pins.pin(
        spread(
            docs.select(
                "doc_id",
                F.coalesce(F.col("text"), F.lit("")).alias("text"),
                "source",
            ),
            "doc_id",
        )
    )

    # 1. exact dedup: keep-min per content hash
    keyed = base.withColumn("k", F.md5("text"))
    keepers = keyed.groupBy("k").agg(F.min("doc_id").alias("keeper"))
    exact_kept = pins.pin(
        keyed.join(keepers, "k")
        .where(F.col("doc_id") == F.col("keeper"))
        .drop("k", "keeper")
    )
    # exact-dropped = base minus the keepers, as an anti-join of the two
    # PINNED frames (r12): the old keyed-join re-derivation re-ran
    # the md5 keying, the keeper aggregate and the hash join a second
    # time for the decisions branch (set identity: doc_id != keeper
    # over the join  ⇔  doc_id ∉ exact_kept)
    exact_dropped = base.select("doc_id").join(
        exact_kept.select("doc_id"), "doc_id", "left_anti"
    )

    # 2-3. near-dup clusters over the exact-kept survivors + election
    _, pairs = verified_pairs_for(exact_kept.select("doc_id", "text"), pins)
    from .operators.graph import connected_components

    comp = connected_components(pairs, "doc_a", "doc_b")  # (node, component)
    labels = (
        exact_kept.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
    )
    elected = labels.groupBy("cluster").agg(F.min("doc_id").alias("doc_id"))
    near_kept = pins.pin(exact_kept.join(elected.select("doc_id"), "doc_id"))
    # near-dropped = exact-kept minus the elected survivors, again as an
    # anti-join of PINNED frames (r12; labels' doc_id set IS
    # exact_kept's, and elected ⊆ labels, so labels ∖ elected ==
    # exact_kept ∖ near_kept) — the old form re-derived labels+elected
    # (CC-output join + election aggregate) a second time
    near_dropped = exact_kept.select("doc_id").join(
        near_kept.select("doc_id"), "doc_id", "left_anti"
    )

    # 4. quality filter
    scored = near_kept.withColumn("q_milli", _quality_milli())
    q_kept = pins.pin(scored.where(F.col("q_milli") >= quality_min_milli))
    q_dropped = scored.where(F.col("q_milli") < quality_min_milli).select("doc_id")

    # 5. leakage-safe split: hash the CLUSTER label, not the doc — every
    # member of a near-dup cluster lands in the same split by keying
    split_h = hash60(F.concat(F.lit("split|"), F.col("cluster").cast("string")))
    t, v, _ = SPLIT_PPM
    splits = (
        q_kept.select("doc_id")
        .join(labels, "doc_id")
        .withColumn("ppm", split_h % 1_000_000)
        .withColumn(
            "split",
            F.when(F.col("ppm") < t, "train")
            .when(F.col("ppm") < t + v, "val")
            .otherwise("test"),
        )
        .select("doc_id", "cluster", "split")
    )

    # 6. token-budget shards per (split, source)
    f = q_kept.join(splits.select("doc_id", "split"), "doc_id").select(
        "doc_id",
        "source",
        "split",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        hash60(F.col("doc_id")).alias("h"),
    )
    w_cum = (
        Window.partitionBy("split", "source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    manifest = f.withColumn("cum", F.sum("n_tokens").over(w_cum)).select(
        "doc_id",
        "source",
        "split",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / SHARD_TOKENS)
        .cast("long")
        .alias("shard_id"),
    )

    decisions = (
        q_kept.select("doc_id").withColumn("stage", F.lit("kept"))
        .unionByName(exact_dropped.withColumn("stage", F.lit("exact_dup")))
        .unionByName(near_dropped.withColumn("stage", F.lit("near_dup")))
        .unionByName(q_dropped.withColumn("stage", F.lit("low_quality")))
    )
    return {
        "decisions": decisions,
        "splits": splits.select("doc_id", "split"),
        "manifest": manifest,
    }
