"""Two-phase global ordering primitives (the terasort pattern).

Three registry queries need a GLOBAL total-order computation — a rank
(`corpus_shuffle_order`), an NTILE bucket (`equi_depth_histogram`,
`customer_spend_quartiles`), a prefix max (`pareto_frontier_orders`) —
and a naive window (`OVER (ORDER BY ...)` with no PARTITION BY) computes
it through ONE reducer: the classic 100 TB scale-killer.

This module is the shared scale-safe formulation:

1. ``repartitionByRange(parts, *keys)`` splits rows into contiguous
   key ranges (Spark's RangePartitioner derives balanced cuts from a
   deterministic per-partition reservoir sketch — the boundaries affect
   only balance, never the result);
2. each partition computes its local window (row_number / max) keyed by
   ``spark_partition_id()``;
3. the cross-partition carry (cumulative offsets / cumulative max) is a
   window over ONE ROW PER PARTITION — #partitions rows, the only
   single-partition step — broadcast-joined back.

Every corpus-sized exchange is range- or pid-keyed.  Results are exact
and boundary-independent, so they hash-match a single-window oracle.

Correctness subtlety: the (pid, row) assignment feeds TWO plan branches
(the per-pid counts and the local window).  RangePartitioner samples
its boundaries per-execution, so the branches only agree if they share
ONE physical exchange — true today via Spark's exchange reuse, but a
config flip (``spark.sql.exchange.reuse=false``) or a canonicalization
change would silently de-sync them and corrupt every downstream
rank/NTILE.  ``_pin`` therefore materializes the ranged frame once
(``caching.materialize``) so pid assignment is a fact, not an optimizer
coincidence.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import materialize

log = logging.getLogger(__name__)

DEFAULT_PARTS = 32  # #executors-sized at 100 TB; the carry stays tiny

# Formatted physical plans of the frames _pin materialized, newest last.
# The checkpoint replaces everything below it with an RDD scan in the
# FINAL explain, so the scale-shape regression tests (rangepartitioning
# present, no corpus-wide global window) inspect the pinned subtree here
# — the plan that actually executed — instead of the truncated top plan.
from collections import deque

PINNED_PLANS: deque = deque(maxlen=8)


def _pin(df: DataFrame) -> DataFrame:
    """Materialize a frame consumed by >1 plan branch so nondeterministic
    physical choices (range-boundary sampling) are made exactly once."""
    try:
        mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        PINNED_PLANS.append(
            df._jdf.queryExecution().explainString(mode.fromString("formatted"))
        )
    except Exception:  # pragma: no cover - inspection must never fail a query
        log.warning("_pin: could not capture the pinned plan", exc_info=True)
    return materialize(df)


def two_phase_rank(
    df: DataFrame, order_cols: list[str], parts: int = DEFAULT_PARTS
) -> DataFrame:
    """Add a 1-based global ``rank`` over the total order ``order_cols``
    (which must be a unique key for a deterministic result) plus the
    total row count ``n_total`` — without a global window.

    Returns the input columns + ``rank`` (long) + ``n_total`` (long).
    """
    ranged = _pin(
        df.repartitionByRange(parts, *order_cols).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("pn"))
    w_cum = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("pn").over(w_cum), F.lit(0)).alias("offset")
    )
    total = counts.agg(F.sum("pn").alias("n_total"))
    w_part = Window.partitionBy("pid").orderBy(*order_cols)
    return (
        ranged.withColumn("rn", F.row_number().over(w_part))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .withColumn("rank", (F.col("offset") + F.col("rn")).cast("long"))
        .drop("pid", "rn", "offset")
    )


def ntile_expr(buckets: int) -> Column:
    """ANSI NTILE(B) as arithmetic on (rank, n_total): the first
    N mod B buckets take ceil(N/B) rows, the rest floor(N/B) —
    bit-identical to a window NTILE under the same total order.
    (When N < B, q=0 routes every row through the first branch, so the
    div-by-zero arm never evaluates.)"""
    b = buckets
    return F.expr(
        f"CASE WHEN rank <= (n_total % {b}) * (n_total div {b} + 1)"
        f" THEN (rank - 1) div (n_total div {b} + 1) + 1"
        f" ELSE (n_total % {b}) + (rank - (n_total % {b}) * (n_total div {b} + 1) - 1)"
        f"      div (n_total div {b}) + 1 END"
    )


def two_phase_ntile(
    df: DataFrame,
    order_cols: list[str],
    buckets: int,
    parts: int = DEFAULT_PARTS,
) -> DataFrame:
    """Input columns + an exact global NTILE ``bucket`` (long) over the
    (unique-key) total order — scale-safe."""
    return (
        two_phase_rank(df, order_cols, parts)
        .withColumn("bucket", ntile_expr(buckets).cast("long"))
        .drop("rank", "n_total")
    )


def two_phase_grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    parts: int = DEFAULT_PARTS,
) -> DataFrame:
    """Per-group 1-based ``rank`` over ``order_cols`` (unique within the
    group) plus the group size ``n_group`` — without a one-reducer-per-
    group window.

    A plain ``row_number() OVER (PARTITION BY group ORDER BY ...)`` puts
    each group's ENTIRE membership through one task: fine for many small
    groups, a straggler when one group dominates (the one-language
    corpus at 100 TB).  Here rows range-partition on
    (*group, *order) — a group larger than a partition spans several
    CONTIGUOUS partitions — each partition ranks its (pid, group) slice
    locally, and per-(group, pid) counts roll into broadcast cumulative
    offsets within the group.  The carry table is
    O(groups × partitions), the only single-partition window input.
    """
    keys = [*group_cols, *order_cols]
    ranged = _pin(
        df.repartitionByRange(parts, *keys).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    counts = ranged.groupBy(*group_cols, "pid").agg(F.count(F.lit(1)).alias("pn"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*group_cols)
    offsets = counts.select(
        *group_cols,
        "pid",
        F.coalesce(F.sum("pn").over(w_cum), F.lit(0)).alias("offset"),
        F.sum("pn").over(w_tot).alias("n_group"),
    )
    w_part = Window.partitionBy("pid", *group_cols).orderBy(*order_cols)
    return (
        ranged.withColumn("rn", F.row_number().over(w_part))
        .join(F.broadcast(offsets), [*group_cols, "pid"])
        .withColumn("rank", (F.col("offset") + F.col("rn")).cast("long"))
        .drop("pid", "rn", "offset")
    )
