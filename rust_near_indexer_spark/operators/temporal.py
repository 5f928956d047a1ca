"""Temporal join operators the reference lacks but a 100 TB event store
needs: as-of join and interval×point range join.

Both are expressed as compositions of built-in DataFrame ops (union +
window, explode + equi-join) so Catalyst/Tungsten execute them entirely
JVM-side — no Python in the hot path — and both reduce a theta-join
(which Spark would otherwise execute as BroadcastNestedLoopJoin or a
cartesian product) to a single hash-shuffle.

Scale posture:
- ``asof_join`` shuffles each side ONCE on the key, then resolves the
  as-of lookup with a per-key window sort — wall-clock is bounded by the
  largest single key (same skew profile as any keyed window), never by
  |left|×|right|.
- ``interval_point_join`` costs |points| + Σ(interval_len/bucket_width)
  shuffled rows; pick ``bucket_width`` near the typical interval length
  so each interval lands in O(1) buckets.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    tolerance: Optional[int] = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` sharing the ``on`` key (LEFT semantics:
    unmatched left rows keep a NULL match).

    Single-shuffle formulation: tag both sides, union, and carry the
    last non-null right payload forward through one window ordered by
    ``(ts, side, payload)`` per key.  Right rows sort before left rows
    at equal ts, so a right row exactly at ``left_ts`` matches.

    Tie rule (deterministic): among right rows with equal ``right_ts``,
    the greatest payload struct wins — field order of ``right.columns``
    defines the comparison, so callers order their right projection
    accordingly.

    ``tolerance`` (same unit as the ts columns) nulls out matches older
    than ``left_ts - tolerance``; because the carried match is always
    the *latest* candidate, nulling it is equivalent to excluding
    out-of-window rows from the join.  Requires ``right_ts`` to be one
    of the right payload columns.

    Returns the full left row plus a struct column ``r`` holding the
    matched right row's non-key columns (NULL when no match).
    """
    key = [on] if isinstance(on, str) else list(on)
    l2 = left.select(
        *key,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
    )
    r2 = right.select(
        *key,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in right.columns if c not in key]).alias("_rpay"),
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = (
        Window.partitionBy(*key)
        .orderBy("_ats", "_side", "_rpay")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("r", F.last("_rpay", ignorenulls=True).over(w)).where(
        F.col("_side") == 1
    )
    if tolerance is not None:
        in_window = F.col("_ats") - F.col(f"r.{right_ts}") <= F.lit(tolerance)
        matched = matched.withColumn("r", F.when(in_window, F.col("r")))
    return matched.select(F.col("_lrow.*"), F.col("r"))


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner-join intervals ``[start, end)`` with points at ``ts`` —
    no equi key required.

    Each interval explodes into the grid buckets it covers
    (``start div w .. (end-1) div w``), each point maps to its single
    bucket, and a plain equi-join on the bucket id + an exact
    containment filter replaces the theta-join.  Catalyst would
    otherwise plan ``ts >= start AND ts < end`` with no equi conjunct
    as a BroadcastNestedLoopJoin — O(N·M) and broadcast-bound.

    Column names of the two inputs must be disjoint (the result carries
    both sides' columns).  Ts/start/end are integers of one unit (µs
    here); ``bucket_width`` in the same unit.
    """
    overlap = set(intervals.columns) & set(points.columns)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.expr(
                f"sequence({start_col} div {bucket_width},"
                f" ({end_col} - 1) div {bucket_width})"
            )
        ),
    )
    pt = points.withColumn("_bucket", F.expr(f"{ts_col} div {bucket_width}"))
    return (
        iv.join(pt, on="_bucket")
        .where((F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_bucket")
    )
