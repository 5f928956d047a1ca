"""Temporal operators + a cross-engine-deterministic sketch, oracle-gated.

Four north-star operators the reference engine lacks (SURVEY §2B):

- ``purchase_attribution`` — as-of join (operators/temporal.asof_join):
  each purchase event attributed to the user's latest prior click.
- ``error_incident_windows`` — keyless interval×point range join
  (operators/temporal.interval_point_join) over error-derived windows.
- ``event_rollup_hierarchy`` — hypertable-style multi-resolution
  rollup: hour re-aggregates MINUTE output, day re-aggregates HOUR
  output (the continuous-aggregate trick: coarser tiers never rescan
  raw data; tier algebra shared with the incremental streaming
  maintenance in operators/rollup.py), all tiers unioned; the oracle
  computes every tier from raw, so the gate proves re-aggregation ≡
  direct aggregation.
- ``approx_distinct_hll`` — HyperLogLog built from scratch on the
  portable md5 hash (canonical.hash60) so Spark and DuckDB compute the
  IDENTICAL sketch: m=256 registers, integer-scaled 2^(53-ρ) register
  terms (exact bigint sum — no float accumulation), one final double
  division.  A sketch whose value is bit-reproducible across engines is
  also bit-reproducible across cluster sizes — the property that makes
  it usable in a 100 TB validation gate.

All timestamps are compared in the µs domain on both engines (DuckDB
reads the TIMESTAMP(NANOS) parquet µs-truncated — the round-1 ADVICE
precision trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import materialize
from ..canonical import cents
from ..operators.temporal import asof_join, interval_point_join
from ..tables import load
from . import register

US_PER_DAY = 86_400_000_000

# --- as-of join -----------------------------------------------------------

ATTR_TOL_US = 48 * 3600 * 10**6  # attribute purchases to clicks ≤48h prior


@register(
    "purchase_attribution",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'click'),
         j AS (
           SELECT p.event_id, p.user_id, p.ts_us,
                  c.event_id AS click_event_id, c.ts_us AS click_ts_us,
                  ROW_NUMBER() OVER (
                      PARTITION BY p.event_id
                      ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST
                  ) AS rn
           FROM p LEFT JOIN c
             ON p.user_id = c.user_id
            AND c.ts_us <= p.ts_us
            AND c.ts_us >= p.ts_us - {ATTR_TOL_US}
         )
    SELECT event_id, user_id, ts_us, click_event_id, click_ts_us,
           ts_us - click_ts_us AS gap_us
    FROM j WHERE rn = 1
    ORDER BY event_id
    """,
    tags=("asof-join", "beyond-reference"),
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's latest click
    at or before it, within a 48 h window (classic last-touch
    attribution).  Spark side is the single-shuffle union+window
    operator — no join node at all; the oracle is the O(n·m)
    join+ROW_NUMBER argmax formulation, so the two engines reach the
    answer by genuinely different plans.  Ties (same user, same µs)
    break on greatest click event_id in both."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us"), "event_type"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    # payload field order (ts_us, event_id) = the deterministic tie order
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id"
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts_us", right_ts="ts_us",
        tolerance=ATTR_TOL_US,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("r.event_id").alias("click_event_id"),
        F.col("r.ts_us").alias("click_ts_us"),
        (F.col("ts_us") - F.col("r.ts_us")).alias("gap_us"),
    ).orderBy("event_id")


# --- range join -----------------------------------------------------------

GRID_US = 600 * 10**6  # 10-minute incident grid
PRE_US = 300 * 10**6  # window opens 5 min before the grid slot
LEN_US = 1200 * 10**6  # 20-minute window ⇒ overlapping windows, points hit ≤2


@register(
    "error_incident_windows",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS ts_us, user_id, event_type FROM events),
         w AS (SELECT DISTINCT (ts_us // {GRID_US}) * {GRID_US} - {PRE_US} AS window_start_us
               FROM e WHERE event_type = 'error')
    SELECT w.window_start_us,
           w.window_start_us + {LEN_US} AS window_end_us,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS distinct_users,
           CAST(SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors
    FROM w JOIN e
      ON e.ts_us >= w.window_start_us
     AND e.ts_us < w.window_start_us + {LEN_US}
    GROUP BY w.window_start_us
    ORDER BY w.window_start_us
    """,
    tags=("range-join", "beyond-reference"),
)
def error_incident_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join: 20-minute incident windows (every 10-minute
    grid slot containing ≥1 error, opened 5 min early) joined to ALL
    events falling inside them — no equi key, so naive Spark planning
    is a BroadcastNestedLoopJoin.  The bucketed operator turns it into
    an equi-join on grid-bucket ids (each window covers 3 buckets, each
    event 1).  The oracle runs the plain inequality join."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000").alias("ts_us"), "user_id", "event_type"
    )
    wins = (
        ev.where(F.col("event_type") == "error")
        .select(
            (F.expr(f"ts_us div {GRID_US}") * GRID_US - PRE_US).alias("window_start_us")
        )
        .distinct()
        .withColumn("window_end_us", F.col("window_start_us") + LEN_US)
    )
    joined = interval_point_join(
        wins, ev, "window_start_us", "window_end_us", "ts_us", bucket_width=GRID_US
    )
    return (
        joined.groupBy("window_start_us", "window_end_us")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("distinct_users"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .orderBy("window_start_us")
    )


# --- hypertable rollup ----------------------------------------------------

from ..operators.rollup import US_PER_HOUR, US_PER_MIN, coarsen, minute_tier  # noqa: E402


def _rollup_tier_sql(res: str, width: int) -> str:
    return f"""
    SELECT '{res}' AS resolution,
           (ts_us // {width}) * {width} AS bucket_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(vc) AS BIGINT) AS value_cents
    FROM e GROUP BY 2, 3"""


@register(
    "event_rollup_hierarchy",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS vc
               FROM events)
    {_rollup_tier_sql('1m', US_PER_MIN)}
    UNION ALL {_rollup_tier_sql('1h', US_PER_HOUR)}
    UNION ALL {_rollup_tier_sql('1d', US_PER_DAY)}
    ORDER BY resolution, bucket_start_us, event_type
    """,
    tags=("rollup", "hypertable", "beyond-reference"),
)
def event_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: minute buckets
    aggregate raw events ONCE; the hour tier re-aggregates minute
    output; the day tier re-aggregates hour output.  At 100 TB that is
    the difference between one raw scan and three: counts and
    integer-cent sums are decomposable, so re-aggregation is exact.
    The oracle computes all three tiers directly from raw — the gate
    therefore proves the rollup identity, not just the arithmetic."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_type",
        cents("value").alias("vc"),
    )

    # Materialize the minute tier (r12): the re-aggregation identity was
    # already in the CODE, but Catalyst does not dedupe the shared
    # subtree across the Union — the before-plan scanned raw events
    # THREE times (once per tier).  The checkpoint makes the physical
    # plan match the docstring: one raw scan, hour and day re-aggregate
    # minute-tier rows (bucket-count sized, not event-count sized).
    minute = materialize(minute_tier(ev)).withColumn("resolution", F.lit("1m"))
    hour = coarsen(minute, US_PER_HOUR).withColumn("resolution", F.lit("1h"))
    day = coarsen(hour, US_PER_DAY).withColumn("resolution", F.lit("1d"))
    cols = ["resolution", "bucket_start_us", "event_type", "n_events", "value_cents"]
    return (
        minute.select(*cols)
        .unionByName(hour.select(*cols))
        .unionByName(day.select(*cols))
        .orderBy("resolution", "bucket_start_us", "event_type")
    )


# --- HyperLogLog sketch ---------------------------------------------------

HLL_M = 256  # registers (8 index bits off the 60-bit portable hash)
HLL_REST_BITS = 52  # remaining hash bits feeding ρ (leading-zero rank)
HLL_SCALE = HLL_REST_BITS + 1  # ρ ∈ [1, 53] ⇒ scale terms by 2^53 to stay integral
# α_m · m² · 2^53, precomputed so both engines parse ONE identical double
# literal and perform ONE division by the exact integer register sum.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(2**HLL_SCALE)
_EMPTY_TERM = 2**HLL_SCALE  # register 0 ⇒ scaled term 2^(53-0)


@register(
    "approx_distinct_hll",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      concat_ws(chr(124), user_id,
                                epoch_us(ts) // {US_PER_DAY}) AS k
               FROM events),
         h AS (SELECT event_type,
                      (('0x' || substring(md5(k), 1, 15))::BIGINT) AS h
               FROM e),
         b AS (SELECT event_type, h % {HLL_M} AS bucket,
                      h // {HLL_M} AS rest FROM h),
         r AS (SELECT event_type, bucket,
                      MAX(CASE WHEN rest = 0 THEN {HLL_REST_BITS + 1}
                               ELSE {HLL_REST_BITS + 1} - length(bin(rest))
                          END) AS rho
               FROM b GROUP BY 1, 2),
         s AS (SELECT event_type,
                      CAST(SUM(CAST(1 AS BIGINT) << ({HLL_SCALE} - rho))
                           + ({HLL_M} - COUNT(*))
                             * (CAST(1 AS BIGINT) << {HLL_SCALE})
                           AS BIGINT) AS reg_sum
               FROM r GROUP BY 1),
         x AS (SELECT event_type, COUNT(DISTINCT k) AS n_exact FROM e GROUP BY 1)
    SELECT x.event_type, x.n_exact,
           CAST(FLOOR({HLL_NUM!r} / reg_sum) AS BIGINT) AS hll_estimate,
           abs(CAST(FLOOR({HLL_NUM!r} / reg_sum) AS BIGINT) - x.n_exact) * 1000
               // x.n_exact AS err_permille
    FROM x JOIN s USING (event_type)
    ORDER BY x.event_type
    """,
    tags=("sketch", "hll", "beyond-reference"),
)
def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog over the portable 60-bit md5 hash:
    estimates distinct (user, day) pairs per event_type WITHOUT a
    distinct shuffle — registers fold with map-side partial MAX, so the
    full pass moves at most m=256 rows per group per partition.

    Register terms are integer-scaled (2^(53-ρ), exact BIGINT sum;
    empty registers contribute 2^53) and the estimate is one double
    division of two exact values — bit-identical in Spark and DuckDB,
    which is what lets a *sketch* pass a hash-equality gate.  Raw HLL
    estimate (no small/large-range correction: ln() is libm-dependent
    cross-engine); accuracy is reported honestly as err_permille vs the
    exact count (expected ≤ ~3·1.04/√256 ≈ 20%)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            "|", F.col("user_id"), F.expr(f"(ts_ns div 1000) div {US_PER_DAY}")
        ).alias("k"),
    )
    from ..canonical import hash60

    hashed = ev.select("event_type", hash60(F.col("k")).alias("h"))
    rho = F.when(F.col("rest") == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
        F.lit(HLL_REST_BITS + 1) - F.length(F.bin(F.col("rest")))
    )
    regs = (
        hashed.select(
            "event_type",
            F.expr(f"h % {HLL_M}").alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("rest"),
        )
        .withColumn("rho", rho)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    sums = regs.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SCALE} - rho)"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(_EMPTY_TERM)
        ).alias("reg_sum")
    )
    est = sums.select(
        "event_type",
        F.floor(F.lit(HLL_NUM) / F.col("reg_sum")).cast("long").alias("hll_estimate"),
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("k").alias("n_exact"))
    return (
        exact.join(est, on="event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_estimate",
            F.expr("(abs(hll_estimate - n_exact) * 1000) div n_exact").alias(
                "err_permille"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Gap-fill + LOCF: the TimescaleDB time_bucket_gapfill / ClickHouse
# ORDER BY ... WITH FILL analog — dense time buckets with
# last-observation-carried-forward over the holes.
# ---------------------------------------------------------------------------

GAPFILL_BUCKET_US = 6 * 3600 * 10**6  # 6-hour buckets


@register(
    "gapfill_locf_timeseries",
    oracle=f"""
    WITH e AS (
        SELECT event_type, epoch_us(ts) AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (
        SELECT (MIN(ts_us) // {GAPFILL_BUCKET_US}) AS b0,
               (MAX(ts_us) // {GAPFILL_BUCKET_US}) AS b1
        FROM e
    ),
    grid AS (
        SELECT t.event_type, b0 + u.i AS bucket
        FROM bounds, unnest(range(0, b1 - b0 + 1)) u(i),
             (SELECT DISTINCT event_type FROM e) t
    ),
    agg AS (
        SELECT event_type, ts_us // {GAPFILL_BUCKET_US} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM e GROUP BY 1, 2
    ),
    filled AS (
        SELECT g.event_type, g.bucket,
               COALESCE(a.n_events, 0) AS n_events,
               a.cents AS raw_cents,
               last_value(a.cents IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS locf_cents
        FROM grid g LEFT JOIN agg a
          ON a.event_type = g.event_type AND a.bucket = g.bucket
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           n_events,
           CAST(COALESCE(locf_cents, 0) AS BIGINT) AS locf_cents,
           raw_cents IS NULL AS is_gap
    FROM filled
    ORDER BY event_type, bucket
    """,
    tags=("temporal", "gapfill", "beyond-reference"),
)
def gapfill_locf_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 6-hour buckets per event_type over the table's full span,
    with empty buckets filled by last-observation-carried-forward — the
    time_bucket_gapfill / WITH FILL operator a monitoring dashboard
    needs (sparse aggregates make rate math and charting wrong).  Cents
    are exact integers; the LOCF is last_value(... IGNORE NULLS) over
    the dense grid, identical in both engines.

    Scale shape: the aggregate is one exchange keyed by
    (event_type, bucket); the dense grid is generated from a broadcast
    2-value bounds row x the distinct event types (a few rows) — the
    grid join is therefore broadcast-able and the LOCF window partitions
    by event_type, so no global ordering exists anywhere.  Grid size is
    span/bucket x n_types — independent of row count."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        cents("value").alias("cents"),
    )
    bucket_of = F.expr(f"ts_us div {GAPFILL_BUCKET_US}")
    bounds = ev.agg(
        F.min(bucket_of).alias("b0"), F.max(bucket_of).alias("b1")
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket"),
        )
    )
    agg = ev.groupBy(
        "event_type", bucket_of.alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("raw_cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(agg, ["event_type", "bucket"], "left").select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.col("raw_cents"),
        F.last("raw_cents", ignorenulls=True).over(w).alias("locf_raw"),
    )
    return filled.select(
        "event_type",
        "bucket",
        "n_events",
        F.coalesce(F.col("locf_raw"), F.lit(0)).cast("long").alias("locf_cents"),
        F.col("raw_cents").isNull().alias("is_gap"),
    ).orderBy("event_type", "bucket")


# --- Markov transition matrix over per-user event sequences ---------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
    ),
    cnt AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST((1000000 * n_transitions)
                // SUM(n_transitions) OVER (PARTITION BY from_type)
                AS BIGINT) AS prob_ppm
    FROM cnt
    ORDER BY from_type, to_type
    """,
    tags=("temporal", "sequence", "markov", "beyond-reference"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the user-journey model behind funnel discovery and
    next-action prediction features.  For each user the events are
    ordered by (ts µs, event_id) — the registry-wide deterministic tie
    order — and each adjacent pair contributes one (from, to)
    transition; probabilities are exact integer ppm (1e6·n // row
    total), so both engines agree bit-for-bit.

    Scale shape: one exchange keyed by user_id for the LEAD window
    (state = one row), one map-combined agg keyed by (from, to) whose
    cardinality is |event_types|² — tiny — and a window over that tiny
    table.  No payload wider than two enum strings ever shuffles; the
    user_id exchange is the same partitioning sessionization uses, so
    a pipeline computing both shares it."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.expr("ts_ns div 1000"), "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    cnt = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    return (
        cnt.withColumn("tot", tot)
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("(1000000 * n_transitions) div tot").alias("prob_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


# --- rolling z-score anomaly flagging (integer-exact) ---------------------

ZS_WINDOW = 20  # trailing window size (rows, excluding current)
ZS_MIN_PRIOR = 10  # minimum history before a point can be judged
ZS_SIGMA_SQ = 9  # flag |x - mean| > 3·sigma, squared to stay integral


@register(
    "rolling_zscore_anomaly",
    oracle=f"""
    WITH v AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM events
    ),
    stats AS (
        SELECT user_id, event_id, value_cents,
               COUNT(value_cents) OVER w AS n_prior,
               CAST(SUM(value_cents) OVER w AS BIGINT) AS s,
               CAST(SUM(value_cents * value_cents) OVER w AS BIGINT) AS ss
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN {ZS_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, value_cents, n_prior,
           CAST(CAST(n_prior * value_cents - s AS DECIMAL(38,0))
                * (n_prior * value_cents - s) AS BIGINT) AS dev_sq,
           CAST(CAST({ZS_SIGMA_SQ} AS DECIMAL(38,0))
                * (CAST(n_prior AS DECIMAL(38,0)) * ss
                   - CAST(s AS DECIMAL(38,0)) * s) AS BIGINT) AS var_sq9
    FROM stats
    WHERE n_prior >= {ZS_MIN_PRIOR}
      AND CAST(n_prior * value_cents - s AS DECIMAL(38,0))
          * (n_prior * value_cents - s)
          > CAST({ZS_SIGMA_SQ} AS DECIMAL(38,0))
            * (CAST(n_prior AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)
    ORDER BY user_id, event_id
    """,
    tags=("temporal", "anomaly", "window", "beyond-reference"),
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detector: flag events whose value sits
    more than 3 population-σ from the mean of the user's previous
    ZS_WINDOW (20) events.  The z-test is done entirely in integers —
    (n·x − Σ)² > 9·(n·Σx² − Σ²) is the 3σ rule with both sides scaled
    by n² — so no sqrt, no float, and both engines agree exactly.
    Magnitude: the window sums n/s/ss stay BIGINT (needs cents ≤ ~1e8
    for n=20), but the two squared products are computed in
    DECIMAL(38,0) on BOTH engines — 9·(n·Σx² − Σ²) can reach ~3.6e19
    > 2⁶³ already at the 1e8-cent bound, and BIGINT there would wrap
    silently on non-ANSI Spark while DuckDB raises.  The exact decimal
    predicate means the FILTER never diverges; only the two reported
    diagnostic columns cast to BIGINT (exact for cents ≤ ~3e7; beyond
    that the cast diverges LOUDLY — null vs raise — not silently).

    Scale shape: ONE exchange keyed by user_id; count/sum/sum-sq share
    the same frame so Spark evaluates all three in a single window
    pass with O(1) state per row (sliding frame add/evict).  The
    anomaly filter then runs map-side — output is typically a tiny
    fraction of input, so nothing wide survives to the sort."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        cents("value").alias("value_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-ZS_WINDOW, -1)
    )
    stats = v.select(
        "user_id",
        "event_id",
        "value_cents",
        F.count("value_cents").over(w).alias("n_prior"),
        F.sum("value_cents").over(w).alias("s"),
        F.sum(F.expr("value_cents * value_cents")).over(w).alias("ss"),
    )
    dev_sq = F.expr(
        "CAST(n_prior * value_cents - s AS DECIMAL(38,0))"
        " * (n_prior * value_cents - s)"
    )
    var_sq9 = F.expr(
        f"CAST({ZS_SIGMA_SQ} AS DECIMAL(38,0))"
        " * (CAST(n_prior AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
    )
    return (
        stats.where(
            (F.col("n_prior") >= ZS_MIN_PRIOR) & (dev_sq > var_sq9)
        )
        .select(
            "user_id",
            "event_id",
            "value_cents",
            "n_prior",
            dev_sq.cast("bigint").alias("dev_sq"),
            var_sq9.cast("bigint").alias("var_sq9"),
        )
        .orderBy("user_id", "event_id")
    )


# --- OHLC candlestick rollup (hypertable time_bucket first/last) ----------


@register(
    "ohlc_candles",
    oracle="""
    WITH v AS (
        SELECT event_type,
               epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_us,
               epoch_us(ts) AS ts_us, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                                  ORDER BY ts_us, event_id) AS rn_open,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                                  ORDER BY ts_us DESC, event_id DESC) AS rn_close
        FROM v
    )
    SELECT event_type, bucket_us,
           CAST(MAX(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(MAX(cents) AS BIGINT) AS high_cents,
           CAST(MIN(cents) AS BIGINT) AS low_cents,
           CAST(MAX(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM rk
    GROUP BY event_type, bucket_us
    ORDER BY event_type, bucket_us
    """,
    tags=("temporal", "rollup", "ohlc", "beyond-reference"),
)
def ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) candles per event type — the
    canonical financial/hypertable rollup where open and close are
    order-dependent aggregates.  First/last are made deterministic by
    the registry-wide (ts µs, event_id) tie order, expressed as
    row_number-over-bucket so both engines pick the identical row even
    when timestamps collide; high/low/count are plain aggregates.

    Scale shape: ONE exchange keyed by (event_type, hour-bucket) feeds
    both row_number windows (same partitioning, opposite sort — Spark
    evaluates them in two sorts over one exchange) and the final
    aggregate reuses the partitioning, so the whole candle pipeline is
    a single shuffle of (enum, bucket, cents) triples.  In streaming
    form the same algebra runs under operators/rollup.py's incremental
    tiers — first/last carry (ts, event_id) payloads so tiers merge
    associatively."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        (F.expr("(ts_ns div 1000) div 3600000000") * 3600000000).alias("bucket_us"),
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        cents("value").alias("cents"),
    )
    pb = Window.partitionBy("event_type", "bucket_us")
    rk = v.select(
        "event_type",
        "bucket_us",
        "cents",
        F.row_number().over(pb.orderBy("ts_us", "event_id")).alias("rn_open"),
        F.row_number()
        .over(pb.orderBy(F.col("ts_us").desc(), F.col("event_id").desc()))
        .alias("rn_close"),
    )
    return (
        rk.groupBy("event_type", "bucket_us")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("cents"))).alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rn_close") == 1, F.col("cents"))).alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "bucket_us")
    )


# --- merge overlapping intervals (gaps-and-islands) -----------------------

ISLAND_PAD_US = 5 * 60 * 1_000_000  # error window: ±5 min around each error


@register(
    "interval_merge_islands",
    oracle=f"""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) - {ISLAND_PAD_US} AS start_us,
               epoch_us(ts) + {ISLAND_PAD_US} AS end_us,
               event_id
        FROM events WHERE event_type = 'error'
    ),
    o AS (
        SELECT *,
               CAST(MAX(end_us) OVER (
                   PARTITION BY user_id ORDER BY start_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT) AS prev_max_end
        FROM iv
    ),
    g AS (
        SELECT *,
               CAST(SUM(CASE WHEN prev_max_end IS NULL
                             OR start_us > prev_max_end THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY start_us, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
        FROM o
    )
    SELECT user_id, island_id,
           CAST(MIN(start_us) AS BIGINT) AS island_start_us,
           CAST(MAX(end_us) AS BIGINT) AS island_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_errors
    FROM g
    GROUP BY user_id, island_id
    ORDER BY user_id, island_id
    """,
    tags=("temporal", "intervals", "gaps-and-islands", "beyond-reference"),
)
def interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals (gaps-and-islands): each error event
    spawns a ±5-minute incident interval; overlapping intervals per
    user coalesce into maximal islands with their error counts — the
    interval-union operator behind incident grouping, downtime
    accounting, and span coalescing.  An island break happens exactly
    when an interval starts after the running max end of all earlier
    intervals; the running count of breaks is the island id.  All
    integer µs — exact on both engines.

    Scale shape: one exchange keyed by user_id serves both window
    passes (running max-end, then running break-count — same
    partitioning AND same (start_us, event_id) sort, so Spark
    evaluates them over one sorted pass) and the island aggregate
    reuses the same keys.  State per row is O(1); no self-join — the
    naive interval-overlap self-join is quadratic per user and never
    survives scale."""
    e = load(spark, sf_dir, "events")
    iv = e.where(F.col("event_type") == "error").select(
        "user_id",
        (F.expr("ts_ns div 1000") - ISLAND_PAD_US).alias("start_us"),
        (F.expr("ts_ns div 1000") + ISLAND_PAD_US).alias("end_us"),
        "event_id",
    )
    ws = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    o = iv.withColumn(
        "prev_max_end",
        F.max("end_us").over(ws.rowsBetween(Window.unboundedPreceding, -1)),
    )
    g = o.withColumn(
        "island_id",
        F.sum(
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("start_us") > F.col("prev_max_end")),
                1,
            ).otherwise(0)
        ).over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        g.groupBy("user_id", "island_id")
        .agg(
            F.min("start_us").alias("island_start_us"),
            F.max("end_us").alias("island_end_us"),
            F.count(F.lit(1)).alias("n_errors"),
        )
        .orderBy("user_id", "island_id")
    )
