"""Access to the driver-provided parquet tables.

``/root/testdata/sf{0.001,0.01,0.1}/*.parquet`` — TPC-H-ish star schema
plus ``events`` / ``documents`` / ``embeddings`` (see TESTDATA.md).
Reads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition-sized splits for free.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import SessionCache
from .session import tune

# logical-plan memo for load(); holds DataFrames and pins nothing, so
# clear_caches() only drops its entries
_DF_CACHE = SessionCache("tables.load")

_log = logging.getLogger(__name__)

# one schema-probe log line per (sf_dir, table) per process — the r02
# gate lost 8 queries to a silent testdata dtype flip-flop; this makes
# the next one visible in any log the driver keeps
_PROBED: set[tuple[str, str]] = set()


def _probe_schema(sf_dir: str, name: str, path: str) -> None:
    if (sf_dir, name) in _PROBED:
        return
    _PROBED.add((sf_dir, name))
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        arrived = ", ".join(f"{f.name}:{f.type}" for f in schema)
        _log.info("[tables] %s/%s.parquet arrived as (%s)", sf_dir, name, arrived)
    except Exception as e:  # never let observability break the read
        _log.info("[tables] schema probe failed for %s: %s", path, e)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Widen a compact scan before CPU-heavy per-row derivation.

    A small parquet file yields few input splits (parquet can't split
    below row-group granularity), so md5/regex-heavy projections over it
    run on a handful of cores no matter the cluster size.  Repartition to
    ``defaultParallelism`` — which scales with the cluster — but ONLY
    when the scan is narrower than that: at 100 TB the scan already has
    more partitions than cores and the shuffle would be pure waste, so
    this becomes a no-op there.

    Partition probe: ``df.rdd.getNumPartitions()`` would force a JVM
    RDD conversion of the whole logical plan just to read a count (a
    lazy-eval footgun on wide plans), so the split estimate comes from
    the file listing instead — one split per file plus one per extra
    ``maxPartitionBytes`` of the largest file.  An under-estimate only
    means an extra no-op-sized shuffle on a corpus that is near the
    core count anyway; at 100 TB the file count alone clears the bar.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if _estimated_splits(df) >= n:
        return df
    cols = [F.col(k) for k in keys]
    return df.repartition(n, *cols) if cols else df.repartition(n)


def _estimated_splits(df: DataFrame) -> int:
    """Lower bound on the scan's input splits without touching df.rdd."""
    try:
        files = df.inputFiles()
    except Exception:
        # expected, not a fault: a non-file source (in-memory fixture)
        # has no input files, so treat it as narrow
        return 0
    if not files:
        return 0
    raw = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    ).lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    digits = raw.rstrip("kmgb")
    suffix = raw[len(digits) :].rstrip("b")
    max_bytes = int(digits or "134217728") * units.get(suffix, 1)
    extra = 0
    try:
        import os as _os

        for f in files:
            p = f.removeprefix("file:")
            extra += max(0, (_os.path.getsize(p) - 1) // max_bytes)
    except OSError:
        pass  # remote FS: file count alone is the bound
    return len(files) + extra


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Return the canonicalized DataFrame for a driver table.

    r12: the built DataFrame (a LOGICAL PLAN, no data) is memoized per
    (session, sf_dir, table).  ``spark.read.parquet`` costs ~100 ms of
    driver work per call (file listing + footer/schema resolution over
    py4j) and the events dtype branch adds a ``dtypes`` analysis round
    trip — paid inside every query construction, i.e. per bench rep,
    which for two-table queries was 0.2–0.7 s of pure driver overhead
    (guide §5: the driver should not repeat work).  Every execution of
    the memoized plan still scans parquet — nothing is persisted; this
    is the same reuse as holding the DataFrame in a variable.  The
    testdata directories are immutable, so the snapshot file listing
    cannot go stale (the same assumption Spark's own
    filesourcePartitionFileCache makes)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    tune(spark)
    return _DF_CACHE.get_or_build(
        spark, (sf_dir, name), lambda _pins: _load_uncached(spark, sf_dir, name)
    )


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    _probe_schema(sf_dir, name, path)
    df = spark.read.parquet(path)
    if name == "embeddings":
        # Canonical schema regardless of the arrived element width:
        # float32→float64 upcast is exact in BOTH engines (DuckDB's
        # CAST(x AS DOUBLE) sees the identical values), so every
        # downstream quantizer/bucket expression computes the same
        # integers whichever width the driver ships.  ids widen to long.
        df = df.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.col("label").cast("int").alias("label"),
        )
    elif name == "documents":
        # ids/counters long, text columns as-is (large_string arrives as
        # plain string through Spark's parquet reader already)
        df = df.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("text").cast("string").alias("text"),
            F.col("lang").cast("string").alias("lang"),
            F.col("source").cast("string").alias("source"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    elif name == "events":
        # Keep the reference's dual convention regardless of how the
        # driver wrote ts (SURVEY §1.2: block_timestamp_ns long +
        # µs-truncated TimestampType ts).  Testdata generations have
        # shipped ts as either parquet TIMESTAMP(NANOS) — read as
        # ns-long under nanosAsLong (session.py) — or TIMESTAMP(MICROS)
        # — read as TIMESTAMP_NTZ.  Branch on the arrived type.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            # NTZ → session-UTC timestamp carries the same wall-clock
            # instant (session.py pins spark.sql.session.timeZone=UTC).
            ts = F.col("ts").cast("timestamp")
            df = df.withColumn("ts_ns", F.unix_micros(ts) * F.lit(1000)).withColumn(
                "ts", ts
            )
    return df
