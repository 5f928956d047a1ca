"""SparkSession construction.

One place for every engine-level knob so tests, bench.py and the driver
entry point all run the same configuration.  Scale posture (100 TB,
1000 executors) is encoded here as defaults that are correct on a real
cluster and merely harmless locally: AQE with skew-join handling,
partition coalescing, broadcast threshold, UTC session timezone
(required for DuckDB-oracle comparison — DuckDB timestamps are
UTC-naive), and Arrow for any pandas exchange.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import tempfile
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

def _env_byte_size(var: str, default: str) -> str:
    """Env var ``var`` (else ``default``) as a Spark byte size: digits and
    an optional b/k/kb/m/mb/g/gb/t/tb/p/pb suffix.  Anything else raises
    a ValueError naming ``var`` at import, not at the first shuffle."""
    value = os.environ.get(var, default).strip()
    if not re.fullmatch(r"\d+(b|[kmgtp]b?)?", value.lower()):
        raise ValueError(f"{var}={value!r} is not a byte size such as 64m or 67108864")
    return value


# Configs applied to *every* session we build, and (idempotently, at
# runtime) to sessions handed to us by the driver.  Only runtime-settable
# ones go in RUNTIME_CONFS.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # The reference keeps nanosecond timestamps as raw u64
    # (indexer-primitives/src/lib.rs:28, DateTime64(9) in ClickHouse);
    # Spark's TimestampType is µs.  Read parquet TIMESTAMP(NANOS) as a
    # canonical ns-long and derive µs timestamps (SURVEY §1.2).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size post-shuffle partitions to the DATA, not to the core count
    # (guide §2.2/§2.6, VERDICT r12 #3): with the default
    # parallelismFirst=true AQE targets max(bytes/defaultParallelism,
    # 1 MB) — at fixture scale that schedules dozens of micro-tasks per
    # exchange (the r12 driver's 8-core run beat 32 cores 93 s vs 111 s
    # on pure scheduling overhead), and at 100 TB it under-sizes
    # partitions the moment the cluster grows.  parallelismFirst=false
    # makes AQE honor the advisory target at EVERY scale: tiny exchanges
    # coalesce to one task, petabyte exchanges land at ~advisory-sized
    # partitions (guide §2.2's 100 MB–1 GB band).  The advisory size is
    # env-parameterised for deployments, default 64 MB (Spark's own
    # default — NOT a local-mode constant).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": _env_byte_size(
        "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "64m"
    ),
    # Arrow-batched pandas exchange: the only sanctioned Python boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # InferFiltersFromGenerate rewrites explode(f(x)) into
    # Filter(size(f(x)) > 0 AND isnotnull(f(x))) + Generate — the whole
    # generator input expression is DUPLICATED into the filter, which
    # predicate pushdown then moves below any repartition onto the scan.
    # For computed arrays (higher-order shingling, n-gram transforms,
    # band hashing) that re-evaluates the expensive expression per row
    # — serially, when the scan is a single split (measured 3.3 s vs
    # 0.45 s on 5-gram shingling at sf0.1).  The rule only ever saves
    # the Generate a look at rows whose array is empty; every explode in
    # this package feeds computed or mostly non-empty arrays, so it is
    # strictly harmful here.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}

BUILD_CONFS: dict[str, str] = {
    # The generated-class cache defaults to 100 entries; a session that
    # runs the full 89-query registry (bench warmup + timed pass) holds
    # several hundred codegen units, so the default thrashes and heavy
    # queries pay 3-5 s of Janino recompilation in the timed pass
    # (text_fingerprint benched 6× its warm time from exactly this).
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Nested-schema pruning for the deeply nested block messages.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


_ENV_BROADCAST_THRESHOLD = "SPARK_GRAFT_BROADCAST_THRESHOLD"


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """64 MB, bounded by driver heap/64 (floor 4 MB); overridable via
    SPARK_GRAFT_BROADCAST_THRESHOLD (bytes) for plan-pinning on
    non-standard heaps (ADVICE r08).

    A broadcast build materializes the whole build side DESERIALIZED on
    the driver — typically 5-10× its compressed shuffle size — so the
    threshold must scale DOWN with the driver heap.  A static 64 MB
    (sized for the roomy test machine) made a 2 GB driver die with "not
    enough memory to build and broadcast" on sf1 containment-join's
    document-frequency side (memory red-team, r08) — precisely the
    failure mode an undersized driver on a 100 TB cluster would hit.
    Reads the ACTUAL -Xmx via Runtime.maxMemory, so it is right however
    the session was built.  At the default 8 GB heap this returns 64 MB
    — identical plans to every pinned test (which therefore assume a
    heap ≥ 4 GB; below that, AQE flips marginal broadcasts to SMJ and
    the pins fail — by design, since that IS the correct small-heap
    plan; set the env override to reproduce the pinned shapes)."""
    env = os.environ.get(_ENV_BROADCAST_THRESHOLD)
    if env:
        return int(env)
    try:
        heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:  # pragma: no cover - connect-mode sessions
        heap = 8 * 1024**3
    return min(64 * 1024 * 1024, max(heap // 64, 4 * 1024 * 1024))


def _package_zip() -> str:
    """Build (once per content) a zip of this package suitable for
    ``SparkContext.addPyFile``: the archive root holds
    ``rust_near_indexer_spark/...`` so putting the zip itself on a
    worker's ``sys.path`` makes the package importable.

    The filename embeds a content hash of the ``.py`` sources; Spark
    caches fetched files by name, so a changed package ships under a
    fresh name while an unchanged one is a no-op.  ``__pycache__`` and
    bytecode are excluded (workers compile their own).
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    h = hashlib.sha256()
    for src in sources:
        h.update(os.path.relpath(src, pkg_dir).encode())
        with open(src, "rb") as fh:
            h.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{h.hexdigest()[:16]}.pyzip.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for src in sources:
                arc = os.path.join(pkg_name, os.path.relpath(src, pkg_dir))
                zf.write(src, arc)
        os.replace(tmp, zpath)  # atomic: concurrent builders converge
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (idempotent).

    ``__spark_entry__`` fixes only the *driver's* ``sys.path``; any
    ``mapInPandas``/``applyInPandas`` closure that references
    module-level functions (codecs, WARC parsing, BPE encode) is
    cloudpickled BY REFERENCE, so the executor worker must be able to
    ``import rust_near_indexer_spark`` itself.  When the JVM happens to
    be launched from the repo root the daemon's cwd masks this; from any
    other cwd the worker dies with ModuleNotFoundError (VERDICT r09 #1).
    ``addPyFile`` is the cluster-correct mechanism: the zip is fetched
    to every executor and prepended to the worker's ``sys.path`` —
    exactly what ``spark-submit --py-files`` would do on a real cluster.
    """
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - connect-mode sessions
        return
    if getattr(sc, "_rni_pkg_shipped", None):
        return
    try:
        sc.addPyFile(_package_zip())
        sc._rni_pkg_shipped = True
    except Exception:  # pragma: no cover - read-only contexts
        log.warning(
            "could not addPyFile the package; executor-side imports "
            "require the JVM cwd (or PYTHONPATH) to reach the repo",
            exc_info=True,
        )


_TUNED_APPS: set[str] = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session.

    The driver hands ``entry``/``queries()`` callables an existing
    SparkSession; this makes its behavior match ours without rebuilding.

    Idempotent AND memoized per applicationId (r12): tune() is called
    from every ``tables.load``, and each full re-application costs
    ~15 py4j round trips (~20-40 ms of driver time) — measurable inside
    every timed bench rep.  Conf values are session-stable once set;
    anything that deliberately flips one (tests) builds a new session.
    """
    try:
        app = spark.sparkContext.applicationId
        if app in _TUNED_APPS:
            return spark
    except Exception:  # pragma: no cover - connect-mode sessions
        app = None
    ship_package(spark)
    # Join-strategy policy (memory red-team, r08): compile-time
    # auto-broadcast is DISABLED because Catalyst's static size estimate
    # passes through Generate (explode) and aggregate nodes without
    # inflation — at sf1 it estimated the fully exploded 5-gram token
    # table as broadcastable and built a multi-GB HashedRelation on the
    # driver ("not enough memory to build and broadcast").  AQE instead
    # decides from MEASURED shuffle sizes, bounded by a heap-aware
    # threshold; explicit F.broadcast() hints on the known-small dims
    # are unaffected.
    thresh = _broadcast_threshold_bytes(spark)
    confs = {
        **RUNTIME_CONFS,
        # a vanilla session defaults to 200 shuffle partitions, far too
        # many for the core count (AQE coalesces post-shuffle, but the
        # initial task count still costs): one per core instead
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(thresh),
    }
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on some builds
            log.warning("could not set %s=%s on this session", k, v, exc_info=True)
    # The threshold is heap-derived, so physical plan shape varies with
    # -Xmx across machines (ADVICE r08): log it so a pinned-plan failure
    # on a small-heap box is diagnosable, and let an operator pin it
    # explicitly via env.
    log.info(
        "adaptive.autoBroadcastJoinThreshold = %d bytes (%s)",
        thresh,
        "env override" if os.environ.get(_ENV_BROADCAST_THRESHOLD) else
        "min(64MB, driverHeap/64)",
    )
    if app is not None:
        _TUNED_APPS.add(app)
    return spark


def get_spark(app_name: str = "rust-near-indexer-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
