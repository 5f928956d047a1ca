"""Session-scoped caches for persisted DataFrames, and the lineage cut.

Several query families (the MinHash-LSH dedup chain, the k-means
centroid fixpoint, the bronze pipeline) share an expensive intermediate
across multiple registered queries.  Those intermediates are persisted
once per (SparkSession, parameters) and reused.

Keying discipline: the cache key uses ``spark.sparkContext.applicationId``
— a string minted per SparkContext — NOT ``id(spark)``.  ``id()`` of a
stopped-and-garbage-collected session can be reused by a brand-new
session, which would silently hand the new session a stale persisted
plan bound to the dead context.  applicationId can't collide that way.

Lifecycle: every ``SessionCache`` registers itself in a module-level
list so :func:`clear_caches` can unpersist everything (e.g. between
scale factors in bench.py, or at library-user session teardown).
An unpersist that fails is logged and skipped — the backing context may
already be stopped, in which case the executor memory is gone anyway.

Lineage cut: :func:`materialize` is the one place that decides how an
iterative loop or a multi-consumer frame pins its rows (a reliable
checkpoint when the deployment set a checkpoint dir, else an eager
localCheckpoint); :func:`materialize_observed` also returns aggregates
computed by that same job.
"""

from __future__ import annotations

import logging
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

log = logging.getLogger(__name__)

_REGISTRY: list["SessionCache"] = []


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


class SessionCache:
    """A dict of persisted DataFrames (or dicts of them) keyed by
    (applicationId, *params)."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._store: dict[tuple, Any] = {}
        _REGISTRY.append(self)

    def get_or_build(
        self, spark: SparkSession, key: tuple, build: Callable[[], Any]
    ) -> Any:
        full = (_session_key(spark),) + tuple(key)
        if full not in self._store:
            self._store[full] = build()
        return self._store[full]

    def __len__(self) -> int:
        return len(self._store)

    def clear(self) -> None:
        for value in self._store.values():
            dfs = value.values() if isinstance(value, dict) else [value]
            # a cached run_bronze result also releases the intermediates
            # its DAG persisted
            release = getattr(value, "release", None)
            try:
                for df in dfs:
                    if isinstance(df, DataFrame):
                        df.unpersist()
                if release is not None:
                    release()
            except Exception:
                log.warning("%s: could not unpersist a cached frame", self.name, exc_info=True)
        self._store.clear()


def clear_caches() -> None:
    """Unpersist and drop every session-scoped cache entry."""
    for cache in _REGISTRY:
        cache.clear()


def materialize(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage and pin its rows, eagerly.

    A reliable checkpoint when the deployment set a checkpoint dir
    (cluster posture: a lost executor must not recompute the whole
    iteration chain); an eager localCheckpoint otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """:func:`materialize` ``df`` and return it with ``aggs`` over its rows
    (a dict by alias), computed in the SAME job: ``observe`` plants a
    CollectMetrics node whose accumulators fill while the checkpoint
    writes partitions, so a fixpoint loop needs no separate count or
    emptiness probe per round."""
    obs = Observation()
    out = materialize(df.observe(obs, *aggs))
    return out, obs.get  # blocks until the checkpoint job reports
