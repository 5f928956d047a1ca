"""The one owner of persisted DataFrames, session-scoped caches, and the
lineage cut.

Ownership: :class:`Pins` is the only place that persists or unpersists
a DataFrame.  ``pins.pin(df)`` persists ``df`` and records it; leaving
the ``with Pins() as pins:`` block — by return or by raise — unpersists
everything pinned, newest first.  An owner that outlives the block (a
``run_bronze`` result, a cache entry) takes the pins with
``pins.pop_all()`` and closes them itself.  An unpersist that fails is
logged and skipped — the backing context may already be stopped, in
which case the executor memory is gone anyway.

Several query families (the MinHash-LSH dedup chain, the k-means
centroid fixpoint, the bronze pipeline) share an expensive intermediate
across multiple registered queries.  Those intermediates are pinned
once per (SparkSession, parameters) in a :class:`SessionCache` entry
and reused.

Keying discipline: the cache key uses ``spark.sparkContext.applicationId``
— a string minted per SparkContext — NOT ``id(spark)``.  ``id()`` of a
stopped-and-garbage-collected session can be reused by a brand-new
session, which would silently hand the new session a stale persisted
plan bound to the dead context.  applicationId can't collide that way.

Lifecycle: every ``SessionCache`` registers itself in a module-level
list so :func:`clear_caches` can release every entry's pins (e.g.
between scale factors in bench.py, or at library-user session
teardown).

Lineage cut: :func:`materialize` is the one place that decides how an
iterative loop or a multi-consumer frame pins its rows (a reliable
checkpoint when the deployment set a checkpoint dir, else an eager
localCheckpoint); :func:`materialize_observed` also returns aggregates
computed by that same job.
"""

from __future__ import annotations

import logging
from contextlib import ExitStack
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

log = logging.getLogger(__name__)

_REGISTRY: list["SessionCache"] = []


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        log.warning("could not unpersist a pinned frame", exc_info=True)


class Pins(ExitStack):
    """The owner of persisted frames: ``pin`` persists a frame and
    records it; closing the stack unpersists every recorded frame."""

    def pin(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self.callback(_unpersist, df)
        return df


class SessionCache:
    """Values keyed by (applicationId, *params); each entry owns the
    :class:`Pins` its builder pinned into."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._store: dict[tuple, tuple[Any, Pins]] = {}
        _REGISTRY.append(self)

    def get_or_build(
        self, spark: SparkSession, key: tuple, build: Callable[[Pins], Any]
    ) -> Any:
        full = (_session_key(spark),) + tuple(key)
        if full not in self._store:
            with Pins() as pins:
                self._store[full] = (build(pins), pins.pop_all())
        return self._store[full][0]

    def __len__(self) -> int:
        return len(self._store)

    def clear(self) -> None:
        for _, pins in self._store.values():
            pins.close()
        self._store.clear()


def clear_caches() -> None:
    """Release and drop every session-scoped cache entry."""
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
