#!/usr/bin/env python
"""Reproduce / adjudicate the in-session bench degradation (round 12).

Observation: in the full 156-query bench session, late-running queries
measure 2-7x their fresh-session cost (embedding_pca_top_component:
10.9s in-bench vs 1.6s fresh).  Hypothesis: eager localCheckpoint
blocks (caching.materialize) accumulate in the block
manager because ContextCleaner only releases them on a driver JVM GC,
which an 8g heap rarely triggers; storage fills, unified memory
contention + eviction slow every subsequent stage.

Protocol: run N materialize-heavy "filler" queries back-to-back, timing
a sentinel query (embedding_pca_top_component) at intervals; print
block-manager storage status alongside.  Run with and without
SPARK_GRAFT_PERIODIC_GC to compare.

Usage:
    python scripts/session_degradation_probe.py [n_fillers]
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SENTINELS = ["embedding_pca_top_component", "distinct_segments"]
# materialize/persist-heavy queries, the bench's own workload shape
FILLERS = [
    "dedup_prefix_filter_join",
    "dedup_containment_join",
    "dedup_ngram_jaccard",
    "term_posting_lists",
    "label_propagation_communities",
    "event_rollup_hierarchy",
    "receipt_pagerank",
    "receipt_dag_depths",
    "dedup_substring_spans",
    "curation_decisions",
]


def storage_status(spark) -> str:
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    mem = jsc.getExecutorMemoryStatus()
    # local mode: single entry driver -> (maxMem, remainingMem)
    it = mem.iterator()
    parts = []
    while it.hasNext():
        kv = it.next()
        t = kv._2()
        used = (t._1() - t._2()) / 1e6
        parts.append(f"storage_used={used:.0f}MB of {t._1() / 1e6:.0f}MB")
    n_rdds = jsc.getPersistentRDDs().size()
    return f"{'; '.join(parts)} persistent_rdds={n_rdds}"


def main() -> int:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    from rust_near_indexer_spark.queries import load_registry
    from rust_near_indexer_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("degradation_probe")
    reg = load_registry()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        reg[name].spark(spark, sf_dir).collect()
        return time.perf_counter() - t0

    # warm sentinels + fillers once
    for n in SENTINELS + FILLERS:
        run(n)
    print(f"[probe] after warmup: {storage_status(spark)}", flush=True)
    for s in SENTINELS:
        print(f"[probe] round 0 {s}: {run(s):.2f}s", flush=True)

    for r in range(1, n_rounds + 1):
        for n in FILLERS:
            run(n)
        line = " ".join(f"{s}={run(s):.2f}s" for s in SENTINELS)
        print(f"[probe] round {r}: {line} | {storage_status(spark)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
