#!/usr/bin/env python
"""Memory-pressure red-team (VERDICT r07 #6).

128 GiB local[32] never spills; a 100 TB cluster always does.  This
harness runs the most expensive / most memory-suspect registry queries
under a CONSTRAINED session — small driver heap, shuffle partitions
forced low so every partition arrives FAT — and asserts completion with
value-hashes identical to a roomy baseline session.  It catches any
operator that silently depends on everything fitting in memory (the
mapInPandas codec paths and the localCheckpointed graph frontier unions
are the prime suspects) and any result that CHANGES under spill
(sort-spill order leaking into output would break the determinism
contracts).

Driver memory is a JVM-start conf, so each mode runs in its own
subprocess (get_spark honors SPARK_DRIVER_MEMORY / SPARK_GRAFT_CPUS);
the parent compares the hash files and writes the log the round commits.

Usage::

    python scripts/memory_redteam.py [--sf-dir DIR] [--queries a,b,...]
    python scripts/memory_redteam.py --child MODE OUT.json   (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# The suspects: biggest scans/joins, the codec mapInPandas paths, the
# iterative graph queries, a window-heavy ranking, and the artifact
# consumers (persist-backed).
DEFAULT_QUERIES = [
    "dedup_containment_join",
    "column_profile",
    "dedup_prefix_filter_join",
    "table_fingerprint",
    "embedding_pca_top_component",
    "item_cooccurrence_pairs",
    "bm25_topk_retrieval",
    "bpe_pair_induction",
    "multimodal_features",
    "audio_pcm_features",
    "video_avi_frame_features",
    "receipt_pagerank",
    "dedup_clusters",
    "customer_spend_quartiles",
    # round-8 additions: the composed IVF-PQ path (artifact read +
    # broadcast LUT) and the decade study's output-quadratic outlier
    "ann_ivfpq_adc_topk",
    "dedup_minhash_lsh",
    # round-9 additions: the new codec mapInPandas paths (four image
    # formats through one router; G.711 expansion; the two no-decode
    # metadata scanners) — per-row python work whose peak memory is
    # batch-size x payload-size, exactly what a fat partition stresses
    "image_codec_router_matrix",
    "audio_g711_expand_stats",
    "audio_mp3_metadata_scan",
    "audio_ogg_metadata_scan",
    # round-11 additions (VERDICT r10 #3): the lossy-VP8 gate — 500
    # committed WebP payloads through the native-or-pure decode route
    # inside Arrow batches — and the new JPEG entropy-matrix gate;
    # fat partitions stress the per-batch RGBA buffers exactly like
    # the other codec paths
    "image_webp_lossy_stats",
    "image_jpeg_decode_stats",
]

MODES = {
    # (driver_mem, local[n], shuffle_partitions): 4 fat partitions on a
    # 2g heap is ~64x the per-partition bytes the tuned session sees.
    # shuffle.partitions is set after get_spark: tune() applies its
    # confs once per application, so later load() calls keep it.
    "constrained": ("2g", 8, "4"),
    "baseline": ("8g", 16, "32"),
}


def run_child(mode: str, out_path: str, sf_dir: str, queries: list[str]) -> int:
    mem, cpus, parts = MODES[mode]
    os.environ["SPARK_DRIVER_MEMORY"] = mem

    from rust_near_indexer_spark.queries import load_registry
    from rust_near_indexer_spark.session import get_spark
    from tests.oracle_harness import value_hash

    spark = get_spark(f"memredteam-{mode}", cpus=cpus)
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    registry = load_registry()
    results: dict[str, dict] = {}
    for name in queries:
        t0 = time.perf_counter()
        try:
            df = registry[name].spark(spark, sf_dir)
            rows = df.collect()
            results[name] = {
                "hash": value_hash(df.columns, [tuple(r) for r in rows]),
                "n": len(rows),
                "sec": round(time.perf_counter() - t0, 1),
            }
        except Exception as e:  # keep going: report every failure, not one
            results[name] = {
                "hash": f"ERROR {type(e).__name__}",
                "n": -1,
                "sec": round(time.perf_counter() - t0, 1),
                "err": str(e).split("\n")[0][:300],
            }
        print(f"[{mode}] {name}: {results[name]}", file=sys.stderr, flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    return 0


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--child":
        mode, out = sys.argv[2], sys.argv[3]
        sf_dir = os.environ["MEMRT_SF_DIR"]
        queries = os.environ["MEMRT_QUERIES"].split(",")
        return run_child(mode, out, sf_dir, queries)

    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.path.join(_REPO, "fixture_data", "sf1")
    )
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    args = ap.parse_args()

    env = dict(
        os.environ, MEMRT_SF_DIR=args.sf_dir, MEMRT_QUERIES=args.queries
    )
    outs = {}
    for mode in ("constrained", "baseline"):
        fd, out = tempfile.mkstemp(suffix=f"-{mode}.json")
        os.close(fd)
        outs[mode] = out
        print(f"== {mode}: driver {MODES[mode][0]}, local[{MODES[mode][1]}], "
              f"shuffle.partitions={MODES[mode][2]}", flush=True)
        rc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", mode, out],
            env=env,
            cwd=_REPO,
        ).returncode
        if rc != 0:
            print(f"FAIL: {mode} child exited {rc} (OOM or query error)")
            return 1
    con = json.load(open(outs["constrained"]))
    base = json.load(open(outs["baseline"]))
    bad = []
    for name in sorted(base):
        ok = (
            con[name]["hash"] == base[name]["hash"]
            and con[name]["n"] == base[name]["n"]
        )
        print(
            f"[memredteam] {name}: {'OK' if ok else 'MISMATCH'} "
            f"(n={base[name]['n']}, constrained {con[name]['sec']}s "
            f"vs baseline {base[name]['sec']}s)",
            flush=True,
        )
        if not ok:
            bad.append(name)
    print(
        f"[memredteam] {len(base) - len(bad)}/{len(base)} fingerprint-equal "
        f"under memory pressure; failures: {bad}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
