"""Operational CLI — the reference binary's surface re-expressed.

The reference runs as an indexer process configured by flags
(main.rs:30-50, config.rs:60-80: start/end block, events-only mode,
``--force`` to ignore the resume checkpoint).  Here the same surface
drives the Spark pipelines::

    python -m rust_near_indexer_spark ingest --blocks B.jsonl --out DIR \
        [--start N] [--end N] [--events-only] [--force] [--stream]
    python -m rust_near_indexer_spark ingest --stream --blocks http://HOST:PORT --out DIR
    python -m rust_near_indexer_spark validate --data DIR
    python -m rust_near_indexer_spark query NAME [--sf-dir DIR]

``ingest`` resumes from ``max(block_height)`` of the existing sink
unless ``--force`` (R3); ``--stream`` switches to the Structured
Streaming formulation (checkpointed, restart-safe), the only one that
reads a blocksapi endpoint (``--blocks http(s)://...``).  ``validate``
runs the validate.sh invariant suite over an ingested directory.
``query`` runs any registry entry and prints it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _spark(cpus: int):
    from .session import get_spark

    return get_spark("cli", cpus=cpus)


def cmd_ingest(args) -> int:
    from pyspark.sql import functions as F

    from . import schemas, sinks
    from .streaming.pipeline import run_streaming
    from .streaming.sources import is_endpoint

    # the stream resumes from its checkpoint and reads every block it is
    # given: a batch-only bound must fail, not be silently ignored
    batch_only = [
        flag
        for flag, given in (
            ("--start", args.start != 0),
            ("--end", args.end is not None),
            ("--force", args.force),
        )
        if given
    ]
    if args.stream and batch_only:
        print(f"ingest --stream does not take {', '.join(batch_only)}", file=sys.stderr)
        return 2
    if not args.stream and is_endpoint(args.blocks):
        print(
            f"ingest --blocks {args.blocks} is a blocksapi endpoint, which must be "
            "streamed: add --stream",
            file=sys.stderr,
        )
        return 2
    spark = _spark(args.cpus)
    server = None
    if args.metrics_port is not None:
        from .metrics import start_metrics_server

        server = start_metrics_server(args.metrics_port)
        print(
            f"metrics on http://0.0.0.0:{server.server_address[1]}/metrics",
            file=sys.stderr,
        )
    if args.stream:
        run_streaming(
            spark,
            args.blocks,
            args.out,
            checkpoint_dir=args.checkpoint or f"{args.out}/_checkpoint",
            events_only=args.events_only,
            with_silver=args.with_silver,
        )
        print(f"streamed blocks from {args.blocks} into {args.out}")
        if server is not None:
            server.shutdown()
        return 0

    blocks = spark.read.schema(schemas.BLOCK).json(args.blocks)
    last = sinks.last_indexed_height(spark, f"{args.out}/events")
    start = sinks.resume_start(args.start, args.force, last)
    if start > args.start:
        print(f"resuming at {start} (sink has up to {last})", file=sys.stderr)
    blocks = blocks.where(F.col("block_height") >= start)
    paths = sinks.ingest_bronze(
        spark,
        blocks,
        args.out,
        ingest_seq=int(time.time()),
        block_end=args.end,
        events_only=args.events_only,
        with_silver=args.with_silver,
    )
    for name, path in sorted(paths.items()):
        n = spark.read.parquet(path).count()
        print(f"{name}: {n} rows at {path}")
    return 0


def cmd_validate(args) -> int:
    from . import sinks, validate

    spark = _spark(args.cpus)
    tables = {
        name: sinks.read_final(spark, f"{args.data}/{name}", pk)
        for name, pk in sinks.TABLE_PKS.items()
    }
    metrics = validate.validate_bronze(tables)
    for k, v in sorted(metrics.items()):
        print(f"{k}\t{v}")
    try:
        validate.assert_bronze_invariants(metrics)
        print("invariants: PASS")
        return 0
    except AssertionError as e:
        print(f"invariants: FAIL ({e})")
        return 1


def cmd_query(args) -> int:
    from .queries import load_registry

    registry = load_registry()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; have: {', '.join(sorted(registry))}")
        return 2
    spark = _spark(args.cpus)
    df = registry[args.name].spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    df.show(args.rows, truncate=False)
    return 0


def cmd_export(args) -> int:
    """Write the corpus as shuffled training shards: the
    corpus_shuffle_order manifest joined back to the documents and
    written partitionBy(shard) — one directory per shard, rows in
    deterministic permutation order within each."""
    from pyspark.sql import functions as F

    from .queries import load_registry
    from .tables import load

    spark = _spark(args.cpus)
    manifest = load_registry()["corpus_shuffle_order"].spark(spark, args.sf_dir)
    docs = load(spark, args.sf_dir, "documents")
    out = (
        docs.join(manifest.select("doc_id", "global_pos"), "doc_id")
        .withColumn("shard", F.col("global_pos") % args.shards)
        .withColumn("pos_in_shard", F.expr(f"global_pos div {args.shards}"))
        .repartition(args.shards, "shard")
        .sortWithinPartitions("shard", "pos_in_shard")
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"exported {n} docs into {args.shards} shards at {args.out}")
    return 0


def cmd_curate(args) -> int:
    """Run the end-to-end curation pipeline (curation.curate) over a
    documents table and write the decision audit, the leak-safe split
    assignment, and the per-split JSONL shard trees."""
    import os

    from pyspark.sql import functions as F

    from . import curation, sinks
    from .tables import load

    spark = _spark(args.cpus)
    docs = load(spark, args.sf_dir, "documents")
    out = curation.curate(docs, quality_min_milli=args.quality_min)
    out["decisions"].write.mode("overwrite").parquet(
        os.path.join(args.out, "decisions")
    )
    out["splits"].write.mode("overwrite").parquet(os.path.join(args.out, "splits"))
    manifest = out["manifest"]
    for split in ("train", "val", "test"):
        m = manifest.where(F.col("split") == split).select(
            "doc_id", "source", "shard_id"
        )
        if m.isEmpty():
            continue
        sinks.write_training_shards(
            docs, m, os.path.join(args.out, f"shards_{split}")
        )
    stages = {
        r["stage"]: r["n"]
        for r in out["decisions"].groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    print(f"curated {sum(stages.values())} docs: {stages} -> {args.out}")
    return 0


def cmd_dedup(args) -> int:
    """Operate the near-dup artifact (dedup_artifact.py) as a service:

    - ``build``: cold-build signatures/pairs/labels from a (doc_id,
      text) parquet corpus into ``--artifact``.
    - ``append``: fold a new document batch in (work proportional to
      the batch + touched clusters).
    - ``lookup``: answer "which cluster is doc N in, and who else is
      in it?" — the point-lookup the range-clustered layout serves
      with pruned scans (parquet min/max file stats on the sorted
      ``node``/``component`` columns).
    """
    from pyspark.sql import functions as F

    from . import dedup_artifact as da
    from .artifact_io import load

    if args.action in ("build", "append") and not args.docs:
        print("dedup build/append needs --docs <parquet>", file=sys.stderr)
        return 2
    if args.action == "lookup" and args.doc_id is None:
        print("dedup lookup needs --doc-id N", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)

    def _docs(path):
        return spark.read.parquet(path).select("doc_id", "text")

    if args.action == "build":
        stats = da.write_dedup_artifact(_docs(args.docs), args.artifact)
        print(
            f"built {args.artifact}: {stats['n_sigs']} signatures, "
            f"{stats['n_pairs']} verified pairs, "
            f"{stats['n_labeled']} labeled docs"
        )
        return 0
    if args.action == "append":
        stats = da.append_dedup_artifact(spark, args.artifact, _docs(args.docs))
        print(
            f"appended into {args.artifact}: {stats['n_new_sigs']} new "
            f"signatures, {stats['n_new_pairs']} new pairs, "
            f"{stats['n_touched_components']} clusters recomputed"
        )
        return 0
    # lookup
    art = load(da.KIND, spark, args.artifact)
    hit = art["labels"].where(F.col("node") == args.doc_id).collect()
    if not hit:
        print(f"doc {args.doc_id}: not in any near-dup cluster")
        return 0
    comp = hit[0]["component"]
    members = sorted(
        r["node"]
        for r in art["labels"].where(F.col("component") == comp).collect()
    )
    pairs = (
        art["pairs"]
        .where(
            (F.col("doc_a") == args.doc_id) | (F.col("doc_b") == args.doc_id)
        )
        .orderBy(F.desc("jaccard_milli"))
        .collect()
    )
    print(f"doc {args.doc_id}: cluster {comp} ({len(members)} members)")
    print(f"members: {members}")
    for r in pairs:
        other = r["doc_b"] if r["doc_a"] == args.doc_id else r["doc_a"]
        print(f"  ~ doc {other} (jaccard {r['jaccard_milli'] / 1000:.3f})")
    return 0


def cmd_ann(args) -> int:
    """Operate the ANN index artifact (ann_artifact.py) as a service:

    - ``build``: quantize/assign/encode a (vec_id, embedding, label)
      parquet corpus into ``--artifact``.
    - ``append``: fold a new vector batch in (one broadcast assignment
      + one broadcast encoding pass over the batch only).
    - ``search``: exact top-k for a stored vector id over the IVF
      lists — probes its closest lists only, the pruned-scan path the
      clustered layout serves.
    """
    from pyspark.sql import functions as F

    from . import ann_artifact as aa
    from .queries.similarity import N_PROBE, _dot_pico

    if args.action in ("build", "append") and not args.vectors:
        print("ann build/append needs --vectors <parquet>", file=sys.stderr)
        return 2
    if args.action == "search" and args.vec_id is None:
        print("ann search needs --vec-id N", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)

    def _vecs(path):
        return spark.read.parquet(path).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.col("label").cast("int").alias("label"),
        )

    if args.action == "build":
        stats = aa.write_ann_artifact(_vecs(args.vectors), args.artifact)
        print(
            f"built {args.artifact}: {stats['n_vectors']} vectors, "
            f"{stats['n_lists']} IVF lists, {stats['n_codes']} PQ codes"
        )
        return 0
    if args.action == "append":
        stats = aa.append_ann_artifact(spark, args.artifact, _vecs(args.vectors))
        print(f"appended into {args.artifact}: {stats['n_new_vectors']} vectors")
        return 0
    # search: IVF probe for a stored vector.  Both reads go through the
    # file-level min/max manifest (artifact_io.read_pruned): the
    # vec_id point lookup opens one of the range-clustered files, and
    # the probe read opens only the files whose list_id range overlaps
    # the probe set — at 100 TB that is the difference between a point
    # query and a full table listing.
    from .artifact_io import load, read_pruned

    art = load(aa.KIND, spark, args.artifact)
    vec_pruned, v_read, v_total = read_pruned(
        spark,
        os.path.join(args.artifact, "vectors"),
        "vec_id",
        values=[args.vec_id],
    )
    hit = vec_pruned.where(F.col("vec_id") == args.vec_id).collect()
    if not hit:
        print(f"vec {args.vec_id}: not in the index")
        return 1
    q = vec_pruned.where(F.col("vec_id") == args.vec_id).select(
        F.col("qe").alias("q_qe")
    )
    probes = (
        q.crossJoin(F.broadcast(art["centroids"]))
        .select("q_qe", "list_id", _dot_pico(F.col("q_qe"), F.col("c_qe")).alias("d"))
        .orderBy(F.desc("d"), "list_id")
        .limit(N_PROBE)
        .select("q_qe", "list_id")
    )
    # the probe set is N_PROBE-bounded by construction: collecting it
    # is a scalar-sized driver hop that unlocks file-level pruning
    probe_ids = [r["list_id"] for r in probes.collect()]
    ivf_pruned, i_read, i_total = read_pruned(
        spark,
        os.path.join(args.artifact, "ivf"),
        "list_id",
        values=probe_ids,
    )
    top = (
        F.broadcast(probes)
        .join(ivf_pruned, "list_id")
        .where(F.col("vec_id") != args.vec_id)
        .select(
            "vec_id",
            "label",
            _dot_pico(F.col("q_qe"), F.col("qe")).alias("cosine_pico"),
        )
        .orderBy(F.desc("cosine_pico"), "vec_id")
        .limit(args.top_k)
        .collect()
    )
    print(
        f"vec {args.vec_id}: top-{args.top_k} over {N_PROBE} probed lists "
        f"(manifest pruning: vectors {v_read}/{v_total} files, "
        f"ivf {i_read}/{i_total} files)"
    )
    for r in top:
        print(
            f"  vec {r['vec_id']} (label {r['label']}, "
            f"cosine {r['cosine_pico'] / 1e12:.6f})"
        )
    return 0


def cmd_sql(args) -> int:
    from .views import register_views

    spark = _spark(args.cpus)
    register_views(
        spark, sf_dir=args.sf_dir, include_artifacts=True if args.indexes else None
    )
    spark.sql(args.statement).show(args.rows, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rust_near_indexer_spark")
    p.add_argument("--cpus", type=int, default=4)
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="run the bronze pipeline into a sink dir")
    ing.add_argument(
        "--blocks",
        required=True,
        help="block JSONL path/dir, or a blocksapi http(s):// endpoint with --stream",
    )
    ing.add_argument("--out", required=True, help="sink base directory")
    ing.add_argument("--start", type=int, default=0, help="start block height")
    ing.add_argument("--end", type=int, default=None, help="stop after this height (R5)")
    ing.add_argument("--events-only", action="store_true", help="R26 mode")
    ing.add_argument("--force", action="store_true", help="ignore resume checkpoint (R3)")
    ing.add_argument("--stream", action="store_true", help="Structured Streaming formulation")
    ing.add_argument(
        "--with-silver",
        action="store_true",
        help="also materialize the silver MVs at ingest (S18 batch twin)",
    )
    ing.add_argument("--checkpoint", default=None, help="stream checkpoint dir")
    ing.add_argument(
        "--metrics-port",
        type=int,
        default=None,
        help="serve Prometheus /metrics on this port (R22; reference :8080)",
    )
    ing.set_defaults(fn=cmd_ingest)

    val = sub.add_parser("validate", help="run validate.sh invariants over a sink dir")
    val.add_argument("--data", required=True)
    val.set_defaults(fn=cmd_validate)

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--rows", type=int, default=20)
    q.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )
    q.set_defaults(fn=cmd_query)

    ex = sub.add_parser(
        "export", help="write shuffled training shards (corpus_shuffle_order)"
    )
    ex.add_argument("--out", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument("--shards", type=int, default=8)
    ex.set_defaults(fn=cmd_export)

    cu = sub.add_parser(
        "curate", help="end-to-end corpus curation: dedup -> quality -> split -> shards"
    )
    cu.add_argument("--out", required=True)
    cu.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cu.add_argument("--quality-min", type=int, default=350)
    cu.set_defaults(fn=cmd_curate)

    dd = sub.add_parser(
        "dedup", help="build/append/query the near-dup artifact"
    )
    dd.add_argument("action", choices=["build", "append", "lookup"])
    dd.add_argument("--artifact", required=True, help="artifact directory")
    dd.add_argument(
        "--docs", default=None, help="(doc_id, text) parquet for build/append"
    )
    dd.add_argument("--doc-id", type=int, default=None, help="lookup target")
    dd.set_defaults(fn=cmd_dedup)

    an = sub.add_parser(
        "ann", help="build/append/search the ANN index artifact"
    )
    an.add_argument("action", choices=["build", "append", "search"])
    an.add_argument("--artifact", required=True, help="artifact directory")
    an.add_argument(
        "--vectors",
        default=None,
        help="(vec_id, embedding, label) parquet for build/append",
    )
    an.add_argument("--vec-id", type=int, default=None, help="search target")
    an.add_argument("--top-k", type=int, default=5, help="search result size")
    an.set_defaults(fn=cmd_ann)

    s = sub.add_parser(
        "sql", help="run ad-hoc SQL over the registered medallion views"
    )
    s.add_argument("statement")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--rows", type=int, default=20)
    s.add_argument(
        "--indexes",
        action="store_true",
        help="build+register the dedup/ANN index views (otherwise only "
        "already-built artifacts are registered — ADVICE r08)",
    )
    s.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
