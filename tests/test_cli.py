"""The operational CLI drives ingest → validate → query end-to-end."""

from __future__ import annotations

import json

import duckdb
import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark.__main__ import main
from rust_near_indexer_spark.queries.near_events import BLOCKS_PATH, expected_path


def test_cli_ingest_validate_query(spark, tmp_path, capsys):
    out = str(tmp_path / "sink")
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", out]) == 0
    got = capsys.readouterr().out
    assert "events:" in got and "transactions:" in got

    # the ingested events must match the golden row count exactly
    n_golden = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{expected_path('events')}')"
    ).fetchone()[0]
    n_sunk = spark.read.parquet(f"{out}/events").count()
    assert n_sunk == n_golden

    assert main(["validate", "--data", out]) == 0
    got = capsys.readouterr().out
    assert "invariants: PASS" in got

    assert main(["query", "pricing_summary"]) == 0
    assert "l_returnflag" in capsys.readouterr().out

    assert main(["query", "no_such_query"]) == 2


def test_cli_resume_skips_ingested_heights(spark, tmp_path, capsys):
    """Second ingest without --force resumes past the sink's max height —
    re-running the same stream appends nothing new (R3 semantics)."""
    out = str(tmp_path / "sink")
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", out]) == 0
    n1 = spark.read.parquet(f"{out}/events").count()
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", out]) == 0
    n2 = spark.read.parquet(f"{out}/events").count()
    assert n2 == n1


@pytest.mark.parametrize(
    "failing, flags",
    [("receipts", []), ("silver/silver_transfers", ["--with-silver"])],
)
def test_cli_resume_after_a_failed_append_loses_nothing(
    spark, tmp_path, monkeypatch, failing, flags
):
    """A pass whose receipts (or, under --with-silver, one silver MV's)
    append fails after other tables committed: the rerun without --force
    resumes below every table's high-water mark, so its FINAL tables
    equal a clean run's."""
    import functools
    import os

    from rust_near_indexer_spark import sinks
    from rust_near_indexer_spark.canonical import fingerprint
    from rust_near_indexer_spark.plans.silver import SILVER_TABLES

    def fp(df):
        cols = [c for c in df.columns if c != "receipt_ids"]
        return df.agg(
            F.count("*"), fingerprint(*[F.col(c).cast("string") for c in cols])
        ).collect()[0]

    def final_fps(out):
        fps = {
            name: fp(sinks.read_final(spark, f"{out}/{name}", pk))
            for name, pk in sinks.TABLE_PKS.items()
        }
        if flags:
            # the silver MVs declare no key: an overlap re-ingest repeats
            # rows, so compare the distinct ones
            for name in SILVER_TABLES:
                df = spark.read.parquet(f"{out}/silver/{name}").drop("ingest_seq")
                fps[name] = fp(df.distinct())
        return fps

    clean = str(tmp_path / "clean")
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", clean, *flags]) == 0

    out = str(tmp_path / "sink")
    append = sinks.append

    def fail_one(df, path, *a, **kw):
        if path.endswith(os.sep + failing):
            raise RuntimeError("injected append failure")
        return append(df, path, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(sinks, "append", fail_one)
        mp.setattr(sinks, "with_retries", functools.partial(sinks.with_retries, attempts=1))
        with pytest.raises(RuntimeError, match="injected append failure"):
            main(["ingest", "--blocks", BLOCKS_PATH, "--out", out, *flags])
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", out, *flags]) == 0
    assert final_fps(out) == final_fps(clean)


def test_cli_stream_rejects_batch_only_flags(tmp_path, capsys):
    """The stream resumes from its checkpoint: --start, --end and --force
    would be silently ignored, so they exit 2 naming the flag, before
    any Spark work."""
    for flag in (["--start", "5"], ["--end", "9"], ["--force"]):
        argv = ["ingest", "--blocks", BLOCKS_PATH, "--out", str(tmp_path / "sink")]
        assert main([*argv, "--stream", *flag]) == 2
        assert f"does not take {flag[0]}" in capsys.readouterr().err
    assert not (tmp_path / "sink").exists()


def test_cli_stream_reads_blocksapi_endpoint(spark, tmp_path):
    """``ingest --stream --blocks http://...`` streams from a live
    blocksapi endpoint, with no extra flag, into the same tables as a
    batch ingest of the blocks the endpoint serves."""
    from .test_source_adapters import _table_fps, serve_blocks

    with open(BLOCKS_PATH) as f:
        blocks = [json.loads(line) for line in f if line.strip()]
    out, ref = str(tmp_path / "stream"), str(tmp_path / "batch")
    with serve_blocks(blocks) as server:
        assert main(["ingest", "--stream", "--blocks", server.url, "--out", out]) == 0
    assert main(["ingest", "--blocks", BLOCKS_PATH, "--out", ref]) == 0
    assert _table_fps(spark, out) == _table_fps(spark, ref)


def test_cli_batch_rejects_endpoint(tmp_path, capsys):
    """Batch ingest reads files: an endpoint given without --stream exits
    2 saying it must be streamed, before any Spark work."""
    sink = tmp_path / "sink"
    argv = ["ingest", "--blocks", "http://127.0.0.1:9", "--out", str(sink)]
    assert main(argv) == 2
    assert "must be streamed" in capsys.readouterr().err
    assert not sink.exists()


def test_register_views_sql_matches_dataframe(spark, sf_dir):
    """register_views makes the whole medallion stack addressable by
    name; a SQL formulation of the gold query over the silver views must
    equal the DataFrame gold plan row-for-row."""
    from rust_near_indexer_spark.queries import load_registry
    from rust_near_indexer_spark.views import register_views

    names = register_views(spark, sf_dir=sf_dir)
    assert "silver_transfers" in names and "gold_intents_metrics" in names
    # testdata tables usable by name + normalized schema (ts_ns present)
    n_docs = spark.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
    assert n_docs > 0
    assert "ts_ns" in spark.table("events").columns
    # a cross-layer SQL join runs and agrees with the DataFrame gold plan
    got = spark.sql(
        "SELECT * FROM gold_intents_metrics ORDER BY day, symbol, referral, blockchain"
    ).collect()
    want = (
        load_registry()["gold_intents_metrics"]
        .spark(spark, sf_dir)
        .orderBy("day", "symbol", "referral", "blockchain")
        .collect()
    )
    assert got == want


def test_cli_sql_subcommand(spark, capsys):
    from rust_near_indexer_spark.__main__ import main

    rc = main(
        [
            "--cpus",
            "4",
            "sql",
            "SELECT event, count(*) AS n FROM silver_transfers GROUP BY event ORDER BY event",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "transfer" in out


def test_cli_ingest_with_silver_materializes_mvs(spark, tmp_path):
    """--with-silver materializes the 9 silver MVs at ingest (the batch
    twin of the streaming S18 fan-out); each sunk table equals the
    direct all_silver_tables computation."""
    from rust_near_indexer_spark.plans.silver import SILVER_TABLES, all_silver_tables
    from rust_near_indexer_spark.queries.near_events import bronze_tables

    out = str(tmp_path / "sink")
    assert (
        main(["ingest", "--blocks", BLOCKS_PATH, "--out", out, "--with-silver"])
        == 0
    )
    want = all_silver_tables(bronze_tables(spark)["events"])
    assert tuple(want) == SILVER_TABLES
    for name, df in want.items():
        sunk = spark.read.parquet(f"{out}/silver/{name}")
        assert sunk.count() == df.count(), name


def test_cli_export_shuffled_shards(spark, sf_dir, tmp_path, capsys):
    """export writes one directory per shard with rows in deterministic
    permutation order — reading a shard back gives pos_in_shard 0..k
    and the union covers every document exactly once."""
    out = str(tmp_path / "shards")
    rc = main(["--cpus", "4", "export", "--out", out, "--sf-dir", sf_dir, "--shards", "4"])
    assert rc == 0
    assert "exported" in capsys.readouterr().out
    full = spark.read.parquet(out)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert full.count() == n_docs
    assert full.select("doc_id").distinct().count() == n_docs
    shards = [r["shard"] for r in full.select("shard").distinct().collect()]
    assert sorted(shards) == [0, 1, 2, 3]
    one = full.where("shard = 0").orderBy("pos_in_shard").collect()
    assert [r["pos_in_shard"] for r in one] == list(range(len(one)))


def test_cli_query_explain(capsys):
    assert main(["--cpus", "4", "query", "pricing_summary", "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_cli_dedup_build_append_lookup(spark, tmp_path, capsys):
    """The dedup artifact as a service: build a corpus with one planted
    near-dup family, append a new member, and point-look-up a doc's
    cluster — the artifact-maintenance workflow a production pipeline
    runs between training-data drops."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    w = base.split()
    rows = [
        (1, base),
        (2, " ".join(w[:-1])),
        (9, "completely unrelated text about cooking pasta dishes"),
    ]
    docs_p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs_p)
    art = str(tmp_path / "art")

    assert main(["--cpus", "4", "dedup", "build", "--docs", docs_p, "--artifact", art]) == 0
    out = capsys.readouterr().out
    assert "3 signatures" in out and "verified pairs" in out

    batch_p = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(3, " ".join(w[1:]))], "doc_id long, text string"
    ).write.parquet(batch_p)
    assert main(["--cpus", "4", "dedup", "append", "--docs", batch_p, "--artifact", art]) == 0
    out = capsys.readouterr().out
    assert "1 new signatures" in out and "clusters recomputed" in out

    assert main(["--cpus", "4", "dedup", "lookup", "--artifact", art, "--doc-id", "3"]) == 0
    out = capsys.readouterr().out
    assert "cluster 1" in out and "members: [1, 2, 3]" in out

    assert main(["--cpus", "4", "dedup", "lookup", "--artifact", art, "--doc-id", "9"]) == 0
    assert "not in any near-dup cluster" in capsys.readouterr().out

    # flag validation: missing operands exit 2 without touching Spark
    assert main(["dedup", "build", "--artifact", art]) == 2
    assert main(["dedup", "lookup", "--artifact", art]) == 2


def test_cli_ann_build_append_search(spark, tmp_path, capsys):
    """The ANN index artifact as a service: build a vector corpus
    (including the quantizer donor id ranges), append a batch, and
    IVF-probe search for a stored vector's neighbors."""
    import math

    def vec(i):
        raw = [math.sin(0.7 * i + 1.3 * j) for j in range(64)]
        n = math.sqrt(sum(x * x for x in raw))
        return [x / n for x in raw]

    rows = [(i, vec(i), i % 7) for i in range(230)]
    vec_p = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).write.parquet(vec_p)
    art = str(tmp_path / "ann")

    assert main(["--cpus", "4", "ann", "build", "--vectors", vec_p, "--artifact", art]) == 0
    out = capsys.readouterr().out
    assert "230 vectors" in out and "16 IVF lists" in out

    batch_p = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(500, vec(500), 3)], "vec_id long, embedding array<double>, label int"
    ).write.parquet(batch_p)
    assert main(["--cpus", "4", "ann", "append", "--vectors", batch_p, "--artifact", art]) == 0
    assert "1 vectors" in capsys.readouterr().out

    assert main(["--cpus", "4", "ann", "search", "--artifact", art, "--vec-id", "500", "--top-k", "3"]) == 0
    out = capsys.readouterr().out
    assert "top-3 over 4 probed lists" in out
    assert out.count("cosine") == 3

    assert main(["--cpus", "4", "ann", "search", "--artifact", art, "--vec-id", "99999"]) == 1
    assert "not in the index" in capsys.readouterr().out

    # flag validation: missing operands exit 2 without touching Spark
    assert main(["ann", "build", "--artifact", art]) == 2
    assert main(["ann", "search", "--artifact", art]) == 2


def test_register_views_exposes_index_artifacts(spark, sf_dir):
    """The maintained dedup/ANN indexes are SQL-addressable: the
    point-lookup an analyst writes ("which cluster is doc X in / which
    IVF list holds vector Y") runs against the artifact views and
    agrees with the DataFrame read."""
    from rust_near_indexer_spark.views import register_views

    names = register_views(spark, sf_dir=sf_dir, include_artifacts=True)
    for v in ("dedup_pairs", "dedup_labels", "ann_vectors", "ann_ivf",
              "ann_centroids", "ann_pq_codes", "ann_pq_codebook"):
        assert v in names
    # ADVICE r08: the default must NOT force index builds — now that
    # both artifacts exist, the default registers them as pure reads,
    # and include_artifacts=False skips them entirely
    assert "ann_vectors" in register_views(spark, sf_dir=sf_dir)
    lean = register_views(spark, sf_dir=sf_dir, include_artifacts=False)
    assert "ann_vectors" not in lean and "dedup_pairs" not in lean
    assert spark.sql("SELECT count(*) AS n FROM ann_centroids").collect()[0]["n"] == 16
    # cross-artifact SQL: cluster membership joined to document length
    row = spark.sql(
        """
        SELECT l.component, count(*) AS members
        FROM dedup_labels l GROUP BY 1 ORDER BY members DESC, component LIMIT 1
        """
    ).collect()[0]
    assert row["members"] >= 2
    # IVF list occupancy adds up to the corpus
    n_vec = spark.sql("SELECT count(*) AS n FROM ann_vectors").collect()[0]["n"]
    n_ivf = spark.sql("SELECT count(*) AS n FROM ann_ivf").collect()[0]["n"]
    assert n_vec == n_ivf > 0
