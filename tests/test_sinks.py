"""Sink idempotency: double-ingest of an overlapping block range must
yield identical FINAL fingerprints (the ReplacingMergeTree contract that
makes the reference's resume-and-reinsert-overlap model exactly-once)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark import fixtures, sinks
from rust_near_indexer_spark.canonical import fingerprint, hash60
from rust_near_indexer_spark.queries.near_events import load_blocks


@pytest.fixture(scope="module")
def blocks(spark):
    return load_blocks(spark).persist()


def _fp(df):
    cols = [c for c in df.columns]
    return df.agg(
        F.count("*").alias("n"), fingerprint(*[F.col(c).cast("string") for c in cols if c != "receipt_ids"]).alias("fp")
    ).collect()[0]


def test_double_ingest_idempotent(spark, blocks, tmp_path):
    base = str(tmp_path / "sink")
    # full ingest, then re-ingest the tail half (overlap)
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1)
    mid = blocks.agg(F.expr("percentile(block_height, 0.5)")).collect()[0][0]
    tail = blocks.where(F.col("block_height") >= mid)
    sinks.ingest_bronze(spark, tail, base, ingest_seq=2)

    once = str(tmp_path / "sink_once")
    sinks.ingest_bronze(spark, blocks, once, ingest_seq=1)

    for name, pk in sinks.TABLE_PKS.items():
        a = _fp(sinks.read_final(spark, f"{base}/{name}", pk))
        b = _fp(sinks.read_final(spark, f"{once}/{name}", pk))
        assert a == b, f"{name}: double-ingest diverged: {a} vs {b}"


def test_compact_preserves_final(spark, blocks, tmp_path):
    base = str(tmp_path / "sink")
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1)
    tail = blocks.where(F.col("block_height") >= 1100)
    sinks.ingest_bronze(spark, tail, base, ingest_seq=2)

    path = f"{base}/events"
    pk = sinks.TABLE_PKS["events"]
    before = _fp(sinks.read_final(spark, path, pk))
    raw_before = spark.read.parquet(path).count()
    sinks.compact(spark, path, pk)
    after = _fp(sinks.read_final(spark, path, pk))
    raw_after = spark.read.parquet(path).count()
    assert before == after
    assert raw_after < raw_before  # superseded versions physically dropped


def test_partitioned_by_height_bucket(spark, blocks, tmp_path):
    import os

    base = str(tmp_path / "sink")
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1)
    subdirs = os.listdir(f"{base}/events")
    assert any(d.startswith("height_bucket=") for d in subdirs)


def test_resume_semantics(spark, blocks, tmp_path):
    base = str(tmp_path / "sink")
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1, block_end=1100)
    last = sinks.last_indexed_height(spark, f"{base}/transactions")
    assert last is not None and last <= 1100
    assert sinks.resume_start(1000, force=False, last_height=last) == last + 1
    assert sinks.resume_start(1000, force=True, last_height=last) == 1000
    assert sinks.resume_start(2000, force=False, last_height=last) == 2000
    assert sinks.resume_start(1000, force=False, last_height=None) == 1000


def test_retry_policy():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise RuntimeError("transient")
        return "ok"

    assert sinks.with_retries(flaky, sleep=sleeps.append) == "ok"
    assert calls["n"] == 4
    assert sleeps == [0.25, 0.5, 1.0]  # 250 ms doubling (database.rs:53-57)

    with pytest.raises(ZeroDivisionError):
        sinks.with_retries(lambda: 1 / 0, attempts=3, sleep=sleeps.append)


def test_retain_drops_whole_buckets(spark, tmp_path):
    """Retention unlinks only buckets entirely below the cutoff; the
    straddling bucket and everything above survive byte-identical."""
    import os

    rows = [(h, f"e{h}") for h in (5_000, 15_000, 25_000, 35_000)]
    df = spark.createDataFrame(rows, "block_height long, event_id string")
    base = str(tmp_path / "t")
    sinks.append(df, base, ingest_seq=1)
    assert sorted(
        d for d in os.listdir(base) if d.startswith("height_bucket=")
    ) == ["height_bucket=0", "height_bucket=1", "height_bucket=2", "height_bucket=3"]

    dropped = sinks.retain(base, min_height=25_000)
    assert dropped == 2  # buckets 0 and 1; bucket 2 straddles the cutoff
    kept = {r["block_height"] for r in spark.read.parquet(base).collect()}
    assert kept == {25_000, 35_000}
    assert sinks.retain(base, min_height=25_000) == 0  # idempotent


def test_zorder_write_narrows_per_file_spans(spark, tmp_path, sf_dir):
    """Z-order clustering on (o_custkey, o_totalprice_cents) must leave
    every parquet file with a min/max span far narrower than the global
    span in BOTH columns — the zone-map property that lets a scan skip
    files for predicates on either column.  A plain write has no such
    guarantee on the second column."""
    import pyarrow.parquet as pq

    from rust_near_indexer_spark.sinks import write_zordered
    from rust_near_indexer_spark.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 100).cast("long").alias("o_totalprice_cents"),
    )
    out = str(tmp_path / "zorders")
    write_zordered(orders, out, ("o_custkey", "o_totalprice_cents"), n_files=16)

    import glob

    spans = {"o_custkey": [], "o_totalprice_cents": []}
    globals_ = {
        c: (
            orders.agg(F.min(c)).collect()[0][0],
            orders.agg(F.max(c)).collect()[0][0],
        )
        for c in spans
    }
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= 4
    for f in files:
        md = pq.read_metadata(f)
        for c in spans:
            idx = md.schema.names.index(c)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[c].append(max(maxs) - min(mins))
    for c, (g_min, g_max) in globals_.items():
        g_span = g_max - g_min
        avg_span = sum(spans[c]) / len(spans[c])
        # 16 files over a 2-D Morton curve: ideal per-dim narrowing is
        # ~(1/16)^0.5 = 0.25; curve jumps cost real ground, so demand a
        # conservative 0.7 — the point is BOTH dims narrow at once,
        # which no single-column sort achieves (that gives 1/16 on one
        # dim and ~1.0 on the other)
        assert avg_span < 0.7 * g_span, (c, avg_span, g_span)


def test_concurrent_appends_idempotent(spark, blocks, tmp_path):
    """VERDICT r07 #5: two RACING ingest jobs writing the same batch
    (the accidental double-run two schedulers can fire) interleave at
    the filesystem level; every part file lands, FINAL reads collapse
    the value-identical duplicates, and the resume height composes as
    if one job ran."""
    import threading

    base = str(tmp_path / "sink")
    errs: list[Exception] = []

    def run(seq: int) -> None:
        try:
            sinks.ingest_bronze(spark, blocks, base, ingest_seq=seq)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=run, args=(s,)) for s in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    once = str(tmp_path / "once")
    sinks.ingest_bronze(spark, blocks, once, ingest_seq=1)
    for name, pk in sinks.TABLE_PKS.items():
        a = _fp(sinks.read_final(spark, f"{base}/{name}", pk))
        b = _fp(sinks.read_final(spark, f"{once}/{name}", pk))
        assert a == b, f"{name}: concurrent double-run diverged"
        # both jobs' rows are on disk — NOTHING LOST — and raw rows are
        # EXACTLY one batch per job: the per-job _staging-<uuid> publish
        # (VERDICT r11 #2) means racing appends never share a Hadoop
        # _temporary dir, so the committer clobber that used to force a
        # legal full-batch re-append (r11's ~1/1000 3x flake) cannot
        # happen.  FINAL equality above stays the semantic gate; this
        # pin is the exactly-once storage gate.
        raw = spark.read.parquet(f"{base}/{name}").count()
        single = spark.read.parquet(f"{once}/{name}").count()
        assert raw == 2 * single, f"{name}: raw rows {raw} != 2x{single}"
        # no staging residue survives a completed append
        assert not [
            d for d in os.listdir(os.path.realpath(f"{base}/{name}"))
            if d.startswith("_staging-")
        ]

    h_double = sinks.last_indexed_height(spark, f"{base}/events")
    h_single = sinks.last_indexed_height(spark, f"{once}/events")
    assert h_double == h_single
    assert sinks.resume_start(0, False, h_double) == h_single + 1


def test_kill_mid_append_no_torn_reads(spark, blocks, tmp_path):
    """A job killed mid-publish (VERDICT r11 #2 done-condition): the
    per-job staging design publishes each completed part file by one
    atomic ``os.rename``, so however the job dies a reader sees only
    COMPLETE part files — a whole-file subset of the batch, never a
    torn parquet.  The leftover staging dir is invisible to readers,
    ``clean_staging`` sweeps it, and the standard ``with_retries``
    re-run restores exact FINAL equality with a never-killed sink."""
    import unittest.mock as mock

    import pyarrow.parquet as pq

    base = str(tmp_path / "sink")
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1)
    path = f"{base}/events"
    pk = sinks.TABLE_PKS["events"]
    raw_before = spark.read.parquet(path).count()

    tail = blocks.where(F.col("block_height") >= 1100)
    tables = __import__(
        "rust_near_indexer_spark.plans.pipeline", fromlist=["run_bronze"]
    ).run_bronze(tail)
    # several part files per batch, so the kill lands BETWEEN renames
    batch = tables["events"].repartition(4)

    # kill the publish after the first part-file rename: later renames
    # (and sinks.append's own cleanup... which uses shutil, so the
    # staging dir survives the "crash" like a real SIGKILL would leave it)
    real_rename = os.rename
    state = {"renamed": 0}

    def dying_rename(src, dst):
        if "_staging-" in src and not os.path.basename(src).startswith("_"):
            if state["renamed"] >= 1:
                raise KeyboardInterrupt("simulated kill mid-publish")
            state["renamed"] += 1
        real_rename(src, dst)

    # rmtree no-op'd: append's failure-path cleanup must not run, so the
    # on-disk state is exactly what a real SIGKILL leaves behind
    with mock.patch.object(sinks.os, "rename", side_effect=dying_rename), \
            mock.patch("shutil.rmtree", lambda *a, **k: None):
        with pytest.raises(KeyboardInterrupt):
            sinks.append(batch, path, ingest_seq=2)
    assert state["renamed"] == 1

    # torn-read gate: EVERY visible part file parses completely
    real = os.path.realpath(path)
    visible = []
    for dirpath, dirnames, filenames in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        visible.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if not f.startswith(("_", "."))
        )
    for f in visible:
        pq.read_table(f)  # raises on a torn/truncated file
    raw_partial = spark.read.parquet(path).count()
    assert raw_before < raw_partial < raw_before + batch.count()

    # the orphaned staging dir exists but is INVISIBLE to readers;
    # clean_staging sweeps it without changing what readers see
    leftovers = [d for d in os.listdir(real) if d.startswith("_staging-")]
    assert leftovers
    assert sinks.clean_staging(path, max_age_seconds=0.0) == len(leftovers)
    assert spark.read.parquet(path).count() == raw_partial

    # the documented recovery: with_retries re-runs the whole append —
    # FINAL collapses the same-PK/same-seq duplicates to exactly the
    # never-killed result
    sinks.append(batch, path, ingest_seq=2)
    clean = str(tmp_path / "clean")
    sinks.ingest_bronze(spark, blocks, clean, ingest_seq=1)
    sinks.ingest_bronze(spark, tail, clean, ingest_seq=2)
    a = _fp(sinks.read_final(spark, path, pk))
    b = _fp(sinks.read_final(spark, f"{clean}/events", pk))
    assert a == b


def test_compact_swap_never_hides_table(spark, blocks, tmp_path):
    """Compaction publishes by atomic symlink swap.  The FIRST compact
    migrates the legacy real dir (documented one-time gap); every later
    compact replaces the symlink atomically — at the instant of that
    swap the table is still fully readable (no missing-dir window).
    Appends keep working through the symlink between compactions."""
    import os
    import unittest.mock as mock

    base = str(tmp_path / "sink")
    sinks.ingest_bronze(spark, blocks, base, ingest_seq=1)
    path = f"{base}/events"
    pk = sinks.TABLE_PKS["events"]
    before = _fp(sinks.read_final(spark, path, pk))

    # first compact: legacy real-dir migration → path becomes a symlink
    sinks.compact(spark, path, pk)
    assert os.path.islink(path)
    assert _fp(sinks.read_final(spark, path, pk)) == before

    # appends flow through the symlink; FINAL semantics still hold
    tail = blocks.where(F.col("block_height") >= 1100)
    sinks.ingest_bronze(spark, tail, base, ingest_seq=2)
    assert _fp(sinks.read_final(spark, path, pk)) == before

    # second compact: atomic symlink replace — the table must be fully
    # readable at the very instant of the swap
    real_rename = os.rename
    seen = {}

    def spy(src, dst):
        if dst == path:
            seen["visible_at_swap"] = any(
                f.startswith("height_bucket=") for f in os.listdir(path)
            )
        real_rename(src, dst)

    with mock.patch("os.rename", side_effect=spy):
        sinks.compact(spark, path, pk)
    assert seen["visible_at_swap"] is True
    assert os.path.islink(path)
    assert _fp(sinks.read_final(spark, path, pk)) == before


# ---------------------------------------------------------------------------
# Round-9: compact vs append — optimistic detected-conflict-retry
# (VERDICT r08 #6; was EXCLUSIVE by contract).
# ---------------------------------------------------------------------------


def _kv_batch(spark, seq: int, n: int = 10):
    return spark.createDataFrame(
        [(k, f"s{seq}", k * 100) for k in range(n)],
        "k long, v string, block_height long",
    )


def _kv_final(spark, path):
    rows = sinks.read_final(spark, path, ("k",)).collect()
    return {r["k"]: r["v"] for r in rows}


def test_compact_detects_conflicting_append_and_retries(spark, tmp_path):
    """An append that commits between compaction's snapshot and its
    swap must be DETECTED (inventory changed → the built generation is
    abandoned) and the retry must fold the appended rows in — the core
    of the detected-conflict-retry upgrade."""
    import unittest.mock as mock

    path = str(tmp_path / "tbl")
    sinks.append(_kv_batch(spark, 1), path, ingest_seq=1)

    real_inventory = sinks._part_inventory
    calls = {"n": 0, "injected": False}

    def racing_inventory(root):
        calls["n"] += 1
        # the 2nd call is attempt-1's before_swap check: commit a
        # racing append FIRST, so the check sees a changed inventory
        if calls["n"] == 2 and not calls["injected"]:
            calls["injected"] = True
            sinks.append(_kv_batch(spark, 2), path, ingest_seq=2)
        return real_inventory(root)

    with mock.patch.object(sinks, "_part_inventory", racing_inventory):
        sinks.compact(spark, path, ("k",))
    assert calls["injected"]
    assert calls["n"] >= 4  # attempt 1 (snapshot+check) + attempt 2
    # nothing lost: the racing batch won FINAL resolution
    assert _kv_final(spark, path) == {k: "s2" for k in range(10)}
    # and the published generation is a real compact (one row per PK)
    import os

    assert os.path.islink(path)


def test_compact_rescues_post_check_straggler(spark, tmp_path):
    """A part file that lands in the OLD generation after the pre-swap
    inventory check but before the rename (the last remaining window)
    is rescued into the published generation with its ingest_seq
    intact — FINAL resolution is as if the compact never ran."""
    import os
    import shutil
    import unittest.mock as mock

    path = str(tmp_path / "tbl")
    sinks.append(_kv_batch(spark, 1), path, ingest_seq=1)
    sinks.compact(spark, path, ("k",))  # path is now a symlink

    # build a donor part file carrying seq-2 rows for bucket 0
    donor = str(tmp_path / "donor")
    sinks.append(_kv_batch(spark, 2), donor, ingest_seq=2)
    donor_parts = [
        (d, f)
        for d in os.listdir(donor)
        if d.startswith("height_bucket=")
        for f in os.listdir(os.path.join(donor, d))
        if not f.startswith(("_", "."))
    ]
    assert donor_parts

    real_rename = os.rename
    state = {"spliced": False}

    def splicing_rename(src, dst):
        if dst == path and not state["spliced"]:
            state["spliced"] = True
            old_gen = os.path.realpath(path)
            for d, f in donor_parts:
                os.makedirs(os.path.join(old_gen, d), exist_ok=True)
                shutil.copy(
                    os.path.join(donor, d, f),
                    os.path.join(old_gen, d, f"straggler-{f}"),
                )
        real_rename(src, dst)

    with mock.patch("os.rename", side_effect=splicing_rename):
        sinks.compact(spark, path, ("k",))
    assert state["spliced"]
    # the straggler's rows survived into the published generation
    assert _kv_final(spark, path) == {k: "s2" for k in range(10)}
    new_gen = os.path.realpath(path)
    rescued = [
        f
        for d in os.listdir(new_gen)
        if d.startswith("height_bucket=")
        for f in os.listdir(os.path.join(new_gen, d))
        if f.startswith("straggler-")
    ]
    assert len(rescued) == len(donor_parts)


def test_compact_raced_with_live_appends_loses_nothing(spark, tmp_path):
    """The genuinely raced form: a thread appending batches while
    another compacts in a loop.  Whatever the interleaving, FINAL
    resolution afterwards equals the sequential outcome — no appended
    row is lost, no stale version resurrected."""
    import threading
    import time

    path = str(tmp_path / "tbl")
    sinks.append(_kv_batch(spark, 1), path, ingest_seq=1)
    errs: list = []

    def appender():
        try:
            for seq in range(2, 6):
                sinks.with_retries(
                    lambda s=seq: sinks.append(_kv_batch(spark, s), path, s)
                )
                time.sleep(0.05)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def compactor():
        try:
            for _ in range(3):
                sinks.compact(spark, path, ("k",))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender), threading.Thread(target=compactor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert _kv_final(spark, path) == {k: "s5" for k in range(10)}
    # and a quiescent compact converges to one row per PK
    sinks.compact(spark, path, ("k",))
    raw = spark.read.parquet(path).count()
    assert raw == 10
    assert _kv_final(spark, path) == {k: "s5" for k in range(10)}


def test_transactions_append_overlaps_the_fixpoint(spark, tmp_path, monkeypatch):
    """``transactions`` needs only the flattened transactions, so its
    append is submitted before the state fixpoint returns: the patched
    fixpoint waits for the patched append to see it."""
    from rust_near_indexer_spark.plans import state

    seen = threading.Event()
    append, resolve_mappings = sinks.append, state.resolve_mappings

    def spy_append(df, path, *a, **kw):
        if os.path.basename(path) == "transactions":
            seen.set()
        return append(df, path, *a, **kw)

    def waiting_resolve(*a, **kw):
        assert seen.wait(timeout=30), "transactions was not submitted before the fixpoint"
        return resolve_mappings(*a, **kw)

    monkeypatch.setattr(sinks, "append", spy_append)
    monkeypatch.setattr(state, "resolve_mappings", waiting_resolve)
    blocks, _ = fixtures.generate(n_blocks=30, ttl_blocks=5)
    paths = sinks.ingest_bronze(spark, fixtures.blocks_df(spark, blocks), str(tmp_path), 1)
    assert sorted(paths) == sorted(sinks.TABLE_PKS)


@pytest.mark.parametrize("body_fails", [False, True])
def test_appends_raise_one_error_and_log_the_rest(
    spark, tmp_path, monkeypatch, caplog, body_fails
):
    """Two of three concurrent appends fail: leaving the ``Appends`` block
    raises the first emitted one's error (or the block's own) after the
    third append committed, and logs every append error it does not
    raise."""
    import logging

    def failing(df, path, *a, **kw):
        name = os.path.basename(path)
        if name != "ok":
            raise RuntimeError(f"{name} failed")
        return append(df, path, *a, **kw)

    append = sinks.append
    monkeypatch.setattr(sinks, "append", failing)
    monkeypatch.setattr(sinks, "with_retries", lambda fn: fn())
    df = spark.range(3).withColumn("block_height", F.col("id"))
    want = "body failed" if body_fails else "a failed"
    with caplog.at_level(logging.WARNING, logger="rust_near_indexer_spark.sinks"):
        with pytest.raises(RuntimeError, match=want):
            with sinks.Appends(str(tmp_path), 1) as appends:
                for name in ("a", "ok", "b"):
                    appends.emit(name, df)
                if body_fails:
                    raise RuntimeError("body failed")
    logged = sorted(str(r.exc_info[1]) for r in caplog.records if r.exc_info)
    assert logged == (["a failed", "b failed"] if body_fails else ["b failed"])
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 3
