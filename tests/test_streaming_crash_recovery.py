"""Mid-stream crash-recovery red-team (VERDICT r06 #5).

test_streaming.py proves restart-after-completion is a no-op; these
tests KILL the pipeline mid-stream — between micro-batches, between two
sink appends inside a batch, and between the sink writes and the state
save — restart from the same checkpoint, and fingerprint-match every
bronze table against an uninterrupted run.  This is the Spark
composition the reference gets from ReplacingMergeTree + re-insert
overlap (SURVEY §1.3): foreachBatch replay + ingest_seq stamping +
PK-dedup-on-read must deliver identical final table state no matter
where the crash lands.
"""

from __future__ import annotations

import functools
import json
import os

import pytest
from pyspark.sql import functions as F

from rust_near_indexer_spark import fixtures, sinks
from rust_near_indexer_spark.canonical import fingerprint
from rust_near_indexer_spark.queries.near_events import TTL_BLOCKS
from rust_near_indexer_spark.streaming import pipeline as pl
from rust_near_indexer_spark.streaming import run_streaming

N_BLOCKS = 120
N_CHUNKS = 4


@pytest.fixture(scope="module")
def blocks_dir(tmp_path_factory):
    blocks, _ = fixtures.generate(n_blocks=N_BLOCKS, ttl_blocks=TTL_BLOCKS)
    d = tmp_path_factory.mktemp("crash_stream")
    per = (len(blocks) + N_CHUNKS - 1) // N_CHUNKS
    for c in range(N_CHUNKS):
        with open(d / f"chunk-{c:03d}.jsonl", "w") as f:
            for b in blocks[c * per : (c + 1) * per]:
                f.write(json.dumps(b, separators=(",", ":")) + "\n")
    return str(d)


@pytest.fixture(scope="module")
def baseline(spark, blocks_dir, tmp_path_factory):
    """Uninterrupted run → per-table fingerprints."""
    out = str(tmp_path_factory.mktemp("baseline") / "out")
    run_streaming(
        spark, blocks_dir, out,
        checkpoint_dir=out + ".ckpt", ttl_blocks=TTL_BLOCKS,
    )
    return {name: _final_fp(spark, out, name) for name in sinks.TABLE_PKS}


def _final_fp(spark, out, name):
    df = sinks.read_final(spark, os.path.join(out, name), sinks.TABLE_PKS[name])
    cols = [F.col(c).cast("string") for c in df.columns if c != "receipt_ids"]
    return df.agg(
        F.count("*").alias("n"), fingerprint(*cols).alias("fp")
    ).collect()[0]


class _KillPoint:
    """Raise at the chosen point for as long as the fault is installed
    (the retry wrapper must see a PERSISTENT failure or it would mask
    the crash); healing happens when monkeypatch.undo() removes the
    faulty wrapper before the recovery run."""

    def __init__(self) -> None:
        self.fired = False

    def maybe_fire(self) -> None:
        self.fired = True
        raise RuntimeError("injected kill-point")


def _run_to_crash_then_recover(spark, blocks_dir, tmp_path, monkeypatch, arm):
    """arm(kp, monkeypatch) installs the fault; returns final fps."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    kp = _KillPoint()
    # retries must not mask the crash for 2+ minutes of backoff sleeps
    orig_retries = sinks.with_retries
    monkeypatch.setattr(
        sinks, "with_retries",
        functools.partial(orig_retries, sleep=lambda _s: None),
    )
    arm(kp, monkeypatch)
    with pytest.raises(Exception):
        run_streaming(
            spark, blocks_dir, out, checkpoint_dir=ckpt, ttl_blocks=TTL_BLOCKS
        )
    assert kp.fired, "the kill-point must actually have fired"
    monkeypatch.undo()
    run_streaming(
        spark, blocks_dir, out, checkpoint_dir=ckpt, ttl_blocks=TTL_BLOCKS
    )
    return {name: _final_fp(spark, out, name) for name in sinks.TABLE_PKS}


def test_crash_between_micro_batches(spark, blocks_dir, baseline, tmp_path, monkeypatch):
    """Kill before batch 2 starts: batch 0-1 committed, 2-3 pending."""
    orig = pl.process_batch

    def faulty(blocks, batch_id, *a, **kw):
        if batch_id == 2:
            _KP.maybe_fire()
        return orig(blocks, batch_id, *a, **kw)

    def arm(kp, mp):
        global _KP
        _KP = kp
        mp.setattr(pl, "process_batch", faulty)

    got = _run_to_crash_then_recover(spark, blocks_dir, tmp_path, monkeypatch, arm)
    assert got == baseline


def test_crash_between_sink_appends(spark, blocks_dir, baseline, tmp_path, monkeypatch):
    """Kill inside batch 1 after two tables appended: the half-written
    batch replays; ingest_seq + PK dedup collapse the duplicates."""
    orig = sinks.append
    calls = {"n": 0}

    def faulty(df, path, batch_id, *a, **kw):
        if batch_id == 1:
            calls["n"] += 1
            if calls["n"] >= 3:  # persistent: retries must not mask it
                _KP.maybe_fire()
        return orig(df, path, batch_id, *a, **kw)

    def arm(kp, mp):
        global _KP
        _KP = kp
        mp.setattr(sinks, "append", faulty)

    got = _run_to_crash_then_recover(spark, blocks_dir, tmp_path, monkeypatch, arm)
    assert got == baseline


def test_crash_between_sinks_and_state_save(
    spark, blocks_dir, baseline, tmp_path, monkeypatch
):
    """Kill after every sink wrote batch 1 but before its state save:
    the restart replays batch 1 against the OLD carried state — the
    recomputation is deterministic, the re-appends dedup, and the state
    save completes on the replay."""
    orig = pl._save_state
    calls = {"n": 0}

    def faulty(df, state_dir):
        calls["n"] += 1
        if calls["n"] >= 2:  # batch 1's save (batch 0 saved once already)
            _KP.maybe_fire()
        return orig(df, state_dir)

    def arm(kp, mp):
        global _KP
        _KP = kp
        mp.setattr(pl, "_save_state", faulty)

    got = _run_to_crash_then_recover(spark, blocks_dir, tmp_path, monkeypatch, arm)
    assert got == baseline


def test_crash_inside_state_write(spark, blocks_dir, baseline, tmp_path, monkeypatch):
    """Kill batch 1's state save inside its write job: the parquet write
    of the mappings fails mid-job (a raise_error column), after anything
    the writer does to its target before the job runs.  The restart must
    find batch 0's state and replay batch 1 against it."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    state_dir = os.path.join(str(tmp_path / "out"), "_state")
    calls = {"n": 0}

    def faulty(self, path, *a, **kw):
        if not path.startswith(state_dir):
            return orig(self, path, *a, **kw)
        calls["n"] += 1
        if calls["n"] < 2:  # batch 0's save
            return orig(self, path, *a, **kw)
        poisoned = self._df.withColumn(
            "tx_hash",
            F.when(F.col("write_block") >= 0, F.raise_error(F.lit("injected kill-point")))
            .otherwise(F.col("tx_hash")),
        )
        try:
            return orig(poisoned.write, path, mode="overwrite")
        except Exception:
            _KP.fired = True
            raise

    def arm(kp, mp):
        global _KP
        _KP = kp
        mp.setattr(DataFrameWriter, "parquet", faulty)

    got = _run_to_crash_then_recover(spark, blocks_dir, tmp_path, monkeypatch, arm)
    assert got == baseline
