"""Streaming maintenance of the dedup/ANN index artifacts: streamed
micro-batch folds must equal a cold build over the full corpus, survive
stop/resume on the same checkpoint, and treat replayed batches as
no-ops (the collision guard doubling as the replay detector)."""

from __future__ import annotations

import json
import math
import os

import pytest

from rust_near_indexer_spark import ann_artifact as aa
from rust_near_indexer_spark import artifact_io
from rust_near_indexer_spark import dedup_artifact as da
from rust_near_indexer_spark.streaming.index_maintenance import (
    fold_batch,
    maintain_artifact,
)

DOC_SCHEMA = "doc_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<double>, label int"


def _doc_rows():
    base1 = "the quick brown fox jumps over the lazy dog near the river today"
    base2 = "large language models learn statistical structure from text data"
    rows = []
    for fam, b in enumerate((base1, base2)):
        w = b.split()
        fid = 100 * (fam + 1)
        rows += [
            (fid, b),
            (fid + 1, " ".join(w[:-1])),
            (fid + 2, " ".join(w[1:])),
        ]
    rows += [(900, "unrelated text about cooking pasta dishes tonight"),
             (901, "another standalone doc concerning alpine geology maps")]
    return rows


def _unit_vec(i: int) -> list[float]:
    raw = [math.sin(0.7 * i + 1.3 * j) for j in range(64)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _write_chunks(dirpath, rows, n_chunks, render):
    os.makedirs(dirpath, exist_ok=True)
    per = (len(rows) + n_chunks - 1) // n_chunks
    for c in range(n_chunks):
        with open(os.path.join(dirpath, f"chunk-{c:03d}.jsonl"), "w") as f:
            for r in rows[c * per : (c + 1) * per]:
                f.write(json.dumps(render(r)) + "\n")


def _pairs_set(df):
    return {tuple(r) for r in df.select("doc_a", "doc_b", "jaccard_milli").collect()}


def _labels_set(df):
    return {tuple(r) for r in df.select("node", "component").collect()}


def test_streamed_dedup_folds_equal_cold_build(spark, tmp_path):
    rows = _doc_rows()
    src = str(tmp_path / "src")
    _write_chunks(src, rows, 3, lambda r: {"doc_id": r[0], "text": r[1]})
    art = str(tmp_path / "art")
    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    q = maintain_artifact(da.KIND, stream, art, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    cold = str(tmp_path / "cold")
    da.write_dedup_artifact(
        spark.createDataFrame(rows, DOC_SCHEMA), cold
    )
    inc, ref = artifact_io.load(da.KIND, spark, art), artifact_io.load(da.KIND, spark, cold)
    assert _pairs_set(inc["pairs"]) == _pairs_set(ref["pairs"])
    assert _labels_set(inc["labels"]) == _labels_set(ref["labels"])


def test_streamed_dedup_resume_processes_only_new_files(spark, tmp_path):
    rows = _doc_rows()
    src = str(tmp_path / "src")
    _write_chunks(src, rows[:6], 2, lambda r: {"doc_id": r[0], "text": r[1]})
    art, ckpt = str(tmp_path / "art"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    maintain_artifact(da.KIND, stream, art, ckpt).awaitTermination(120)
    n_after_first = artifact_io.load(da.KIND, spark, art)["signatures"].count()
    assert n_after_first == 6

    # new files arrive; resume on the SAME checkpoint — the already-
    # processed chunks must not refold (they'd be skips anyway, but the
    # source offsets shouldn't even deliver them)
    with open(os.path.join(src, "chunk-900.jsonl"), "w") as f:
        for r in rows[6:]:
            f.write(json.dumps({"doc_id": r[0], "text": r[1]}) + "\n")
    stream2 = spark.readStream.schema(DOC_SCHEMA).json(src)
    maintain_artifact(da.KIND, stream2, art, ckpt).awaitTermination(120)

    cold = str(tmp_path / "cold")
    da.write_dedup_artifact(spark.createDataFrame(rows, DOC_SCHEMA), cold)
    inc, ref = artifact_io.load(da.KIND, spark, art), artifact_io.load(da.KIND, spark, cold)
    assert _pairs_set(inc["pairs"]) == _pairs_set(ref["pairs"])
    assert _labels_set(inc["labels"]) == _labels_set(ref["labels"])


def test_fold_replay_is_noop(spark, tmp_path):
    """A replayed batch (foreachBatch redelivery after a crash) is
    detected by full id collision and skipped — artifact unchanged."""
    rows = _doc_rows()
    art = str(tmp_path / "art")
    first = spark.createDataFrame(rows[:6], DOC_SCHEMA)
    assert fold_batch(da.KIND, spark, art, first) == "build"
    second = spark.createDataFrame(rows[6:], DOC_SCHEMA)
    assert fold_batch(da.KIND, spark, art, second) == "append"
    before = _labels_set(artifact_io.load(da.KIND, spark, art)["labels"])
    mtime = os.path.getmtime(os.path.join(art, "_meta.json"))
    assert fold_batch(da.KIND, spark, art, second) == "skip"  # replay
    assert os.path.getmtime(os.path.join(art, "_meta.json")) == mtime
    assert _labels_set(artifact_io.load(da.KIND, spark, art)["labels"]) == before


def test_fold_replay_with_a_short_doc_is_noop(spark, tmp_path):
    """A doc of <3 words gets no signature row, so the replay check
    compares only the ids the artifact stores: a replayed batch holding
    one still skips, and a genuine partial overlap still raises."""
    art = str(tmp_path / "art")
    seven, six = "one two three four five six seven", "alpha beta gamma delta eps zeta"
    assert fold_batch(da.KIND, spark, art, spark.createDataFrame(
        [(1, seven), (2, six)], DOC_SCHEMA)) == "build"
    batch = spark.createDataFrame([(3, seven), (4, "short doc")], DOC_SCHEMA)
    assert fold_batch(da.KIND, spark, art, batch) == "append"
    assert fold_batch(da.KIND, spark, art, batch) == "skip"
    overlap = spark.createDataFrame([(3, seven), (5, six)], DOC_SCHEMA)
    with pytest.raises(ValueError, match="append, not upsert"):
        fold_batch(da.KIND, spark, art, overlap)


def test_streamed_ann_folds_equal_cold_build(spark, tmp_path):
    ids = list(range(0, 230))  # includes quantizer donor ranges
    rows = [(i, _unit_vec(i), i % 7) for i in ids]
    src = str(tmp_path / "src")
    # chunk boundaries chosen so the FIRST batch holds the donor ids
    # (an index cannot be cold-built without its quantizer donors)
    _write_chunks(
        src,
        rows,
        2,
        lambda r: {"vec_id": r[0], "embedding": r[1], "label": r[2]},
    )
    art = str(tmp_path / "ann")
    stream = spark.readStream.schema(VEC_SCHEMA).json(src)
    maintain_artifact(aa.KIND, stream, art, str(tmp_path / "ckpt")).awaitTermination(120)

    cold = str(tmp_path / "cold")
    aa.write_ann_artifact(spark.createDataFrame(rows, VEC_SCHEMA), cold)
    inc, ref = artifact_io.load(aa.KIND, spark, art), artifact_io.load(aa.KIND, spark, cold)
    for name in aa.KIND.tables:
        a = {tuple(tuple(v) if isinstance(v, list) else v for v in r)
             for r in inc[name].collect()}
        b = {tuple(tuple(v) if isinstance(v, list) else v for v in r)
             for r in ref[name].collect()}
        assert a == b, name


def test_fold_ann_replay_is_noop(spark, tmp_path):
    rows = [(i, _unit_vec(i), i % 7) for i in range(230)]
    art = str(tmp_path / "ann")
    first = spark.createDataFrame(rows[:220], VEC_SCHEMA)
    assert fold_batch(aa.KIND, spark, art, first) == "build"
    batch = spark.createDataFrame(rows[220:], VEC_SCHEMA)
    assert fold_batch(aa.KIND, spark, art, batch) == "append"
    mtime = os.path.getmtime(os.path.join(art, "_meta.json"))
    assert fold_batch(aa.KIND, spark, art, batch) == "skip"
    assert os.path.getmtime(os.path.join(art, "_meta.json")) == mtime
