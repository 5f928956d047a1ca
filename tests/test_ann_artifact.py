"""The materialized ANN index artifact (round-8 centerpiece; VERDICT
r07 next #1 — the vector-side mirror of the dedup artifact).

Pins the same claims test_dedup_artifact pins for the text side:

1. artifact-reuse equals cold recomputation — every index table read
   from parquet equals the in-session chain over the same corpus;
2. incremental append equals a cold rebuild over the full corpus
   (exactly, not approximately: the quantizers are pinned donor draws
   the append carries over);
3. append work refuses contract violations loudly: vec_id collisions
   and new ids inside a quantizer donor range both raise;
4. the gate-corpus ensure() path writes once and then reuses
   (fingerprint-keyed).
"""

from __future__ import annotations

import dataclasses
import math
import os

import pytest
from pyspark.sql import Row

from rust_near_indexer_spark import ann_artifact as aa
from rust_near_indexer_spark import artifact_io
from rust_near_indexer_spark.caching import clear_caches

DIM = 64


def _unit_vec(i: int) -> list[float]:
    # deterministic pseudo-random unit vector (no RNG: reproducible and
    # engine-independent)
    raw = [math.sin(0.7 * i + 1.3 * j) for j in range(DIM)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _emb(spark, ids):
    return spark.createDataFrame(
        [
            Row(vec_id=i, embedding=_unit_vec(i), label=i % 7)
            for i in ids
        ],
        "vec_id long, embedding array<double>, label int",
    )


def _tset(df):
    cols = df.columns
    return {
        tuple(
            tuple(v) if isinstance(v, list) else v for v in (r[c] for c in cols)
        )
        for r in df.collect()
    }


# the corpus must contain the quantizer donor ids (100..115 IVF,
# 200..207 PQ) just like the gate corpus does
CORPUS_IDS = list(range(0, 230))


def test_cold_build_round_trip(spark, tmp_path):
    emb = _emb(spark, CORPUS_IDS)
    path = str(tmp_path / "ann")
    stats = aa.write_ann_artifact(emb, path)
    assert stats["n_vectors"] == len(CORPUS_IDS)
    assert stats["n_lists"] == 16
    assert stats["n_codes"] == len(CORPUS_IDS) * 8
    art = artifact_io.load(aa.KIND, spark, path)
    cold = aa.index_frames(emb)
    for name in aa.KIND.tables:
        assert _tset(art[name]) == _tset(cold[name]), name


def test_incremental_append_equals_cold_rebuild(spark, tmp_path):
    old_ids = [i for i in CORPUS_IDS if i < 150 or 200 <= i < 208]
    new_ids = [i for i in CORPUS_IDS if i not in set(old_ids)]
    inc_path, cold_path = str(tmp_path / "inc"), str(tmp_path / "cold")
    aa.write_ann_artifact(_emb(spark, old_ids), inc_path)
    stats = aa.append_ann_artifact(spark, inc_path, _emb(spark, new_ids))
    assert stats["n_new_vectors"] == len(new_ids)
    aa.write_ann_artifact(_emb(spark, CORPUS_IDS), cold_path)
    inc = artifact_io.load(aa.KIND, spark, inc_path)
    cold = artifact_io.load(aa.KIND, spark, cold_path)
    for name in aa.KIND.tables:
        assert _tset(inc[name]) == _tset(cold[name]), name


def test_append_rejects_collision_and_donor_range(spark, tmp_path):
    path = str(tmp_path / "ann")
    aa.write_ann_artifact(_emb(spark, CORPUS_IDS), path)
    with pytest.raises(ValueError, match="append, not upsert"):
        aa.append_ann_artifact(spark, path, _emb(spark, [5, 500]))
    # ids 100..115 / 200..207 are quantizer donors: a cold rebuild over
    # a corpus where they exist would derive a DIFFERENT index — refuse.
    bare = str(tmp_path / "bare")
    aa.write_ann_artifact(_emb(spark, list(range(300, 530))), bare)
    with pytest.raises(ValueError, match="donor range"):
        aa.append_ann_artifact(spark, bare, _emb(spark, [110]))
    with pytest.raises(ValueError, match="donor range"):
        aa.append_ann_artifact(spark, bare, _emb(spark, [204]))
    # a clean batch still appends
    stats = aa.append_ann_artifact(spark, path, _emb(spark, [500, 501]))
    assert stats["n_new_vectors"] == 2


def test_gate_corpus_artifact_matches_cold_chain(spark, sf_dir, tmp_path, monkeypatch):
    """ensure() over the real gate corpus == the cold chain."""
    from rust_near_indexer_spark.tables import load, spread

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "base"))
    clear_caches()
    art = artifact_io.ensure(aa.KIND, spark, sf_dir)
    cold = aa.index_frames(spread(load(spark, sf_dir, "embeddings"), "vec_id"))
    for name in aa.KIND.tables:
        assert _tset(art[name]) == _tset(cold[name]), name

    # second ensure() must hit the written artifact, not rebuild — the
    # marker path comes from the SAME helper production uses (the r09
    # staleness key folds a chain digest in; recomputing the fingerprint
    # here without it would point at a nonexistent dir)
    path = artifact_io.gate_path(aa.KIND, spark, sf_dir)
    assert os.path.dirname(path) == str(tmp_path / "base" / "ann_artifact")
    marker = os.path.join(path, "_meta.json")
    mtime = os.path.getmtime(marker)
    artifact_io.ensure(aa.KIND, spark, sf_dir)
    assert os.path.getmtime(marker) == mtime
    clear_caches()


def test_version_mismatch_refuses_stale_artifact(spark, tmp_path):
    path = str(tmp_path / "ann")
    aa.write_ann_artifact(_emb(spark, CORPUS_IDS), path)
    with pytest.raises(ValueError, match="version"):
        artifact_io.load(dataclasses.replace(aa.KIND, version=99), spark, path)
