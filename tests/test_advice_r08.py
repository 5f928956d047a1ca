"""Round-8 ADVICE red-teams.

1. ``dedup_canonical_representatives`` must elect with the CORRECT base
   document when base doc_ids exceed the +100000 variant offset (sf1's
   key-shifted replicas) — the old ``node % 100000`` reconstruction
   misattributed src_rank there.  ``augmented_docs_with_base`` now
   carries ``base_id`` explicitly; this test plants a shifted corpus and
   checks the election against a hand-computed answer.
2. JPEG AC decode bounds the coefficient index after the run-length
   skip: a corrupt stream where run+index exceeds 63 raises the
   documented ``ValueError``, not ``IndexError``.
3. ``append_dedup_artifact`` rejects doc_id collisions (append, not
   upsert) instead of silently corrupting signatures/pairs/labels.
4. ``_write_tables`` publishes via atomic symlink swap: at no instant
   between builds does a reader observe a missing or half-written
   artifact, and a legacy real-directory artifact is migrated.
5. ``bpe_fixed_merge_token_counts`` excludes non-space-whitespace-only
   documents on BOTH engines (trim() strips only spaces, so a tab-only
   doc used to survive the filter and emit a (doc_id, 0, 0) row the
   oracle never produces).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def _write_documents(spark, sf: str, rows: list[tuple[int, str, str]]) -> None:
    """Write a minimal documents.parquet matching the loader schema
    (doc_id, text, lang, source, n_chars)."""
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source=s, n_chars=len(t))
            for i, t, s in rows
        ]
    ).write.parquet(os.path.join(sf, "documents.parquet"))


# ---------------------------------------------------------------------------
# 1. base_id carried explicitly through the augmentation
# ---------------------------------------------------------------------------


def test_augmented_docs_with_base_survives_shifted_ids(spark, tmp_path):
    """Plant a corpus whose doc_ids straddle the +100000 offset (as sf1's
    k*1e6 shifts do) and verify every variant's base_id is the TRUE
    originating document — node % 100000 would be wrong for all of them."""
    from rust_near_indexer_spark.queries.dedup import augmented_docs_with_base

    sf = str(tmp_path / "sf")
    _write_documents(
        spark,
        sf,
        [
            # shifted-replica range: ids >= 1_000_000 (sf1 shape)
            (1_000_000, "a b c d e f g h", "src3"),
            (1_000_010, "w1 w2 w3 w4 w5 w6 w7 w8", "src1"),
            (1_000_025, "x y z", "src0"),
        ],
    )

    out = augmented_docs_with_base(spark, sf).orderBy("doc_id").collect()
    got = {(r.doc_id, r.base_id) for r in out}
    expect = {
        (1_000_000, 1_000_000),
        (1_000_010, 1_000_010),
        (1_000_025, 1_000_025),
        # doc_id % 25 == 0 → exact dup at +200000
        (1_200_000, 1_000_000),
        (1_200_025, 1_000_025),
        # doc_id % 10 == 0 → near dup at +100000
        (1_100_000, 1_000_000),
        (1_100_010, 1_000_010),
    }
    assert got == expect
    # the modulo reconstruction is wrong for EVERY one of these nodes —
    # the property the explicit column exists to fix
    for doc_id, base_id in got:
        assert doc_id % 100000 != base_id


def test_canonical_election_uses_true_base_source(spark, tmp_path):
    """With shifted ids, the keeper must win on the TRUE base doc's
    source rank.  Two near-dup docs: the higher-id one has the better
    (lower) src_rank, so it must be elected keeper — a misattributed
    src_rank join would flip this."""
    from rust_near_indexer_spark.queries.dedup import (
        dedup_canonical_representatives,
    )

    sf = str(tmp_path / "sf")
    text = " ".join(f"tok{i}" for i in range(40))
    _write_documents(
        spark,
        sf,
        [
            # doc 1_000_010 % 10 == 0 → plants a near-dup variant at
            # 1_100_010 which clusters with the base; keeper policy is
            # (src_rank asc, n_chars desc, id asc).
            (1_000_010, text, "src7"),
            (1_000_011, "unrelated filler words here", "src0"),
        ],
    )

    out = dedup_canonical_representatives(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    # base doc and its near-dup variant share source src7 (rank 7);
    # the base text is longer (variant drops every 7th word) → keeper
    # is the base node with the TRUE rank 7, not a misattributed one.
    assert r.keeper == 1_000_010
    assert r.keeper_src_rank == 7
    assert r.n_dropped == 1


# ---------------------------------------------------------------------------
# 2. JPEG AC run-length overflow raises ValueError
# ---------------------------------------------------------------------------


def test_jpeg_ac_overflow_raises_valueerror():
    """Hand-craft a scan of four (run=15, size=1) AC symbols: k walks
    1→16→32→48 then the fourth run-skip lands at 64 — the decoder must
    fail with the documented ValueError ('coefficient index out of
    range'), not IndexError (ADVICE r07)."""
    import numpy as np

    from rust_near_indexer_spark.operators import multimodal as mm
    from tests.test_jpeg_codec import AC_CODE, DC_CODE, _BitWriter, _encode_jpeg

    img = np.zeros((8, 8, 1), np.uint8)
    data = bytearray(_encode_jpeg(img))
    sos = data.rfind(b"\xff\xda")
    hdr_len = (data[sos + 2] << 8) | data[sos + 3]
    scan_start = sos + 2 + hdr_len
    eoi = data.rfind(b"\xff\xd9")

    bw = _BitWriter()
    ln, code = DC_CODE[0]  # DC diff category 0 (no magnitude bits)
    bw.put(code, ln)
    ln, code = AC_CODE[(15 << 4) | 1]  # run=15, size=1
    for _ in range(4):
        bw.put(code, ln)
        bw.put(1, 1)  # magnitude bit for size=1
    bw.pad()
    crafted = data[:scan_start] + bw.out + data[eoi:]

    with pytest.raises(ValueError, match="coefficient index out of range"):
        mm._decode_jpeg(bytes(crafted))


# ---------------------------------------------------------------------------
# 3. append collision rejected
# ---------------------------------------------------------------------------


def test_append_rejects_doc_id_collision(spark, tmp_path):
    from rust_near_indexer_spark.dedup_artifact import (
        append_dedup_artifact,
        write_dedup_artifact,
    )

    path = str(tmp_path / "art")
    text = " ".join(f"w{i}" for i in range(20))
    base = spark.createDataFrame(
        [Row(doc_id=i, text=f"{text} v{i}") for i in range(10)]
    )
    write_dedup_artifact(base, path)
    dup_batch = spark.createDataFrame(
        [Row(doc_id=3, text=f"{text} again"), Row(doc_id=100, text=f"{text} new")]
    )
    with pytest.raises(ValueError, match="append, not upsert"):
        append_dedup_artifact(spark, path, dup_batch)
    # a clean batch still appends
    clean = spark.createDataFrame([Row(doc_id=100, text=f"{text} new")])
    stats = append_dedup_artifact(spark, path, clean)
    assert stats["n_new_sigs"] == 1


# ---------------------------------------------------------------------------
# 4. atomic publish: no missing-artifact window, legacy migration
# ---------------------------------------------------------------------------


def test_publish_is_symlink_swap_with_no_gap(spark, tmp_path):
    from rust_near_indexer_spark import artifact_io
    from rust_near_indexer_spark import dedup_artifact as da

    path = str(tmp_path / "art")
    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{text} v{i}") for i in range(6)]
    )
    da.write_dedup_artifact(docs, path)
    assert os.path.islink(path)
    first_target = os.path.realpath(path)

    # Hook the final swap to assert the old artifact is STILL fully
    # readable at the instant just before the new one replaces it.
    real_rename = os.rename
    seen = {}

    def spy_rename(src, dst):
        if dst == path:
            seen["pre_swap_meta"] = os.path.exists(
                os.path.join(path, "_meta.json")
            )
        real_rename(src, dst)

    import unittest.mock as mock

    with mock.patch("os.rename", side_effect=spy_rename):
        da.write_dedup_artifact(docs, path)
    assert seen["pre_swap_meta"] is True  # no missing-artifact window
    assert os.path.islink(path)
    second_target = os.path.realpath(path)
    assert second_target != first_target
    # ADVICE r09 (deferred deletion): the PREVIOUS generation survives
    # the swap — a reader that resolved the symlink just before the
    # swap can finish its scan; orphans are GC'd on the NEXT publish
    assert os.path.isdir(first_target)
    assert os.path.exists(os.path.join(first_target, "_meta.json"))
    da.write_dedup_artifact(docs, path)  # third publish
    assert not os.path.isdir(first_target)  # now GC'd (two swaps old)
    assert os.path.isdir(second_target)  # the new previous is retained
    # relative symlink: artifact tree is relocatable as a unit
    assert not os.path.isabs(os.readlink(path))
    art = artifact_io.load(da.KIND, spark, path)
    assert art["signatures"].count() == 6


def test_publish_migrates_legacy_real_dir(spark, tmp_path):
    from rust_near_indexer_spark import artifact_io
    from rust_near_indexer_spark import dedup_artifact as da

    path = str(tmp_path / "art")
    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{text} v{i}") for i in range(4)]
    )
    da.write_dedup_artifact(docs, path)
    # devolve to the legacy layout: replace symlink with a real dir
    target = os.path.realpath(path)
    os.unlink(path)
    os.rename(target, path)
    assert os.path.isdir(path) and not os.path.islink(path)
    da.write_dedup_artifact(docs, path)  # must migrate, not crash
    assert os.path.islink(path)
    assert artifact_io.load(da.KIND, spark, path)["signatures"].count() == 4


# ---------------------------------------------------------------------------
# 5. whitespace-only docs excluded from bpe_fixed_merge_token_counts
# ---------------------------------------------------------------------------


def test_bpe_fixed_counts_skips_tab_only_doc(spark, tmp_path):
    import duckdb

    from rust_near_indexer_spark.queries import load_registry

    sf = str(tmp_path / "sf")
    _write_documents(
        spark,
        sf,
        [
            (1, "the sands thank es th an", "src0"),
            (2, "\t", "src0"),  # tab-only: must vanish
            (3, "   ", "src0"),  # space-only: vanishes too
            (4, "es es es", "src0"),
        ],
    )

    q = load_registry()["bpe_fixed_merge_token_counts"]
    got = {r.doc_id: (r.n_tokens, r.n_unk_chars) for r in q.spark(spark, sf).collect()}
    assert set(got) == {1, 4}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{os.path.join(sf, 'documents.parquet')}/*.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2]) for r in con.execute(q.oracle).fetchall()
    }
    assert got == oracle


# ---------------------------------------------------------------------------
# r08 memory red-team fix: broadcast threshold scales with driver heap
# ---------------------------------------------------------------------------


def test_broadcast_threshold_scales_with_heap():
    """A static 64 MB broadcast threshold OOM'd a 2 GB driver building
    sf1 containment-join's document-frequency side ("not enough memory
    to build and broadcast", scripts/memory_redteam.py).  tune() now
    bounds the threshold by heap/64 with a 4 MB floor — unchanged at
    the default 8 GB heap (so every pinned plan is untouched)."""
    import types

    from rust_near_indexer_spark.session import _broadcast_threshold_bytes

    def fake(heap):
        rt = types.SimpleNamespace(maxMemory=lambda: heap)
        return types.SimpleNamespace(
            _jvm=types.SimpleNamespace(
                java=types.SimpleNamespace(
                    lang=types.SimpleNamespace(
                        Runtime=types.SimpleNamespace(getRuntime=lambda: rt)
                    )
                )
            )
        )

    mb, gb = 1024**2, 1024**3
    assert _broadcast_threshold_bytes(fake(8 * gb)) == 64 * mb  # default
    assert _broadcast_threshold_bytes(fake(16 * gb)) == 64 * mb  # capped
    assert _broadcast_threshold_bytes(fake(2 * gb)) == 32 * mb  # scales down
    assert _broadcast_threshold_bytes(fake(128 * mb)) == 4 * mb  # floor
