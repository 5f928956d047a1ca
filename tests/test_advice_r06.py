"""Round-6 ADVICE red-teams.

1. ``token_pmi_phrases``: unigram counts and the corpus total T must be
   computed over ALL docs (single-token and empty docs included) —
   pre-fix the Spark side filtered them out while the oracle counted
   them, so any short doc made ``pmi_ratio_micro`` diverge.
2. ``dedup_prefix_filter_join`` / the 3-gram shingle family: 1–4-word
   docs must yield empty shingle sets, not an INVALID_INDEX_OF_ZERO
   crash (``sequence(1, n-4)`` descends through 0 unclamped).
3. ``SessionCache``: keys are applicationId-based (id() reuse of a
   GC'd session can NOT alias a new session into stale plans) and
   ``clear_caches()`` actually releases each entry's pins.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rust_near_indexer_spark.caching import SessionCache, clear_caches
from rust_near_indexer_spark.queries import load_registry
from rust_near_indexer_spark.tables import load

from .oracle_harness import compare, duck_connect


def _write_docs(tmp_path, docs) -> str:
    cols = list(zip(*docs))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    return str(tmp_path)


# A corpus mixing the crash/divergence classes: empty text (splits to
# ['']), a 1-word doc, the newly exposed 3- and 4-word class, and
# enough >=5-word docs (with a repeated bigram over the PMI noise
# floor) that both queries produce non-empty output.
SHORT_DOC_CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta alpha beta", "en", "web", 40),
    (2, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 40),
    (3, "alpha beta gamma delta epsilon zeta eta iota", "en", "web", 40),
    (4, "alpha beta gamma delta epsilon kappa", "en", "web", 30),
    (5, "alpha beta gamma delta epsilon lambda mu", "en", "web", 30),
    (6, "solo", "en", "books", 4),  # 1 word
    (7, "", "en", "books", 0),  # empty: split -> ['']
    (8, "two words", "en", "books", 9),  # 2 words
    (9, "three little words", "en", "books", 18),  # 3 words (new class)
    (10, "four little words here", "en", "books", 22),  # 4 words (new class)
]


def test_pmi_counts_unigrams_over_all_docs(spark, tmp_path):
    """ADVICE r05 #1: single-token / empty docs contribute to N(x) and
    T on BOTH engines (they produce no bigrams on either)."""
    sf = _write_docs(tmp_path, SHORT_DOC_CORPUS)
    reg = load_registry()
    q = reg["token_pmi_phrases"]
    out = q.spark(spark, sf)
    rows = out.collect()
    assert rows, "corpus was built to clear the PMI noise floor"
    r = compare(out, duck_connect(sf), q.oracle)
    assert r["hash_match"], r


def test_shingle_queries_survive_short_docs(spark, tmp_path):
    """ADVICE r05 #2: 1-4-word docs crash neither the 5-gram prefix
    filter join nor the 3-gram minhash chain; both engines agree."""
    sf = _write_docs(tmp_path, SHORT_DOC_CORPUS)
    reg = load_registry()
    con = duck_connect(sf)
    for name in ("dedup_prefix_filter_join", "dedup_minhash_lsh"):
        q = reg[name]
        r = compare(q.spark(spark, sf), con, q.oracle)
        assert r["hash_match"], (name, r)


class _FakeContext:
    def __init__(self, app_id: str) -> None:
        self.applicationId = app_id


class _FakeSession:
    def __init__(self, app_id: str) -> None:
        self.sparkContext = _FakeContext(app_id)


def test_session_cache_keys_by_application_id():
    cache = SessionCache("test.fake")
    builds = []

    def builder(tag):
        def build(pins):
            builds.append(tag)
            return tag

        return build

    a = _FakeSession("local-111")
    assert cache.get_or_build(a, ("sf",), builder("a1")) == "a1"
    assert cache.get_or_build(a, ("sf",), builder("a2")) == "a1"  # cached
    # A different session reusing the same PYTHON id() of a dead one is
    # modeled by a distinct applicationId — it must NOT see a's entry.
    b = _FakeSession("local-222")
    assert cache.get_or_build(b, ("sf",), builder("b1")) == "b1"
    assert builds == ["a1", "b1"]
    cache.clear()
    assert len(cache) == 0
    assert cache.get_or_build(a, ("sf",), builder("a3")) == "a3"
    cache.clear()


def test_clear_caches_unpersists(spark, sf_dir):
    """VERDICT r05 #5: after clear_caches() a cache entry's pinned frame
    is no longer pinned (storage level NONE) and a fresh call rebuilds."""
    cache = SessionCache("test.pinned")

    def docs():
        return cache.get_or_build(
            spark,
            (sf_dir,),
            lambda pins: pins.pin(load(spark, sf_dir, "documents").select("doc_id")),
        )

    df = docs()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert len(cache) == 1
    clear_caches()
    assert len(cache) == 0
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    df2 = docs()  # rebuilds cleanly
    assert df2.storageLevel.useMemory or df2.storageLevel.useDisk
    clear_caches()


def test_session_cache_releases_a_failed_build(spark):
    """A builder that raises leaves no entry and nothing pinned."""
    cache = SessionCache("test.failed")
    df = spark.range(5)

    def build(pins):
        pins.pin(df)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        cache.get_or_build(spark, ("k",), build)
    assert len(cache) == 0
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
