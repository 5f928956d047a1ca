"""Deduplication operators over ``documents`` (north-star §LLM).

Exact dedup (hash-groupBy), MinHash+LSH near-dup (shingle → minhash →
band → bucket-join → verified Jaccard — never all-pairs), SimHash, and
n-gram Jaccard.  All pure ``pyspark.sql.functions`` higher-order array
expressions; the DuckDB oracle re-implements the same pipeline with list
lambdas.

The driver's synthetic corpus has no natural duplicates, so every query
runs over a deterministically *augmented* corpus: each doc_id divisible
by 25 gains an exact copy (+200000) and each divisible by 10 a near-dup
copy (+100000) with every 7th word dropped.  Both engines apply the same
augmentation, so the planted structure is what the operators must find.

Scale posture: LSH candidate generation is a shuffle on (band, bucket)
keys — cardinality ≈ docs × bands, each bucket tiny — then verification
touches only candidate pairs.  At 100 TB this is the standard
linear-scan + bucketed-join shape; the all-pairs crossJoin never appears.
Measured at sf0.1 (5.6k docs): max bucket 22 docs, ~104k candidate
pairs, zero buckets above 64.  Hot buckets (near-identical boilerplate
at corpus scale) are dropped by ``cap_hot_buckets`` before the
self-join — both engines apply the identical cap.

Determinism: hashes are the cross-engine hash60 (canonical.py);
jaccard/score values live in integer milli-units with floor division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import Pins, SessionCache, materialize
from ..canonical import duck_fingerprint, duck_hash60, fingerprint, hash60, md5_60
from ..tables import load, spread
from . import register

N_PERM = 8  # minhash permutations
N_BANDS = 8  # bands of 1 row each: recall 1-(1-j)^8 (≈0.99 at j=0.45)
JACCARD_MILLI_THRESHOLD = 400
# Hot-bucket cap: a (band, bucket) with more members than this is dropped
# before the self-join — C(n,2) candidate blowup from near-identical
# boilerplate is the one thing that breaks LSH at corpus scale.  Any real
# near-dup cluster that large is still found through its other 7 bands
# (and by exact dedup).  Measured at sf0.1: max bucket 27, so the cap is
# inert on the test corpus; the oracle applies the identical rule.
MAX_BUCKET_DOCS = 64


# ---------------------------------------------------------------------------
# Augmented corpus (identical on both engines).
# ---------------------------------------------------------------------------


def augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents + planted exact dups (every 25th, +200000) and near dups
    (every 10th, +100000, every 7th word dropped) — ONE corpus scan: each
    row explodes into its 1-3 variants (a UNION of three scans would read
    the corpus three times at 100 TB)."""
    return augmented_docs_with_base(spark, sf_dir).select("doc_id", "text")


def augmented_docs_with_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``augmented_docs`` plus an explicit ``base_id`` column carrying the
    originating document's id through every variant.  Consumers that need
    to re-join a variant to its base row MUST use this column rather than
    reconstructing it arithmetically (``node % 100000`` is only valid
    while base doc_ids stay below the +100000 variant offset — sf1's
    key-shifted replicas break that, ADVICE r07)."""
    # spread the compact scan BEFORE the variant computation: the
    # near-dup rewrite is a higher-order filter+concat over every word,
    # and a small parquet file arrives as one split — without this the
    # whole augmentation runs on one core (no-op at 100 TB)
    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
    words = F.split(F.col("text"), " ")
    # drop every 7th word (1-based positions 7, 14, …)
    near_text = F.concat_ws(" ", F.filter(words, lambda w, i: (i + 1) % 7 != 0))
    variants = F.array_compact(
        F.array(
            F.struct(
                F.col("doc_id").alias("doc_id"),
                F.col("text").alias("text"),
                F.col("doc_id").alias("base_id"),
            ),
            F.when(
                F.col("doc_id") % 25 == 0,
                F.struct(
                    (F.col("doc_id") + 200000).alias("doc_id"),
                    F.col("text").alias("text"),
                    F.col("doc_id").alias("base_id"),
                ),
            ),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.struct(
                    (F.col("doc_id") + 100000).alias("doc_id"),
                    near_text.alias("text"),
                    F.col("doc_id").alias("base_id"),
                ),
            ),
        )
    )
    # explode_outer, not explode: InferFiltersFromGenerate would wrap
    # the inner explode in a `size(variants) > 0` Filter that duplicates
    # the whole variant expression (incl. the higher-order near-dup
    # rewrite) and pushes it below the spread Exchange back onto the
    # single-split scan.  The array always holds the identity struct, so
    # outer ≡ inner here and no null row can appear.
    return d.select(F.explode_outer(variants).alias("v")).select(
        "v.doc_id", "v.text", "v.base_id"
    )


# DuckDB rendering of the same augmentation (list lambdas are 1-indexed).
AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0
    UNION ALL
    SELECT doc_id + 100000,
           array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 7 != 0), ' ')
    FROM documents WHERE doc_id % 10 = 0
"""

# Same augmentation with the originating doc_id carried explicitly
# (matches ``augmented_docs_with_base``).
AUG_BASE_SQL = """
    SELECT doc_id, text, doc_id AS base_id FROM documents
    UNION ALL
    SELECT doc_id + 200000, text, doc_id FROM documents WHERE doc_id % 25 = 0
    UNION ALL
    SELECT doc_id + 100000,
           array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 7 != 0), ' '),
           doc_id
    FROM documents WHERE doc_id % 10 = 0
"""


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({AUG_SQL})
    SELECT md5(text) AS text_md5,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_id,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM aug
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY keeper_id
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text, keep-min policy.  One
    shuffle on the content hash; at scale the standard first-pass dedup."""
    aug = augmented_docs(spark, sf_dir)
    return (
        aug.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("member_ids"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("keeper_id")
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH.
# ---------------------------------------------------------------------------


def _shingles(words) -> F.Column:
    """Distinct 3-word shingles.  Docs of <3 words yield an empty array
    (the unclamped sequence(1, n-2) would descend through 0 and make
    slice(w, 0, 3) raise INVALID_INDEX_OF_ZERO)."""
    return F.when(
        F.size(words) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, GREATEST(len(w) - 2, 0) + 1), "
    "i -> array_to_string(w[i:i+2], ' ')))"
)

# Kirsch–Mitzenmacher double hashing: permutation j = (h1 + j·h2)
# mod 2^60 over ONE md5-based base hash — h2 is derived affinely from h1
# (h2 = (11·(h1 mod 2^59) + c) mod 2^59), the textbook universal-hash
# minhash family, at 1/8 the md5 cost of 8 direct hashes and half the
# cost of a second md5 for h2.  Exact-Jaccard verification filters any
# extra candidates the weaker family admits, so correctness is
# unaffected; bounds: h1 + 7·h2 < 2^60 + 7·2^59 < 2^63 and
# 11·(h1 mod 2^59) < 2^63 — no BIGINT overflow on either engine.
M60 = 1 << 60
M59 = 1 << 59
H2_MUL = 11
H2_ADD = 31337

_MH_COLS_SQL = ", ".join(
    "list_min(list_transform(list_zip(hs1, hs2), "
    "p -> (p[1] + {j} * p[2]) % {m60})) AS mh{j}".format(j=j, m60=M60)
    for j in range(N_PERM)
)

_HS_SQL = (
    "list_transform(sh, s -> {h1}) AS hs1, "
    "list_transform(hs1, h -> (h % {m59} * {mul} + {add}) % {m59}) AS hs2".format(
        h1=duck_hash60("s"), m59=M59, mul=H2_MUL, add=H2_ADD
    )
)

_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, hs1, {b} AS band, {h} AS bucket FROM mh".format(
        b=b, h=duck_hash60("concat_ws('|', '%d', mh%d)" % (b, b))
    )
    for b in range(N_BANDS)
)

_SIMHASH_TERMS_SQL = " + ".join(
    "(CASE WHEN 2 * len(list_filter(hs, x -> (x >> %d) & 1 = 1)) >= len(hs) "
    "THEN %d ELSE 0 END)" % (j, 1 << j)
    for j in range(16)
)


def cap_hot_buckets(bands: DataFrame, cap: int = MAX_BUCKET_DOCS) -> DataFrame:
    """Drop every (band, bucket) group larger than ``cap``.

    Two-phase so no bucket's membership is ever materialized on one task:
    a map-side-combined count finds the hot buckets (rare by
    construction), then a broadcast anti-join filters them out of the
    band stream."""
    hot = (
        bands.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > cap)
        .select("band", "bucket")
    )
    return bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")


def _perm_mix(j: int):
    # factory, not a defaulted second lambda arg (F.zip_with would bind it)
    jj, m60 = F.lit(j), F.lit(M60)
    return lambda h1, h2: (h1 + jj * h2) % m60


def _minhashes() -> list[F.Column]:
    return [
        F.array_min(F.zip_with("hs1", "hs2", _perm_mix(j))).alias(f"mh{j}")
        for j in range(N_PERM)
    ]


# The full shingle→minhash→band→verify chain as DuckDB CTEs (no leading
# WITH — composed by dedup_minhash_lsh and dedup_clusters below, and by
# the curation_decisions oracle over its own corpus).
def lsh_ctes(corpus_sql: str) -> str:
    """The chain parameterized on the corpus SQL (must yield
    (doc_id, text)); produces the CTE name ``pairs``."""
    return f"""aug AS ({corpus_sql}),
    sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug)
        WHERE len({_SHINGLES_SQL}) > 0
    ),
    mh AS (
        SELECT doc_id, hs1, {_MH_COLS_SQL}
        FROM (SELECT doc_id, {_HS_SQL} FROM sh)
    ),
    bands AS (
        {_BANDS_SQL}
    ),
    hot AS (
        SELECT band, bucket FROM bands
        GROUP BY band, bucket HAVING count(*) > {MAX_BUCKET_DOCS}
    ),
    cold AS (
        SELECT * FROM bands
        WHERE (band, bucket) NOT IN (SELECT (band, bucket) FROM hot)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hs1 AS h_a, b.hs1 AS h_b
        FROM cold a JOIN cold b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT doc_a, doc_b,
               len(list_filter(h_a, x -> list_contains(h_b, x))) AS inter,
               len(h_a) + len(h_b) - len(list_filter(h_a, x -> list_contains(h_b, x))) AS uni
        FROM cand
    ),
    pairs AS (
        SELECT doc_a, doc_b, (1000 * inter) // uni AS jaccard_milli
        FROM verified
        WHERE (1000 * inter) // uni >= {JACCARD_MILLI_THRESHOLD}
    )"""


_LSH_CTES = lsh_ctes(AUG_SQL)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_LSH_CTES}
    SELECT doc_a, doc_b, jaccard_milli FROM pairs
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: distinct 3-shingles → 8 minhash
    permutations → 8 bands of 1 row → hot-bucket cap → bucket self-join
    (never all-pairs) → exact-Jaccard verification of candidates only."""
    return _verified_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# The dedup artifact's pairs and CC labels are consumed by
# dedup_minhash_lsh, dedup_clusters, dedup_cluster_cliqueness and more;
# cache its tables per (session, sf_dir) so a sequential query
# loop opens them once (same pattern as near_events.bronze_tables).
_DEDUP_CACHE = SessionCache("dedup.index")


def _dedup_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The maintained dedup index of the gate corpus: LSH signatures,
    verified pairs ``(doc_a, doc_b, jaccard_milli)`` and CC labels
    ``(node, component)``.

    Artifact-backed: the first session to touch a corpus builds and
    WRITES the dedup artifact (``artifact_io.ensure``); every later
    session — the next bench run, the next gate run, every
    production consumer — READS the range-clustered parquet instead of
    re-deriving the LSH chain and the iterative CC fixpoint."""

    def build(pins: Pins) -> dict[str, DataFrame]:
        from ..artifact_io import ensure
        from ..dedup_artifact import KIND

        return {k: pins.pin(v) for k, v in ensure(KIND, spark, sf_dir).items()}

    return _DEDUP_CACHE.get_or_build(spark, (sf_dir,), build)


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_index(spark, sf_dir)["pairs"]


def _pair_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_index(spark, sf_dir)["labels"]


def signatures_from_shingles(shingled: DataFrame) -> DataFrame:
    """(doc_id, sh) → the per-doc LSH signature row
    ``(doc_id, hs1 array<long>, mh0..mh{N_PERM-1})`` — the table the
    dedup ARTIFACT persists: everything candidate generation and exact
    verification need, with the raw text already shed."""
    hash2 = lambda h: (h % M59 * H2_MUL + H2_ADD) % F.lit(M59)  # noqa: E731
    return (
        shingled.withColumn("hs1", F.transform(F.col("sh"), md5_60))
        .withColumn("hs2", F.transform(F.col("hs1"), hash2))
        .select("doc_id", "hs1", *_minhashes())
    )


def bands_from_signatures(sigs: DataFrame) -> DataFrame:
    """Signatures → the (doc_id, band, bucket) band stream (pre-cap).

    Bands carry only (doc_id, band, bucket): the candidate self-join and
    dedup shuffle two longs + an id per row — the shingle arrays join
    back AFTER pair dedup, so big array payloads never enter the
    band shuffle or the distinct (the plan that survives a wide corpus).
    """
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_60(
                            F.concat_ws("|", F.lit(str(b)), F.col(f"mh{b}"))
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def verify_pair_ids(pair_ids: DataFrame, sigs: DataFrame) -> DataFrame:
    """Candidate (doc_a, doc_b) ids → exact-Jaccard-verified pairs.

    Verification compares HASHED distinct shingles (long arrays) —
    cheaper set intersection than 30-char strings; md5-collision noise
    is negligible and both engines use the identical hashed sets."""
    sh_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("hs1").alias("h_a"))
    sh_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("hs1").alias("h_b"))
    cand = pair_ids.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("h_a", "h_b"))
    uni = F.size("h_a") + F.size("h_b") - inter
    jac = F.floor(1000 * inter / uni).cast("long")
    return cand.select("doc_a", "doc_b", jac.alias("jaccard_milli")).where(
        F.col("jaccard_milli") >= JACCARD_MILLI_THRESHOLD
    )


def signatures_for(docs: DataFrame) -> DataFrame:
    """(doc_id, text) corpus → LSH signature rows (docs of <3 words,
    which shingle to empty, are excluded — they can never near-dup)."""
    return signatures_from_shingles(
        docs.select(
            "doc_id", _shingles(F.split(F.col("text"), " ")).alias("sh")
        ).where(F.size("sh") > 0)
    )


def candidate_pair_ids(bands: DataFrame) -> DataFrame:
    """Band stream → distinct candidate (doc_a < doc_b) id pairs."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verified_pairs_for(docs: DataFrame, pins: Pins) -> tuple[DataFrame, DataFrame]:
    """The LSH chain over an ARBITRARY (doc_id, text) corpus: its
    signatures, pinned in ``pins`` (the band stream and verification
    both read them), and its verified near-dup pairs.  The dedup
    artifact build (hence the registry) and curation share it."""
    sigs = pins.pin(signatures_for(docs))
    return sigs, verify_pair_ids(
        candidate_pair_ids(cap_hot_buckets(bands_from_signatures(sigs))), sigs
    )


# ---------------------------------------------------------------------------
# Near-dup clusters (connected components over the verified pairs).
# ---------------------------------------------------------------------------


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_LSH_CTES},
    -- MATERIALIZED: without the hint DuckDB re-inlines the whole LSH
    -- chain per reference of `pairs` (same fix as the clique-ness audit)
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION
        SELECT doc_b, doc_a FROM e
    ),
    reach AS (
        SELECT s AS node, s AS lbl FROM und
        UNION
        SELECT u.d AS node, r.lbl FROM reach r JOIN und u ON u.s = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM comp
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup *decision*: connected components over the
    verified MinHash-LSH pair graph (alternating large-star/small-star,
    operators/graph.py — O(log n) shuffle rounds), one row per cluster
    with the elected keeper (= min doc_id = the component label) and the
    sorted member list.  The DuckDB oracle recomputes components with a
    recursive label-propagation CTE, so the gate proves the star-forest
    fixpoint equals transitive closure."""
    comp = _pair_components(spark, sf_dir)
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.concat_ws(",", F.sort_array(F.collect_list("node"))).alias("member_ids"),
        )
        .orderBy("cluster_id")
    )


@register(
    "dedup_cluster_cliqueness",
    oracle=f"""
    WITH RECURSIVE {_LSH_CTES},
    -- MATERIALIZED: e/comp/f are each referenced 2-3× below, and
    -- without the hint DuckDB can re-inline the whole LSH chain per
    -- reference (measured 17.7s → ~3s at sf0.01)
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION
        SELECT doc_b, doc_a FROM e
    ),
    reach AS (
        SELECT s AS node, s AS lbl FROM und
        UNION
        SELECT u.d AS node, r.lbl FROM reach r JOIN und u ON u.s = r.node
    ),
    comp AS MATERIALIZED (
        SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
        FROM (SELECT doc_a AS node FROM e UNION ALL SELECT doc_b FROM e)
        GROUP BY node
    ),
    f AS MATERIALIZED (
        SELECT CASE WHEN (da.dg, e.doc_a) < (db.dg, e.doc_b)
                    THEN e.doc_a ELSE e.doc_b END AS u,
               CASE WHEN (da.dg, e.doc_a) < (db.dg, e.doc_b)
                    THEN e.doc_b ELSE e.doc_a END AS v
        FROM e
        JOIN deg da ON da.node = e.doc_a
        JOIN deg db ON db.node = e.doc_b
    ),
    tri AS (
        SELECT f1.u AS a
        FROM f f1
        JOIN f f2 ON f2.u = f1.u AND f2.v != f1.v
        JOIN f f3 ON f3.u = f1.v AND f3.v = f2.v
    ),
    tri_c AS (
        SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM tri t JOIN comp c ON c.node = t.a GROUP BY c.cluster_id
    ),
    edge_c AS (
        SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM e JOIN comp c ON c.node = e.doc_a GROUP BY c.cluster_id
    ),
    node_c AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comp GROUP BY cluster_id
    )
    SELECT n.cluster_id, n.n_members, ec.n_edges,
           COALESCE(tc.n_triangles, 0) AS n_triangles,
           (2000 * ec.n_edges) // (n.n_members * (n.n_members - 1))
               AS edge_density_milli,
           CASE WHEN n.n_members >= 3
                THEN (6000 * COALESCE(tc.n_triangles, 0))
                     // (n.n_members * (n.n_members - 1) * (n.n_members - 2))
                ELSE 0 END AS triangle_closure_milli
    FROM node_c n
    JOIN edge_c ec ON ec.cluster_id = n.cluster_id
    LEFT JOIN tri_c tc ON tc.cluster_id = n.cluster_id
    ORDER BY n.cluster_id
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_cluster_cliqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clique-ness audit of the near-dup clusters: per cluster, edge
    density and triangle closure over the verified pair graph.  A true
    duplicate group is a near-clique (every member similar to every
    other → density/closure ≈ 1000‰); a long CHAIN with few triangles is
    the signature of LSH transitive false-merging (A~B, B~C, A≁C) — the
    audit that tells you whether electing one keeper per component was
    safe, before deleting data at 100 TB.

    Triangles are counted with the degree-ordered orientation
    (compact-forward / Schank-Wagner): each edge points from its
    (degree, id)-smaller endpoint to the larger, making the orientation
    acyclic with out-fanout bounded by graph degeneracy — the wedge
    self-join's cost is Σ deg_fwd², not Σ deg², which is what makes
    triangle counting survive power-law graphs at scale.  Each triangle
    then closes at EXACTLY one wedge (its lowest vertex), so the count
    needs no dedup pass.  All joins are equi-joins on node ids; the
    pair graph is the (persisted) LSH output, shared with
    ``dedup_minhash_lsh``/``dedup_clusters``.

    (No reference analog — SURVEY §2B north-star dedup suite.)"""
    pairs = _verified_pairs(spark, sf_dir)
    e = pairs.select("doc_a", "doc_b")
    comp = _pair_components(spark, sf_dir)
    deg = (
        e.select(F.col("doc_a").alias("node"))
        .unionByName(e.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    keyed = (
        e.join(deg.select(F.col("node").alias("doc_a"), F.col("dg").alias("dg_a")), "doc_a")
        .join(deg.select(F.col("node").alias("doc_b"), F.col("dg").alias("dg_b")), "doc_b")
    )
    fwd = F.struct("dg_a", "doc_a") < F.struct("dg_b", "doc_b")
    # 3 consumers (two wedge sides + the closing-edge probe): cut the
    # lineage so the degree join runs once, not per consumer — the
    # oriented edge list is pairs-sized, tiny
    f = materialize(
        keyed.select(
            F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("u"),
            F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("v"),
        )
    )
    f1 = f.select(F.col("u"), F.col("v").alias("v1"))
    f2 = f.select(F.col("u"), F.col("v").alias("v2"))
    wedges = f1.join(f2, "u").where(F.col("v1") != F.col("v2"))
    tri = wedges.join(
        f.select(F.col("u").alias("v1"), F.col("v").alias("v2")), ["v1", "v2"]
    ).select(F.col("u").alias("node"))
    tri_c = tri.join(comp, "node").groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edge_c = (
        e.select(F.col("doc_a").alias("node"))
        .join(comp, "node")
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    node_c = comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        node_c.join(edge_c, "cluster_id")
        .join(tri_c, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            "n_edges",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr("(2000 * n_edges) div (n_members * (n_members - 1))").alias(
                "edge_density_milli"
            ),
            F.when(
                F.col("n_members") >= 3,
                F.expr(
                    "(6000 * coalesce(n_triangles, 0)) div "
                    "(n_members * (n_members - 1) * (n_members - 2))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("triangle_closure_milli"),
        )
        .orderBy("cluster_id")
    )


@register(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_LSH_CTES},
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION
        SELECT doc_b, doc_a FROM e
    ),
    reach AS (
        SELECT s AS node, s AS lbl FROM und
        UNION
        SELECT u.d AS node, r.lbl FROM reach r JOIN und u ON u.s = r.node
    ),
    comp AS MATERIALIZED (
        SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    grp AS (
        SELECT a.doc_id, COALESCE(c.cluster_id, a.doc_id) AS grp
        FROM aug a LEFT JOIN comp c ON c.node = a.doc_id
    ),
    sized AS (
        SELECT doc_id, grp,
               COUNT(*) OVER (PARTITION BY grp) AS grp_size
        FROM grp
    ),
    tagged AS (
        SELECT doc_id, grp, grp_size,
               CASE WHEN {duck_hash60("CAST(grp AS VARCHAR)")} % 100 < 80 THEN 'train'
                    WHEN {duck_hash60("CAST(grp AS VARCHAR)")} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM sized
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_members,
           {duck_fingerprint('doc_id')} AS doc_fingerprint
    FROM tagged
    GROUP BY split
    ORDER BY split
    """,
    tags=("llm", "dedup", "sampling"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware 80/10/10 train/val/test split: the split is hashed
    on the doc's DEDUP CLUSTER, not its doc_id, so every member of a
    near-dup cluster lands in the same split — otherwise a near-copy of
    a training document sits in the test set and eval leaks (the classic
    contamination path ``train_val_test_split`` cannot prevent, since it
    hashes doc_id).  Docs in no cluster form singleton groups keyed by
    their own id; assignment stays stable under corpus growth exactly
    like the plain split.

    Scale shape: CC labels are the (cached) star-forest fixpoint shared
    with ``dedup_clusters``; group-size is one window over the label;
    the split itself is a row-local hash — no shuffle beyond the label
    join.  Gated on per-split counts, group counts, duplicate-member
    counts, and exact doc_id membership fingerprints."""
    aug = augmented_docs(spark, sf_dir).select("doc_id")
    comp = _pair_components(spark, sf_dir).withColumnRenamed("node", "doc_id")
    grp = aug.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("grp")
    )
    sized = grp.withColumn(
        "grp_size", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    bucket = hash60(F.col("grp").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    ).alias("split")
    return (
        sized.select(split, "doc_id", "grp", "grp_size")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("grp").alias("n_groups"),
            F.sum(F.when(F.col("grp_size") > 1, 1).otherwise(0)).alias(
                "n_dup_members"
            ),
            fingerprint("doc_id").alias("doc_fingerprint"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# SimHash.
# ---------------------------------------------------------------------------

N_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    h AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '), w -> {duck_hash60("w")}) AS hs
        FROM aug
    )
    SELECT doc_id, {_SIMHASH_TERMS_SQL} AS simhash
    FROM h
    ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over the word multiset: bit j set iff the majority
    of word-hashes have bit j set (the ±1-sum ≥ 0 formulation).  Near-dup
    docs land at small Hamming distance."""
    aug = augmented_docs(spark, sf_dir)
    hs = F.transform(F.split(F.col("text"), " "), md5_60)
    d = aug.select("doc_id", hs.alias("hs"))

    def bit_pred(mask: int):
        # single-arg lambda: a second parameter would be bound to the
        # element INDEX by F.filter, not the closure variable
        return lambda x: x.bitwiseAND(F.lit(mask)) != 0

    simhash = None
    for j in range(N_SIMHASH_BITS):
        hits = F.size(F.filter(F.col("hs"), bit_pred(1 << j)))
        bit = F.when(2 * hits >= F.size("hs"), F.lit(1 << j)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return d.select("doc_id", simhash.cast("long").alias("simhash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard on a fixed pair set (the operator isolated from LSH).
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    sh AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug)
    ),
    pairs AS (
        SELECT d.doc_id AS doc_a, d.doc_id + 100000 AS doc_b FROM documents d WHERE d.doc_id % 10 = 0
        UNION ALL
        SELECT d.doc_id, d.doc_id + 1 FROM documents d WHERE d.doc_id % 10 = 0 AND d.doc_id + 1 IN (SELECT doc_id FROM documents)
    )
    SELECT p.doc_a, p.doc_b,
           (1000 * len(list_filter(a.sh, x -> list_contains(b.sh, x))))
             // (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard_milli
    FROM pairs p
    JOIN sh a ON a.doc_id = p.doc_a
    JOIN sh b ON b.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over a fixed candidate set: each planted
    near-dup pair (high similarity) plus an unrelated control pair (low) —
    the verification operator isolated from candidate generation."""
    docs = load(spark, sf_dir, "documents")
    # The fixed pair set only ever references doc_ids ≡ 0 (mod 10)
    # (doc_a and the +100000 planted partner) and ≡ 1 (mod 10) (the +1
    # control partner) — knowledge the optimizer cannot derive from the
    # join keys.  Prefiltering the corpus to those two residue classes
    # BEFORE shingling cuts the expensive higher-order 3-gram transform
    # to ~1/5 of the augmented corpus on BOTH join branches (r12, guide
    # §3.2's pre-filter idea applied with problem knowledge); the joins
    # then drop any surviving non-pair rows exactly as before.  (An
    # eager materialize of the filtered shingle table was probed and
    # rejected: the blocking checkpoint job serialized what are
    # otherwise two branches of one fully parallel job — slower locally,
    # and the branches' recompute is already 5× pre-filtered.)
    sh = (
        augmented_docs(spark, sf_dir)
        .where((F.col("doc_id") % 10).isin(0, 1))
        .select("doc_id", _shingles(F.split(F.col("text"), " ")).alias("sh"))
    )
    base = docs.where(F.col("doc_id") % 10 == 0).select("doc_id")
    planted = base.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 100000).alias("doc_b")
    )
    controls = (
        base.join(docs.select(F.col("doc_id").alias("doc_b")),
                  base.doc_id + 1 == F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
    )
    pairs = planted.unionByName(controls)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.floor(1000 * inter / uni).cast("long").alias("jaccard_milli"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Exact similarity self-join via prefix filtering (PPJoin-style).
# ---------------------------------------------------------------------------

# Jaccard threshold for the EXACT join, in milli-units — over distinct
# 5-gram sets, NOT the 3-shingles the LSH chain uses.  Prefix filtering
# prunes by shared set elements, so its candidate volume is driven by
# element collision rates: this corpus's small vocabulary makes 3-grams
# collide heavily (measured df≈10.7 → 640k candidates for 1.1k true
# pairs at sf0.1) while 5-grams are near-unique (31^5 space, the same
# property benchmark_decontamination exploits).  5-gram sets of the
# planted near-dups (every 7th word dropped) overlap ≈0.17-0.28, exact
# copies 1.0, unrelated docs ≈0 — τ=0.15 keeps both planted classes.
PFJ_TAU_MILLI = 150

# distinct 5-gram shingles (DuckDB list slices are inclusive)
_SHINGLES5_SQL = (
    "list_distinct(list_transform(range(1, GREATEST(len(w) - 4, 0) + 1), "
    "i -> array_to_string(w[i:i+4], ' ')))"
)


def _shingles5(words) -> F.Column:
    # Clamp the sequence end at 0 for docs of <5 words (matching the
    # oracle's GREATEST(len(w)-4, 0)); without the clamp sequence(1, n-4)
    # DESCENDS through 0 for short docs and slice(w, 0, 5) raises
    # INVALID_INDEX_OF_ZERO at runtime instead of yielding no shingles.
    return F.when(
        F.size(words) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 4),
                lambda i: F.concat_ws(" ", F.slice(words, i, 5)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    sh AS (
        SELECT doc_id, {_SHINGLES5_SQL} AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug)
        WHERE len({_SHINGLES5_SQL}) > 0
    ),
    tok AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    t1 AS (
        SELECT doc_id, s,
               CAST(COUNT(*) OVER (PARTITION BY s) AS BIGINT) AS df,
               CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS sz
        FROM tok
    ),
    t2 AS (
        SELECT doc_id, s, sz,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS rn
        FROM t1
    ),
    prefix AS (
        SELECT doc_id, s, sz FROM t2
        WHERE rn <= sz - (({PFJ_TAU_MILLI} * sz + 999) // 1000) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sz AS sz_a, b.sz AS sz_b
        FROM prefix a JOIN prefix b
          ON a.s = b.s AND a.doc_id < b.doc_id
        WHERE GREATEST(a.sz, b.sz) * {PFJ_TAU_MILLI} <= LEAST(a.sz, b.sz) * 1000
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter,
               c.sz_a + c.sz_b AS szs
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.doc_a
        JOIN tok tb ON tb.doc_id = c.doc_b AND tb.s = ta.s
        GROUP BY c.doc_a, c.doc_b, c.sz_a, c.sz_b
    )
    SELECT doc_a, doc_b, inter AS inter_shingles,
           szs - inter AS union_shingles,
           (1000 * inter) // (szs - inter) AS jaccard_milli
    FROM ver
    WHERE 1000 * inter >= {PFJ_TAU_MILLI} * (szs - inter)
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ τ similarity self-join via prefix filtering — the
    deterministic complement to ``dedup_minhash_lsh``: zero false
    negatives by construction (LSH trades recall for speed; legal or
    eval-set dedup often can't).

    The PPJoin family's prefix-filter principle (Xiao et al., WWW'08;
    also Chaudhuri et al.'s SSJoin): order every doc's shingles by
    ascending global document frequency (rarest first, shingle-string
    tie-break), and keep only the first ``|d| - ceil(τ·|d|) + 1`` as the
    doc's PREFIX.  Two sets with Jaccard ≥ τ MUST share at least one
    prefix shingle — so an equi-join on prefix shingles alone generates
    a complete candidate set.  A length filter (τ·max ≤ min) prunes
    further, then exact verification keeps true pairs only.

    Scale shape: candidate generation is an equi-join keyed by the
    RAREST shingles in the corpus (frequency ordering pushes boilerplate
    shingles out of every prefix), so join keys are low-fanout by
    construction — the inverse of the skew a naive token join has.
    Candidate generation is expressed over ONE exploded token table: df
    and set size are window counts (keyed s and doc_id), the prefix is
    a rank filter, candidates are the prefix self-join.  Verification
    (r09) joins the candidate pairs back to the CHECKPOINTED shingle
    arrays and counts |A ∩ B| with array_intersect: same bytes as the
    old double token-table re-join but ~sz× fewer shuffled rows, the
    intersect runs map-side once AQE broadcasts the candidate pairs,
    and per-doc arrays are bounded (document length) so one task always
    holds both sides of a pair; past broadcastability AQE falls back to
    a shuffled pair join — the correct plan at that volume.  Arrays are
    never a partitioning KEY anywhere.  Run exact dedup first at corpus
    scale:
    identical copies are the one structure that still makes a shared
    rare shingle high-fanout (C(n,2) on the copy cluster), and they are
    cheaper to remove with one hash-groupBy anyway.

    Set elements are 5-gram shingles: prefix filtering's candidate
    volume scales with element collision rates, and this corpus's 3-gram
    space collides heavily (small vocabulary) while its 5-gram space is
    near-unique — measured at sf0.1: 640k candidates/1.1k true pairs
    with 3-grams vs ~true-pairs-only (1155) with 5-grams.  Pick the
    n-gram order so elements are discriminative; the join shape is
    unchanged.

    (No reference analog — SURVEY §2B north-star dedup suite.)"""
    aug = augmented_docs(spark, sf_dir)
    # Materialize the ARRAY frame, then explode the stored column: the
    # barrier serves tok's three consumers (rarity ranking + both
    # verify sides) from ONE tokenization, and guards against
    # InferFiltersFromGenerate duplicating the shingle expression into
    # a pushed-down Filter on sessions where tune() hasn't excluded the
    # rule (see session.py).  _shingles5 is array_distinct, so
    # size(sh) == the oracle's per-doc COUNT(*).
    docs = materialize(
        aug.select(
            "doc_id", _shingles5(F.split(F.col("text"), " ")).alias("sh")
        ).select("doc_id", F.size("sh").alias("sz"), "sh")
    )
    tok = docs.select("doc_id", "sz", F.explode("sh").alias("s"))
    # df as a window count keyed by shingle (the oracle's own t1 shape):
    # under the AQE-only broadcast policy the old groupBy+join df table
    # cost a second full-token shuffle write before AQE could convert it
    # — the window computes df on the ONE token exchange the rarity
    # ranking needs anyway (r09, VERDICT r08 #2)
    t2 = tok.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
    )
    # prefix length |d| - ceil(τ|d|) + 1, integer ceil via (+999)//1000.
    # r12: MATERIALIZE the prefix table before the self-join.  The
    # self-join re-aliases its subtree, so without the barrier the whole
    # explode → window(df by s) → window(rn by doc_id) chain ran TWICE
    # (before-plan ops (6-18)+(19-31): four full token-table exchanges,
    # four sorts).  The prefix is ~|d|−ceil(τ|d|)+1 ≈ 0.2× of the token
    # table — checkpointing it costs one small write and halves the
    # expensive chain: 2 exchanges + 2 sorts on the full token table.
    # Candidate generation only needs a COMPLETE candidate set (exact
    # verification filters below), so the barrier cannot change results.
    prefix = materialize(
        t2.where(
            F.col("rn")
            <= F.col("sz") - F.expr(f"({PFJ_TAU_MILLI} * sz + 999) div 1000") + 1
        ).select("doc_id", "s", "sz")
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), "s", F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "s", F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.greatest("sz_a", "sz_b") * PFJ_TAU_MILLI
            <= F.least("sz_a", "sz_b") * 1000
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
    )
    # exact verification on the checkpointed arrays (sets by
    # construction): |A ∩ B| via array_intersect — same bytes as the
    # old double token-table re-join but ~sz× fewer shuffled rows, and
    # the intersect runs map-side once AQE broadcasts the candidates
    aa = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    bb = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    ver = (
        aa.join(cand, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
        .withColumn("szs", F.col("sz_a") + F.col("sz_b"))
    )
    return (
        ver.where(
            1000 * F.col("inter") >= PFJ_TAU_MILLI * (F.col("szs") - F.col("inter"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").alias("inter_shingles"),
            (F.col("szs") - F.col("inter")).alias("union_shingles"),
            F.expr("(1000 * inter) div (szs - inter)").alias("jaccard_milli"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against a held-out set).
# ---------------------------------------------------------------------------

# A training doc sharing this many distinct 5-grams with a benchmark doc
# is contaminated.  Natural collision odds on this corpus: ~52 5-grams
# per doc from a 31^5 space, ≈1e-4 shared-gram probability per pair —
# the planted exact copies share ~all and near-dups ~2/7 of them.
DECONTAM_MIN_SHARED = 5


@register(
    "benchmark_decontamination",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, GREATEST(len(w) - 4, 0) + 1),
                   i -> array_to_string(w[i:i+4], ' ')))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug)
    ),
    b AS (SELECT doc_id AS bench_doc, shingle FROM sh
          WHERE doc_id % 25 = 0 AND doc_id < 100000),
    t AS (SELECT doc_id AS train_doc, shingle FROM sh
          WHERE NOT (doc_id % 25 = 0 AND doc_id < 100000))
    SELECT train_doc, bench_doc, CAST(COUNT(*) AS BIGINT) AS n_shared_5grams
    FROM t JOIN b USING (shingle)
    GROUP BY 1, 2
    HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
    ORDER BY 1, 2
    """,
    tags=("llm", "dedup", "decontamination"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination: flag training documents sharing
    ≥5 distinct 5-grams with any benchmark document
    — the standard eval-leak gate before pre-training.  The benchmark
    set is the original docs with doc_id % 25 == 0; the augmented corpus
    plants their exact copies (+200000) and near-dup copies (+100000 for
    doc_id % 50 == 0) in the training side, which is exactly the
    contamination the operator must surface.

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval sets vs 100 TB), so its exploded distinct shingles BROADCAST
    to every executor — the corpus-side shingles never shuffle; the only
    exchange is the final aggregate on flagged (train, bench) pairs,
    which is collision-sized, not corpus-sized."""
    aug = augmented_docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    sh5 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 4, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, 5)),
        )
    )
    sh = aug.select("doc_id", F.explode(sh5).alias("shingle"))
    is_bench = (F.col("doc_id") % 25 == 0) & (F.col("doc_id") < 100000)
    bench = sh.where(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    train = sh.where(~is_bench).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("n_shared_5grams"))
        .where(F.col("n_shared_5grams") >= DECONTAM_MIN_SHARED)
        .orderBy("train_doc", "bench_doc")
    )


# ---------------------------------------------------------------------------
# Incremental dedup against corpus history via a deterministic Bloom filter.
# ---------------------------------------------------------------------------

# 62 usable bits per word (bit 63 would overflow a signed shift in either
# engine); 1024 words ≈ 63k bits → with k=3 hashes the FP rate is ~1% at
# sf0.1's history size, so the gate exercises true negatives, true dups,
# AND bloom false positives — all resolved identically on both engines
# because the sketch is bit-identical.
BLOOM_WORD_BITS = 62
BLOOM_WORDS = 1024
BLOOM_BITS = BLOOM_WORD_BITS * BLOOM_WORDS
BLOOM_K = 3
_BLOOM_KS_SQL = ", ".join(str(i) for i in range(BLOOM_K))


@register(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    hist AS (SELECT DISTINCT md5(text) AS k FROM aug WHERE doc_id < 100000),
    inc AS (SELECT doc_id, md5(text) AS k FROM aug WHERE doc_id >= 100000),
    hbits AS (
        SELECT ({duck_hash60("concat_ws(chr(124), i, k)")} % {BLOOM_BITS}) AS b
        FROM (SELECT k, unnest([{_BLOOM_KS_SQL}]) AS i FROM hist)
    ),
    bloom AS (
        SELECT b // {BLOOM_WORD_BITS} AS word,
               bit_or(1::BIGINT << CAST(b % {BLOOM_WORD_BITS} AS INTEGER)) AS bm
        FROM hbits GROUP BY 1
    ),
    ibits AS (
        SELECT doc_id, k,
               ({duck_hash60("concat_ws(chr(124), i, k)")} % {BLOOM_BITS}) AS b
        FROM (SELECT doc_id, k, unnest([{_BLOOM_KS_SQL}]) AS i FROM inc)
    ),
    pj AS (
        SELECT doc_id, k,
               bool_and((COALESCE(bm, 0) &
                         (1::BIGINT << CAST(b % {BLOOM_WORD_BITS} AS INTEGER))) != 0)
                   AS bloom_candidate
        FROM ibits LEFT JOIN bloom ON bloom.word = b // {BLOOM_WORD_BITS}
        GROUP BY doc_id, k
    )
    SELECT p.doc_id, p.bloom_candidate,
           CASE WHEN NOT p.bloom_candidate THEN 'new'
                WHEN h.k IS NOT NULL THEN 'dup'
                ELSE 'bloom_fp' END AS verdict
    FROM pj p LEFT JOIN hist h ON p.bloom_candidate AND h.k = p.k
    ORDER BY p.doc_id
    """,
    tags=("llm", "dedup", "sketch", "incremental"),
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup of an incoming batch against corpus
    HISTORY without anti-joining the history: build a deterministic
    Bloom filter (k=3 md5-derived hashes, 1024×62-bit words) over the
    history's content keys, broadcast it (8 KB regardless of history
    size), and run the exact membership join ONLY for the bloom's
    candidate docs — at 100 TB the anti-join against all prior data
    becomes a map-side bitmask probe plus an exact check of the tiny
    candidate set.  History = the original docs, incoming = the planted
    +100000/+200000 variants; verdicts distinguish true dups from bloom
    false positives, and the gate pins the exact FP set (the sketch is
    bit-identical in both engines)."""
    aug = augmented_docs(spark, sf_dir)
    key = F.md5("text")
    # r12: hist feeds BOTH the bloom build and the exact-membership
    # `seen` side; un-materialized, the scan + md5 + distinct exchange
    # ran twice (the self-referencing subtree is re-aliased, no reuse).
    # The checkpoint is tiny (one 32-char key per distinct history doc).
    hist = materialize(
        aug.where(F.col("doc_id") < 100000).select(key.alias("k")).distinct()
    )
    inc = aug.where(F.col("doc_id") >= 100000).select("doc_id", key.alias("k"))

    ks = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("i")

    def bits(df):
        return df.select(*df.columns, ks).withColumn(
            "b", md5_60(F.concat_ws("|", F.col("i"), F.col("k"))) % BLOOM_BITS
        )

    bloom = (
        bits(hist)
        .select(
            (F.col("b") / BLOOM_WORD_BITS).cast("long").alias("word"),
            F.expr(f"shiftleft(1L, CAST(b % {BLOOM_WORD_BITS} AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bm"))
    )
    probed = (
        bits(inc)
        .withColumn("word", (F.col("b") / BLOOM_WORD_BITS).cast("long"))
        .withColumn("m", F.expr(f"shiftleft(1L, CAST(b % {BLOOM_WORD_BITS} AS INT))"))
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("doc_id", "k")
        .agg(
            F.bool_and(
                F.coalesce(F.col("bm"), F.lit(0)).bitwiseAND(F.col("m")) != 0
            ).alias("bloom_candidate")
        )
    )
    # ONE conditional left join resolves every row (r12): the oracle's
    # own `LEFT JOIN hist ON p.bloom_candidate AND h.k = p.k` — the
    # bloom_candidate guard keeps non-candidates out of the probe, so
    # the exact membership check still runs only for the candidate
    # subset, but `probed` (and the whole bits-explode + broadcast
    # probe chain above it) is consumed ONCE instead of being
    # re-evaluated for each union branch.
    seen = hist.withColumn("seen", F.lit(True))
    return (
        probed.join(
            seen,
            F.col("bloom_candidate") & (probed["k"] == seen["k"]),
            "left",
        )
        .select(
            probed["doc_id"],
            probed["bloom_candidate"],
            F.when(~F.col("bloom_candidate"), F.lit("new"))
            .when(F.col("seen"), F.lit("dup"))
            .otherwise(F.lit("bloom_fp"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Substring-level duplicate spans (suffix-array-style dedup, approximated
# with a stride-1 token n-gram rolling fingerprint — Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better").
# ---------------------------------------------------------------------------

SPAN_WINDOW = 8  # tokens per fingerprinted window (the min duplicated run)


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
    wins AS (
        SELECT doc_id, unnest(range(0, len(w) - {SPAN_WINDOW} + 1)) AS pos, w
        FROM toks WHERE len(w) >= {SPAN_WINDOW}
    ),
    fps AS (
        SELECT doc_id, pos,
               ('0x' || substring(md5(array_to_string(
                   w[pos + 1 : pos + {SPAN_WINDOW}], ' ')), 1, 15))::BIGINT AS fp
        FROM wins
    ),
    dupw AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS cnt FROM fps
        ) WHERE cnt >= 2
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dupw
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SPAN_WINDOW} - 1 AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {SPAN_WINDOW} AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, span_start
    """,
    tags=("dedup", "llm-pipeline", "substring"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated SUBSTRING spans: maximal runs of tokens whose every
    {SPAN_WINDOW}-token window also occurs elsewhere in the corpus (same
    or another document).  Document-level dedup keeps both halves of a
    mostly-different pair that shares a long quoted passage; substring
    dedup is how a pre-training pipeline excises the shared passage
    itself.  The exact method (suffix arrays, Lee et al.) is sequential;
    the distributed formulation is the standard stride-1 rolling n-gram
    fingerprint: a window is "duplicated" iff its fingerprint occurs >= 2
    times corpus-wide, and overlapping/adjacent duplicated windows merge
    into maximal spans (gaps-and-islands per document).

    Scale shape: tokenize is row-local; window fingerprints explode to
    ~1 row per corpus token carrying only (doc_id, pos, fp) — the token
    arrays themselves never shuffle.  Count-per-fp is one exchange keyed
    by the 60-bit fingerprint (uniform by construction, no skew), the
    island merge is one exchange keyed by doc_id, and both engines agree
    bit-for-bit because every quantity is an integer position or count.
    At 100 TB the fp exchange dominates; it is the same volume as the
    MinHash shingle pass and partial-aggregates map-side."""
    d = augmented_docs(spark, sf_dir)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(
        F.size("w") >= SPAN_WINDOW
    )
    # fingerprint windows inside the array world, then explode only
    # (pos, fp) — the token array stays behind in the scan stage
    fps = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - SPAN_WINDOW),
                lambda p: md5_60(
                    F.concat_ws(" ", F.slice(F.col("w"), p + 1, SPAN_WINDOW))
                ),
            )
        ).alias("pos", "fp"),
    )
    dupw = (
        fps.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("cnt") >= 2)
        .select("doc_id", F.col("pos").cast("long").alias("pos"))
    )
    isl = dupw.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SPAN_WINDOW - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(SPAN_WINDOW)).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens", "n_windows"
        )
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy (edit-distance) self-join — record-linkage canonical op.
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 3  # Levenshtein threshold for a candidate match


@register(
    "fuzzy_edit_distance_join",
    oracle=f"""
    WITH names AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    ),
    keys AS (
        SELECT p_name, n_parts,
               unnest([string_split(p_name, ' ')[1],
                       string_split(p_name, ' ')[-1]]) AS blk
        FROM names
    ),
    cand AS (
        SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b,
               a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
        FROM keys a JOIN keys b
          ON a.blk = b.blk AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist,
           n_parts_a, n_parts_b
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
    ORDER BY name_a, name_b
    """,
    tags=("dedup", "fuzzy", "record-linkage", "blocking"),
)
def fuzzy_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join over part names: candidate pairs come
    from MULTI-KEY equi-join blocking (first token OR last token — a
    pair is a candidate if it shares either), then exact Levenshtein
    verification at the threshold.  This is the standard record-linkage
    / entity-resolution shape: blocking turns the O(n²) all-pairs
    distance join into equi-joins on cheap keys, verification keeps
    only true near-matches.  Multi-key blocking is a recall/cost dial —
    on this corpus the two keys recover 96/96 of the unblocked lev≤3
    pairs (every near-pair shares one of its two tokens); pairs sharing
    neither token are by construction ≥ the combined token distance
    apart, and domains needing guaranteed recall at higher thresholds
    add segment keys (PassJoin pigeonhole) to the same union shape.

    Scale shape: names are first DISTINCT-collapsed with their
    multiplicity (vocabulary-sized — the fuzzy join runs on the name
    dictionary, never on the row stream), each name emits ≤2 blocking
    keys, and the self-join keys on the block token — the classic
    skew-bounded blocking join.  Levenshtein runs only on candidates
    inside a block (JVM built-in, codegen), and the DISTINCT dedups
    pairs that matched under both keys before verification."""
    p = load(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    keys = names.select(
        "p_name",
        "n_parts",
        F.explode(
            F.array(
                F.split(F.col("p_name"), " ").getItem(0),
                F.element_at(F.split(F.col("p_name"), " "), -1),
            )
        ).alias("blk"),
    )
    a = keys.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = keys.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    cand = (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_parts_a", "n_parts_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.where(dist <= FUZZY_MAX_DIST)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


@register(
    "dedup_canonical_representatives",
    oracle=f"""
    WITH RECURSIVE {_LSH_CTES},
    e AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs),
    und AS (
        SELECT doc_a AS s, doc_b AS d FROM e
        UNION
        SELECT doc_b, doc_a FROM e
    ),
    reach AS (
        SELECT s AS node, s AS lbl FROM und
        UNION
        SELECT u.d AS node, r.lbl FROM reach r JOIN und u ON u.s = r.node
    ),
    comp AS MATERIALIZED (
        SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    augb AS ({AUG_BASE_SQL}),
    members AS (
        SELECT c.cluster_id, c.node,
               CAST(substring(d.source, 4) AS BIGINT) AS src_rank,
               length(a.text) AS n_chars
        FROM comp c
        JOIN augb a ON a.doc_id = c.node
        JOIN documents d ON d.doc_id = a.base_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY cluster_id
            ORDER BY src_rank, n_chars DESC, node
        ) AS rn
        FROM members
    )
    SELECT cluster_id,
           node AS keeper,
           CAST(src_rank AS BIGINT) AS keeper_src_rank,
           CAST(n_chars AS BIGINT) AS keeper_n_chars,
           CAST((SELECT COUNT(*) FROM members m
                 WHERE m.cluster_id = ranked.cluster_id) - 1 AS BIGINT)
             AS n_dropped
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
    tags=("llm", "dedup", "curation", "beyond-reference"),
)
def dedup_canonical_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven canonical election: within every near-dup cluster
    keep ONE document by (source priority, longer text, smaller id) —
    the curation decision real pipelines make instead of blind keep-min
    (a Wikipedia duplicate should beat its forum mirror regardless of
    which id is smaller).  Source rank here is the numeric suffix of
    ``source`` (src0 outranks src19) — a deployment swaps in its tier
    table.

    Scale shape: the cluster labels come from the maintained dedup
    ARTIFACT (parquet read, no LSH recomputation); the election is ONE
    struct-min aggregate per cluster — min of (rank, -len, id) structs
    is the lexicographic argmin, so no per-cluster window or sort of
    the full membership is needed (the same agg-not-window rule as
    top_customers)."""
    comp = _pair_components(spark, sf_dir)
    aug = augmented_docs_with_base(spark, sf_dir).select(
        "doc_id", F.length("text").alias("n_chars"), "base_id"
    )
    src = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base_id"),
        F.expr("CAST(substring(source, 4) AS BIGINT)").alias("src_rank"),
    )
    members = (
        comp.withColumnRenamed("component", "cluster_id")
        .join(aug, comp.node == aug.doc_id)
        .join(src, "base_id")
    )
    from ..operators.graph import elect_representatives

    return elect_representatives(members).orderBy("cluster_id")
