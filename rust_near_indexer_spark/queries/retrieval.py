"""Lexical retrieval over ``documents``: BM25-style ranked search.

North-star §LLM: retrieval is the data-curation primitive behind
query-by-example corpus mining, contamination attribution ("which
training docs could have leaked this benchmark item"), and
RAG-candidate generation.  This module implements query-by-document
retrieval: every probe document (``doc_id % QUERY_MOD == 0``) ranks the
rest of the corpus by a BM25-shaped score over shared bigram terms.

Determinism contract: classic BM25 needs ``ln`` and float division —
neither is bit-portable across engines (libm vs JVM last-ulp
divergence).  Both factors are therefore replaced by exact integer
rationals, preserving the *shape* (rare terms weigh more, term
frequency saturates, long documents are penalized):

- idf: the log-free rational surrogate ``(2(N−df)+1)·1000 // (2df+1)``
  — the exact argument of Robertson's log-idf, in milli-units;
- tf saturation (k1=6/5, b=3/4): multiply numerator and denominator by
  ``10·avgdl`` to clear fractions →
  ``tf·22·avgdl // (10·avgdl·tf + 3·avgdl + 9·dl)`` (per-term, milli
  after the idf product).

All BIGINT; both engines compute identical scores.  (Being a monotone
per-term transform of BM25's idf argument rather than its log, rankings
can differ from textbook BM25 where extreme df ratios meet — documented
trade-off for a bit-exact cross-engine gate.)  Terms present in more
than half the corpus are elided at index time (classic stopword
dropping): they carry ≤500 milli of idf each but dominate posting-join
fanout; ``n_shared_terms`` therefore counts shared NON-stop terms.

Scale posture: one explode → two map-combined aggregates (tf, df) — the
tfidf_top_terms shape — then the probe side (1/QUERY_MOD of the corpus)
broadcasts onto the posting join keyed by term; per-probe top-k rides
WindowGroupLimit.  At 100 TB the posting join is the standard
shard-by-term inverted-index layout (term_posting_lists writes exactly
that), and df for corpus-wide stop terms costs one long per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import materialize
from ..tables import load, spread
from . import register
from .text import _bigram_terms

QUERY_MOD = 100  # doc_id % 100 == 0 are the probe candidates
BM25_TOP_K = 10
# The REGISTERED query probes a FIXED budget of query docs (the
# BM25_PROBES smallest probe-candidate ids), not a corpus fraction: a
# fraction makes the query's own workload quadratic in corpus size
# (probes x postings both grow), which is a property of the
# parameterization, not the engine — the fixed-budget form is how a
# production retrieval eval is actually sized, and it keeps the scale
# decade table clean (VERDICT r07 #3).  The fraction form stays
# registered as bm25_fraction_probes_control for the scaling study.
BM25_PROBES = 50

_TERMS_CTE = """
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    terms AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                      i -> array_to_string(w[i:i+1], ' '))) AS term
        FROM d
    ),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)
"""


def _bm25_oracle(probe_cte: str) -> str:
    return f"""
    WITH {_TERMS_CTE},
    probes AS ({probe_cte}),
    qterms AS (
        SELECT t.doc_id AS query_doc, t.term FROM tf t
        JOIN probes p ON p.doc_id = t.doc_id
    ),
    scored AS (
        SELECT q.query_doc, t.doc_id,
               CAST(SUM(
                   (((CAST(s.n_docs AS BIGINT) - f.df) * 2 + 1) * 1000 // (f.df * 2 + 1))
                   * (t.tf * 22 * s.avgdl)
                   // (10 * s.avgdl * t.tf + 3 * s.avgdl + 9 * l.dl)
               ) AS BIGINT) AS score_milli,
               CAST(COUNT(*) AS BIGINT) AS n_shared_terms
        FROM qterms q
        JOIN df f ON f.term = q.term
        CROSS JOIN stats s
        JOIN tf t ON t.term = q.term AND t.doc_id != q.query_doc
        JOIN dl l ON l.doc_id = t.doc_id
        WHERE f.df * 2 <= s.n_docs
        GROUP BY q.query_doc, t.doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_doc
                                     ORDER BY score_milli DESC, doc_id) AS rank
        FROM scored
    )
    SELECT query_doc, rank, doc_id, score_milli, n_shared_terms
    FROM ranked WHERE rank <= {BM25_TOP_K}
    ORDER BY query_doc, rank
    """


_FIXED_PROBE_CTE = f"""
        SELECT doc_id FROM documents WHERE doc_id % {QUERY_MOD} = 0
        ORDER BY doc_id LIMIT {BM25_PROBES}
"""
_FRACTION_PROBE_CTE = f"SELECT doc_id FROM documents WHERE doc_id % {QUERY_MOD} = 0"


def _bm25_plan(
    spark: SparkSession, sf_dir: str, fixed_probes: int | None
) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    w = F.split(F.col("text"), " ")
    toks = d.select(
        "doc_id", F.size(w).alias("dl"), F.explode(_bigram_terms(w)).alias("term")
    )
    # tf feeds three consumers (postings, df, probe terms): materialize
    # the explode+aggregate once instead of re-running it per branch
    # (the un-materialized plan benched 3x slower at sf0.1)
    tf = materialize(toks.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # stats and probe ids read the RAW scan, not the spread() frame: the
    # r12 before-plan showed spread's repartition exchange shuffling the
    # full text bytes just to compute one (count, avgdl) pair and a list
    # of probe ids — both are scan-projectable (guide §2.3: project
    # before the exchange; §2.4: remove shuffles outright)
    raw = load(spark, sf_dir, "documents")
    w_raw = F.split(F.col("text"), " ")
    dl = raw.select(F.size(w_raw).cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.expr("sum(dl) div count(*)").alias("avgdl")
    )
    probe_ids = raw.where(F.col("doc_id") % QUERY_MOD == 0).select("doc_id")
    if fixed_probes is not None:
        # deterministic fixed budget: the N smallest candidate ids
        # (TakeOrderedAndProject over a tiny id column, then broadcast)
        probe_ids = probe_ids.orderBy("doc_id").limit(fixed_probes)
    qterms = tf.join(F.broadcast(probe_ids), "doc_id").select(
        F.col("doc_id").alias("query_doc"), "term"
    )
    scored = (
        # stop-term elision (index-time stopword dropping, the standard
        # inverted-index practice): a term in more than half the corpus
        # carries <=500 milli of idf but the worst posting-join fanout —
        # prune it BEFORE the posting join, identically on both engines.
        # The composed (qterms x df x stats) relation is probe-sized, so
        # broadcast it INTO the posting join (r12): without the hint the
        # planner ran a SortMergeJoin that exchanged + sorted the whole
        # checkpointed tf by term (guide §3.1 — the big side of a
        # broadcast join is not shuffled at all).
        F.broadcast(
            F.broadcast(qterms)
            .join(df_, "term")
            .crossJoin(F.broadcast(stats))
            .where(F.col("df") * 2 <= F.col("n_docs"))
        )
        .join(tf, "term")
        .where(F.col("doc_id") != F.col("query_doc"))
        .groupBy("query_doc", "doc_id")
        .agg(
            F.sum(
                F.expr(
                    "((n_docs - df) * 2 + 1) * 1000 div (df * 2 + 1)"
                    " * (tf * 22 * avgdl)"
                    " div (10 * avgdl * tf + 3 * avgdl + 9 * dl)"
                )
            )
            .cast("long")
            .alias("score_milli"),
            F.count("*").alias("n_shared_terms"),
        )
    )
    rk = Window.partitionBy("query_doc").orderBy(F.desc("score_milli"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= BM25_TOP_K)
        .select("query_doc", "rank", "doc_id", "score_milli", "n_shared_terms")
        .orderBy("query_doc", "rank")
    )


@register(
    "bm25_topk_retrieval",
    oracle=_bm25_oracle(_FIXED_PROBE_CTE),
    tags=("llm", "text", "retrieval", "beyond-reference"),
)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-document BM25 top-{BM25_TOP_K} with a FIXED probe budget
    (the {BM25_PROBES} smallest probe-candidate ids): each probe doc
    ranks the corpus by the integer BM25 surrogate over shared bigram
    terms (module docstring has the exact formula and its determinism
    rationale; the BM25_PROBES comment has the scale rationale for the
    fixed budget)."""
    return _bm25_plan(spark, sf_dir, fixed_probes=BM25_PROBES)


@register(
    "bm25_fraction_probes_control",
    oracle=_bm25_oracle(_FRACTION_PROBE_CTE),
    tags=("llm", "text", "retrieval", "beyond-reference", "scaling-control"),
)
def bm25_fraction_probes_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probes-as-corpus-fraction BM25 form (1/{QUERY_MOD} of the
    corpus probes), kept registered as the SCALING CONTROL: its term-join
    pair space grows quadratically with the corpus by construction
    (probes x postings), which the sf1 decade study uses to separate
    workload growth from engine behavior (SCALING.md adjudication —
    per-pair cost must FALL as the pair space grows)."""
    return _bm25_plan(spark, sf_dir, fixed_probes=None)


# ---------------------------------------------------------------------------
# Boolean conjunctive retrieval — posting-list intersection (AND query).
# ---------------------------------------------------------------------------

AND_TERMS = ("merge", "spark", "vector")  # conjunctive query terms


@register(
    "boolean_and_retrieval",
    oracle=f"""
    WITH hits AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
        WHERE tok IN {AND_TERMS!r}
        GROUP BY doc_id, tok
    )
    SELECT h.doc_id,
           CAST(sum(h.tf) AS BIGINT) AS total_tf,
           d.lang, d.source
    FROM hits h JOIN documents d USING (doc_id)
    GROUP BY h.doc_id, d.lang, d.source
    HAVING count(*) = {len(AND_TERMS)}
    ORDER BY h.doc_id
    """,
    tags=("retrieval", "llm-pipeline", "boolean", "inverted-index"),
)
def boolean_and_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive boolean retrieval: documents containing ALL query
    terms, via posting-list intersection expressed as group-count — a
    doc qualifies iff its distinct matched-term count equals the query
    length.  The classic AND-query over the inverted index that
    term_posting_lists materializes.

    Scale shape: the term filter runs at the scan (predicate on the
    exploded token — rows for non-query terms never leave the map
    side), the (doc_id, term) agg is map-combined, and the intersection
    is a count comparison — no N-way self-join of posting lists, which
    is the naive shape that dies at 100 TB.  The doc-metadata join
    keys on doc_id AFTER the selective filter, so the joined side is
    tiny; Spark broadcasts it under AQE."""
    d = load(spark, sf_dir, "documents")
    hits = (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .where(F.col("tok").isin(*AND_TERMS))
        .groupBy("doc_id", "tok", "lang", "source")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        hits.groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .where(F.col("n_terms") == len(AND_TERMS))
        .select("doc_id", "total_tf", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Positional phrase retrieval (exact n-word phrase over positional postings).
# ---------------------------------------------------------------------------

PHRASE = ("big", "order", "scan")  # ~9 hits at sf0.001, scales with corpus


@register(
    "phrase_retrieval",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             unnest(range(1, len(w) + 1)) AS u(i)
        WHERE w[i] IN ('{PHRASE[0]}', '{PHRASE[1]}', '{PHRASE[2]}')
    ),
    m AS (
        SELECT t0.doc_id, t0.pos
        FROM tok t0
        JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
                   AND t1.term = '{PHRASE[1]}'
        JOIN tok t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
                   AND t2.term = '{PHRASE[2]}'
        WHERE t0.term = '{PHRASE[0]}'
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("retrieval", "phrase", "positional-index", "beyond-reference"),
)
def phrase_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query over POSITIONAL postings: documents containing
    the contiguous 3-word query phrase, with match count and first position —
    the inverted-index primitive behind quoted-phrase search and
    benchmark-contamination span checks (dedup_substring_spans' cousin
    on the retrieval side).

    Scale shape: the term predicate runs at the scan, so only postings
    of the 3 query terms survive the explode (corpus rows for other
    terms never leave the map side).  The phrase check is the
    positional self-join — (doc, pos+1), (doc, pos+2) equi-joins on the
    FILTERED postings, which are query-selectivity-sized, not
    corpus-sized; the final count is map-combined per doc.  This is the
    standard positional-intersection plan every search engine runs, and
    the join inputs stay tiny precisely because the filter is pushed to
    the scan (plan-pinned)."""
    d = load(spark, sf_dir, "documents")
    # materialized once: the three positional branches would otherwise
    # each re-scan + re-explode the corpus (the t0/t1/t2 consumers make
    # Catalyst re-derive the filtered postings per branch)
    tok = materialize(
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "term"),
        )
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "term")
        .where(F.col("term").isin(*PHRASE))
    )
    t0 = tok.where(F.col("term") == PHRASE[0]).select("doc_id", "pos")
    t1 = tok.where(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    t2 = tok.where(F.col("term") == PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    m = t0.join(t1, ["doc_id", "pos"]).join(t2, ["doc_id", "pos"])
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )

