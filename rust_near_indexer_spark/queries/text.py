"""Text-analysis operators over the ``documents`` table (north-star §LLM).

Large-scale training-data pipeline primitives: token counting
(whitespace + BPE-ish regex), language-ID heuristic, quality scoring,
and document fingerprinting — all pure ``pyspark.sql.functions``
(higher-order array functions; zero Python UDFs), each hash-matched
against a DuckDB oracle implementing the same semantics.

Determinism: ratios/scores live in integer milli-units; fingerprints use
the cross-engine md5-based hash60 (canonical.py).

Scale posture: every query is scan→project→(small) aggregate — no
shuffle except the final groupBy on low-cardinality keys; at 100 TB these
run as embarrassingly parallel scans with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import materialize
from ..canonical import duck_fingerprint, duck_hash60, fingerprint, md5_60
from ..tables import load, spread
from . import register
from .dedup import AUG_SQL

# Frequent tokens of the synthetic corpus's "English" register; the
# heuristic generalizes to real stopword lists unchanged.
MARKER_WORDS = ("the", "and", "of", "table", "row", "query", "data", "join", "scan", "value")
_MARKERS_SQL = "('" + "', '".join(MARKER_WORDS) + "')"

# BPE-ish pre-tokenizer: word pieces or single non-space punctuation.
TOKEN_RE = r"\w+|[^\w\s]"


def _words(col):
    return F.split(col, " ")


_MARKER_VALUES_SQL = ", ".join(f"('{w}', 'marker')" for w in MARKER_WORDS)


@register(
    "token_frequencies_salted",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    agg AS (
        SELECT t.token, COALESCE(d.token_class, 'other') AS token_class,
               CAST(count(*) AS BIGINT) AS n
        FROM toks t
        LEFT JOIN (SELECT * FROM (VALUES {_MARKER_VALUES_SQL}) v(token, token_class)) d
               ON d.token = t.token
        WHERE t.token != ''
        GROUP BY 1, 2
    )
    SELECT token, token_class, n FROM agg
    ORDER BY n DESC, token
    LIMIT 20
    """,
    tags=("llm", "text", "skew"),
)
def token_frequencies_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token frequencies through a skew-resilient salted join.

    Exploded tokens are Zipf-distributed — the hottest token appears in
    nearly every document, the exact single-hot-key shape that breaks an
    unsalted shuffle join at corpus scale.  r12: the skew now dies one
    operator earlier — the per-token count is aggregated FIRST (partial
    aggregation collapses every hot key to one row per map partition
    before the exchange, guide §2.3 "aggregate before you shuffle" /
    the two-level-aggregation skew fix), and the 10-row marker dim
    broadcasts onto the token-level counts.  The before-plan showed the
    previous ``salted_join`` formulation shuffling EVERY exploded token
    through a SortMergeJoin against the 80-row replicated dim;
    ``operators.skew.salted_join`` remains the right tool when a skewed
    join cannot be pre-aggregated and its dim cannot broadcast
    (tests/test_skew.py keeps it pinned result-identical).  The result
    is provably identical (the oracle runs the plain-join SQL)."""
    toks = (
        spread(load(spark, sf_dir, "documents"), "doc_id")
        .select(F.explode(_words(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
    )
    dim = spark.createDataFrame(
        [(w, "marker") for w in MARKER_WORDS], "token string, token_class string"
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    return (
        counts.join(F.broadcast(dim), "token", "left")
        .select(
            "token",
            F.coalesce("token_class", F.lit("other")).alias("token_class"),
            "n",
        )
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@register(
    "text_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           ROUND(SUM(length(text)) / (SUM(len(string_split(text, ' '))) * 1.0), 4) AS chars_per_token
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + BPE-ish regex tokens
    (regexp_extract_all stays inside whole-stage codegen)."""
    d = load(spark, sf_dir, "documents")
    ws_tokens = F.size(_words(F.col("text")))
    bpe_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0)))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ws_tokens).alias("total_tokens"),
            F.sum(bpe_tokens).alias("total_bpe_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
            F.max(ws_tokens).alias("max_tokens"),
            F.round(
                F.sum(F.length("text")) / (F.sum(ws_tokens) * F.lit(1.0)), 4
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKERS_SQL})) AS marker_hits,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT lang,
           CASE WHEN marker_hits * 1000 >= n_tokens * 30 THEN 'en' ELSE 'other' END AS predicted,
           COUNT(*) AS n_docs,
           CAST(SUM(marker_hits) AS BIGINT) AS total_marker_hits
    FROM scored
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("llm", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker-word language-ID heuristic → confusion matrix against
    the labeled ``lang`` column.  Threshold in integer milli-units
    (hits/token ≥ 3%)."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    hits = F.size(F.filter(words, lambda w: w.isin(*MARKER_WORDS)))
    n_tokens = F.size(words)
    scored = d.select(
        "lang",
        hits.alias("marker_hits"),
        n_tokens.alias("n_tokens"),
    )
    predicted = F.when(
        F.col("marker_hits") * 1000 >= F.col("n_tokens") * 30, F.lit("en")
    ).otherwise(F.lit("other"))
    return (
        scored.groupBy("lang", predicted.alias("predicted"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("marker_hits").alias("total_marker_hits"),
        )
        .orderBy("lang", "predicted")
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS n_chars,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKERS_SQL})) AS marker_hits,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           LEAST(500, n_tokens) + LEAST(300, marker_hits * 25)
             - LEAST(200, (n_punct * 1000) // GREATEST(n_tokens, 1)) AS score_milli,
           CASE WHEN LEAST(500, n_tokens) + LEAST(300, marker_hits * 25)
                     - LEAST(200, (n_punct * 1000) // GREATEST(n_tokens, 1)) >= 400
                THEN 'keep' ELSE 'filter' END AS verdict
    FROM f
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score: length + marker-word density − punct
    penalty, all integer milli-units; banded into keep/filter — the
    pre-training corpus filter shape."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_tokens = F.size(words)
    marker_hits = F.size(F.filter(words, lambda w: w.isin(*MARKER_WORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0)))
    # floor division on both sides (values non-negative, so Spark's
    # truncating double→long cast equals DuckDB's // floor)
    score = (
        F.least(F.lit(500), n_tokens)
        + F.least(F.lit(300), marker_hits * 25)
        - F.least(
            F.lit(200),
            F.floor(n_punct * 1000 / F.greatest(n_tokens, F.lit(1))).cast("long"),
        )
    )
    return d.select(
        "doc_id",
        score.alias("score_milli"),
        F.when(score >= 400, F.lit("keep")).otherwise(F.lit("filter")).alias("verdict"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle="""
    WITH sh AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(
               list_transform(range(1, GREATEST(len(w) - 2, 0) + 1),
                              i -> array_to_string(w[i:i+2], ' ')),
               s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)) AS fingerprint
    FROM sh
    ORDER BY doc_id
    """,
    tags=("llm", "text", "S26"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min hash60 over 3-word shingles
    (a 1-permutation MinHash — the dedup building block)."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    w = _words(F.col("text"))
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
    )
    fp = F.array_min(F.transform(shingles, md5_60))
    # docs shorter than 3 words have no shingle → NULL (matches the
    # oracle's list_min([]) = NULL)
    return d.select(
        "doc_id", F.when(F.size(w) >= 3, fp).otherwise(F.lit(None)).alias("fingerprint")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Gopher-style repetition filter.
# ---------------------------------------------------------------------------

# Cutoffs calibrated on this corpus (natural dup-trigram p90 = 0, max 71
# milli; top-bigram median 65, p90 133): planted boilerplate lands far
# above both, natural docs straddle the top-bigram cutoff.
DUP3_MAX_MILLI = 100
TOP2_MAX_MILLI = 150


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 8 = 0
                    THEN text || ' ' || rtrim(repeat(
                        string_split(text, ' ')[1] || ' ' ||
                        string_split(text, ' ')[2] || ' ', 6))
                    ELSE text END AS text
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(1, GREATEST(len(w) - 2, 0) + 1),
                              i -> array_to_string(w[i:i+2], ' ')) AS g3,
               list_transform(range(1, GREATEST(len(w) - 1, 0) + 1),
                              i -> array_to_string(w[i:i+1], ' ')) AS g2,
               len(w) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM aug)
    ),
    tb AS (
        SELECT doc_id, MAX(c) AS top2cnt
        FROM (SELECT doc_id, b, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(g2) AS b FROM g)
              GROUP BY doc_id, b)
        GROUP BY doc_id
    ),
    m AS (
        SELECT g.doc_id,
               (1000 * (len(g3) - len(list_distinct(g3)))) // GREATEST(len(g3), 1) AS dup_trigram_milli,
               (1000 * 2 * tb.top2cnt) // GREATEST(n, 1) AS top_bigram_milli
        FROM g JOIN tb ON tb.doc_id = g.doc_id
    )
    SELECT doc_id, dup_trigram_milli, top_bigram_milli,
           CASE WHEN dup_trigram_milli >= {DUP3_MAX_MILLI}
                  OR top_bigram_milli >= {TOP2_MAX_MILLI}
                THEN 'filter' ELSE 'keep' END AS verdict
    FROM m
    ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: flag documents whose duplicate-
    trigram fraction or most-common-bigram coverage (both integer milli)
    exceeds a cutoff — the standard boilerplate/spam gate of a
    pre-training corpus.  Every 8th doc gains appended boilerplate (its
    first two words repeated 6×) on BOTH engines, so the planted
    repetition is what the filter must catch.

    Scale shape: pure per-row higher-order array expressions inside one
    corpus scan — no shuffle at all (the gate's ORDER BY is
    presentation-only).  The most-common-bigram count is a single
    O(d log d) run-length pass over the doc's SORTED bigram array —
    never the O(d²) count-each-distinct nested loop (measured 5×
    slower in interpreted higher-order eval); the relational
    unnest→group→max alternative would cost two corpus-wide shuffles.
    The DuckDB oracle uses that relational form, so the gate also
    proves the run-length fold equals the straightforward count.
    The compact scan is spread() before the array-heavy projection so
    the interpreted higher-order eval parallelizes (no-op at scale)."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    w0 = F.split(F.col("text"), " ")
    boiler = F.rtrim(
        F.repeat(F.concat(F.get(w0, 0), F.lit(" "), F.get(w0, 1), F.lit(" ")), 6)
    )
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 8 == 0, F.concat(F.col("text"), F.lit(" "), boiler)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    w = F.split(F.col("text"), " ")
    # n-grams via zip_with over shifted slices (r12): the indexed
    # transform(sequence(..), slice) form re-sliced the token array per
    # element — the same interpreted-eval cost _bigram_terms documents
    # as ~4x slower; the zipped form is one linear pass per n-gram
    # order.  Zero-length slices for <n-token docs yield empty arrays,
    # the oracle's empty range(1, GREATEST(len-n+1, 0) + 1).
    len2 = F.greatest(F.size(w) - 1, F.lit(0))
    len3 = F.greatest(F.size(w) - 2, F.lit(0))
    g2_arr = F.zip_with(
        F.slice(w, 1, len2), F.slice(w, 2, len2), lambda a, b: F.concat_ws(" ", a, b)
    )
    g3_arr = F.zip_with(
        F.zip_with(
            F.slice(w, 1, len3),
            F.slice(w, 2, len3),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(w, 3, len3),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    g = aug.select(
        "doc_id",
        g3_arr.alias("g3"),
        g2_arr.alias("g2"),
        F.size(w).alias("n"),
    )
    # max multiplicity via run-length over the sorted array: one linear
    # fold instead of filter-per-distinct-element (O(d log d) vs O(d²))
    def _rl_step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top2_cnt = F.aggregate(
        F.array_sort(F.col("g2")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        _rl_step,
        lambda acc: acc["best"],
    )
    dup3 = F.floor(
        1000
        * (F.size("g3") - F.size(F.array_distinct("g3")))
        / F.greatest(F.size("g3"), F.lit(1))
    ).cast("long")
    top2 = F.floor(1000 * 2 * top2_cnt / F.greatest(F.col("n"), F.lit(1))).cast("long")
    m = g.select(
        "doc_id", dup3.alias("dup_trigram_milli"), top2.alias("top_bigram_milli")
    )
    return m.select(
        "doc_id",
        "dup_trigram_milli",
        "top_bigram_milli",
        F.when(
            (F.col("dup_trigram_milli") >= DUP3_MAX_MILLI)
            | (F.col("top_bigram_milli") >= TOP2_MAX_MILLI),
            F.lit("filter"),
        )
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# TF-IDF top terms per source.
# ---------------------------------------------------------------------------


def _bigram_terms(w) -> F.Column:
    """Bigram term array from a token-array column.  For <2 tokens both
    slices are zero-length, so the result is an empty array (no terms) —
    the same negative space as the oracles' ``range(1, len(w))``, which
    is empty for a 1-token doc (ADVICE r03: the two sides previously
    disagreed on that case)."""
    return F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH t AS (
        SELECT source,
               unnest(list_transform(range(1, len(w)),
                      i -> array_to_string(w[i:i+1], ' '))) AS term
        FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
    ),
    tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM t GROUP BY 1, 2
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src FROM documents),
    scored AS (
        SELECT s.source, s.term, s.tf, d.df,
               (s.tf * 1000 * ns.n_src) // d.df AS score_milli
        FROM tf s JOIN df d USING (term) CROSS JOIN ns
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY score_milli DESC, term) AS rn
        FROM scored
    )
    SELECT source, term, tf, df, score_milli
    FROM r WHERE rn <= 10
    ORDER BY source, score_milli DESC, term
    """,
    tags=("llm", "text"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 distinguishing bigram terms per source by integer tf-idf
    (idf as the exact ratio n_sources/df in milli-units — a monotone
    transform of log-idf needing no cross-engine float log).  Terms are
    bigrams so document frequency actually varies on this corpus.

    Scale shape: explode → map-side-combined tf aggregate keyed by
    (source, term) → df as a window count over the tf rows keyed by
    term (one exchange, no join — r12; the groupBy-df + join form cost
    a second full tf exchange plus the aggregate's) → per-source top-10
    via WindowGroupLimit (rank pushed below the sort)."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    # zip_with over two shifted slices instead of transform(sequence(..),
    # slice) — same bigrams, but a single vectorizable pass (the indexed
    # form re-slices per element and benched ~4× slower cold).  A <2-token
    # doc yields zero-length slices → an empty bigram array → no terms,
    # exactly like the oracle's empty range(1, len(w)).
    bigrams = _bigram_terms(w)
    toks = spread(d, "doc_id").select(
        "source", F.explode(bigrams).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    n_src = d.agg(F.countDistinct("source").alias("n_src"))
    from pyspark.sql.window import Window

    # df as a window count keyed by term over the tf rows (the
    # dedup_prefix_filter r09 pattern): the groupBy-df + join form
    # planned as a SortMergeJoin here — a second full exchange of tf by
    # term PLUS the df-aggregate exchange (r12 before-plan); the window
    # computes the identical per-term row count on ONE exchange and
    # needs no join at all (guide §2.4: two operations keyed the same
    # way share one exchange).
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_src))
        .select(
            "source",
            "term",
            "tf",
            "df",
            # `div` = exact integer division, bit-identical to DuckDB's
            # `//` (float `/` + floor can land one off when the double
            # quotient grazes an integer).
            F.expr("tf * 1000 * n_src div df").alias("score_milli"),
        )
    )

    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score_milli"), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") <= 10)
        .select("source", "term", "tf", "df", "score_milli")
        .orderBy("source", F.desc("score_milli"), "term")
    )


# ---------------------------------------------------------------------------
# PII scrub.
# ---------------------------------------------------------------------------

EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.]+[a-z]"
PHONE_RE = r"\d{3}-\d{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com or call 555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    ),
    s AS (
        SELECT doc_id, source, text,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
        FROM aug
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(length(text) - length(scrubbed)) AS BIGINT) AS chars_delta,
           {duck_fingerprint("scrubbed")} AS scrub_fingerprint
    FROM s
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: find-and-replace email and phone
    patterns, reporting per-source redaction counts plus an
    order-independent fingerprint of the SCRUBBED text — the gate proves
    the exact replacement output, not just the counts.  Every 5th doc
    gains a planted email + phone (same construction on both engines),
    so the scrubber has real targets.

    Scale shape: one scan, regexp entirely inside whole-stage codegen,
    one low-cardinality aggregate — embarrassingly parallel at 100 TB."""
    d = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = d.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, planted).otherwise(F.col("text")).alias("text"),
    )
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    s = aug.select(
        "source",
        F.col("text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )
    return (
        s.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("n_emails") + F.col("n_phones") > 0, 1).otherwise(0)
            ).alias("docs_with_pii"),
            F.sum("n_emails").alias("emails_redacted"),
            F.sum("n_phones").alias("phones_redacted"),
            F.sum(F.length("text") - F.length("scrubbed")).alias("chars_delta"),
            fingerprint(F.col("scrubbed")).alias("scrub_fingerprint"),
        )
        .orderBy("source")
    )


# Funnel cutoffs calibrated to this corpus (score p25≈240, median≈354;
# marker-density median ≈266 milli) so every stage discriminates — a real
# curation pipeline tunes these per corpus the same way.
Q_MIN = 300
L_MIN_MILLI = 250


@register(
    "corpus_curation_funnel",
    oracle=f"""
    WITH aug AS ({AUG_SQL}),
    f AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKERS_SQL})) AS marker_hits,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
        FROM aug
    ),
    flags AS (
        SELECT *,
               (LEAST(500, n_tokens) + LEAST(300, marker_hits * 25)
                - LEAST(200, (n_punct * 1000) // GREATEST(n_tokens, 1))) >= {Q_MIN} AS q,
               marker_hits * 1000 >= n_tokens * {L_MIN_MILLI} AS l
        FROM f
    ),
    surv AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM flags WHERE q AND l
    )
    SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total_tokens FROM flags
    UNION ALL
    SELECT '2_quality', COUNT(*), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM flags WHERE q
    UNION ALL
    SELECT '3_language', COUNT(*), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM flags WHERE q AND l
    UNION ALL
    SELECT '4_dedup', COUNT(*), CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM surv WHERE rn = 1
    ORDER BY stage
    """,
    tags=("llm", "text", "dedup", "capstone"),
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation funnel: quality filter →
    language filter → exact dedup (keep-min), reporting surviving docs
    and tokens after each stage — the composition a 100 TB pre-training
    pipeline runs, with every stage's scoring expressions identical to
    its standalone oracle-gated query (text_quality_score,
    text_language_id, dedup_exact) and cutoffs calibrated to the corpus.

    Scale shape: stages 1–3 are ONE corpus scan — each doc explodes into
    the list of stages it survives, then a map-side-combined count per
    stage (no per-stage re-scan); the dedup stage is the only wide
    exchange (window on the content key over the already-filtered
    survivors)."""
    from .dedup import augmented_docs
    from pyspark.sql.window import Window

    words = _words(F.col("text"))
    n_tokens = F.size(words)
    marker_hits = F.size(F.filter(words, lambda w: w.isin(*MARKER_WORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0)))
    score = (
        F.least(F.lit(500), n_tokens)
        + F.least(F.lit(300), marker_hits * 25)
        - F.least(
            F.lit(200),
            F.floor(n_punct * 1000 / F.greatest(n_tokens, F.lit(1))).cast("long"),
        )
    )
    flags = augmented_docs(spark, sf_dir).select(
        "doc_id",
        "text",
        n_tokens.alias("n_tokens"),
        (score >= Q_MIN).alias("q"),
        (marker_hits * 1000 >= n_tokens * L_MIN_MILLI).alias("l"),
    )
    surv = (
        flags.where(F.col("q") & F.col("l"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("text").orderBy("doc_id"))
        )
        .where(F.col("rn") == 1)
    )

    reached = F.array_compact(
        F.array(
            F.lit("1_raw"),
            F.when(F.col("q"), F.lit("2_quality")),
            F.when(F.col("q") & F.col("l"), F.lit("3_language")),
        )
    )
    counts = (
        flags.select("n_tokens", F.explode(reached).alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("c"), F.sum("n_tokens").alias("t"))
    )
    # spine guarantees a row per stage even when a cutoff filters everything
    spine = spark.createDataFrame(
        [("1_raw",), ("2_quality",), ("3_language",)], "stage string"
    )
    funnel = spine.join(counts, "stage", "left").select(
        "stage",
        F.coalesce("c", F.lit(0)).alias("n_docs"),
        F.coalesce("t", F.lit(0)).alias("total_tokens"),
    )
    dedup_stage = surv.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
    ).select(F.lit("4_dedup").alias("stage"), "n_docs", "total_tokens")
    return funnel.unionByName(dedup_stage).orderBy("stage")


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64
_CMS_DEPTHS_SQL = ", ".join(str(d) for d in range(CMS_DEPTH))


@register(
    "token_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token != ''),
    cells AS (
        SELECT d, {duck_hash60("concat_ws(chr(124), d, token)")} % {CMS_WIDTH} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cell_n
        FROM t CROSS JOIN (SELECT unnest([{_CMS_DEPTHS_SQL}]) AS d)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM t GROUP BY 1
        ORDER BY exact_n DESC, token LIMIT 20
    ),
    probe AS (
        SELECT e.token, e.exact_n, c.cell_n
        FROM exact e
        CROSS JOIN (SELECT unnest([{_CMS_DEPTHS_SQL}]) AS d) dd
        JOIN cells c
          ON c.d = dd.d
         AND c.bucket = {duck_hash60("concat_ws(chr(124), dd.d, e.token)")} % {CMS_WIDTH}
    )
    SELECT token, exact_n, MIN(cell_n) AS cms_n,
           MIN(cell_n) - exact_n AS overcount
    FROM probe
    GROUP BY token, exact_n
    ORDER BY exact_n DESC, token
    """,
    tags=("llm", "text", "sketch"),
)
def token_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token counts through a count-min sketch (depth 4 ×
    width 64, md5-derived row hashes) probed for the exact top-20 —
    estimate ≥ truth always, and the gate pins the exact overcount of
    both engines' IDENTICAL sketch.  A CMS whose cells are
    bit-reproducible across engines is also mergeable across partitions
    and days: the 100 TB shape aggregates 256 integer cells per shard
    and sums them, instead of shuffling the full token space.

    Scale shape: one corpus scan fanned out ×4 depths map-side, partial
    aggregation into ≤256 cells per task, one 256-row shuffle; the
    exact top-20 here exists only to gate the sketch's error."""
    d = load(spark, sf_dir, "documents")
    toks = (
        spread(d, "doc_id")
        .select(F.explode(_words(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
    )
    depths = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("d")
    from ..canonical import hash60

    cells = (
        toks.select("token", depths)
        .select("d", (hash60(F.col("d"), F.col("token")) % CMS_WIDTH).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cell_n"))
    )
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "token")
        .limit(20)
    )
    probe = (
        exact.select("token", "exact_n", depths)
        .select(
            "token",
            "exact_n",
            "d",
            (hash60(F.col("d"), F.col("token")) % CMS_WIDTH).alias("bucket"),
        )
        .join(F.broadcast(cells), ["d", "bucket"])
    )
    return (
        probe.groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
        .select(
            "token",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "token")
    )


# ---------------------------------------------------------------------------
# Unicode-light text normalization + dedup on the normalized key.
# ---------------------------------------------------------------------------

# lower → strip everything outside [a-z0-9 ] → collapse runs of spaces →
# trim: the canonicalization pass run before exact-dedup so trivial
# formatting variants (case, punctuation, spacing) collapse together.
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def _norm_col() -> F.Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )


@register(
    "text_normalized_dedup",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    g AS (
        SELECT ('0x' || substring(md5(norm), 1, 15))::BIGINT AS norm_fp,
               CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               {duck_fingerprint('doc_id')} AS member_fingerprint
        FROM n GROUP BY norm
    )
    SELECT * FROM g WHERE n_docs > 1 OR norm_fp % 50 = 0
    ORDER BY norm_fp
    """,
    tags=("llm", "text", "dedup", "normalize"),
)
def text_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: canonicalize each document
    (case-fold, strip punctuation, collapse whitespace) and group by the
    normalized content key — keeper is the smallest doc_id, and the
    member fingerprint proves exact group membership.  Groups of one are
    sampled (norm_fp % 50) so the result stays bounded while singleton
    handling is still gated.

    Scale shape: scan-side projection (regex runs inside codegen, no
    Python), then ONE map-side-combined aggregation on the 60-bit
    normalized-content hash — identical to dedup_exact's shape, so the
    normalization pass adds zero extra shuffles at 100 TB."""
    n = load(spark, sf_dir, "documents").select("doc_id", _norm_col().alias("norm"))
    g = n.groupBy("norm").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("n_docs"),
        fingerprint("doc_id").alias("member_fingerprint"),
    )
    return (
        g.select(
            md5_60("norm").alias("norm_fp"),
            "keeper_id",
            "n_docs",
            "member_fingerprint",
        )
        .where((F.col("n_docs") > 1) | (F.col("norm_fp") % 50 == 0))
        .orderBy("norm_fp")
    )


# ---------------------------------------------------------------------------
# Corpus drift detection (distribution shift between corpus halves).
# ---------------------------------------------------------------------------

# chi-square-ish integer drift score: per source, compare the lang
# distribution of the even-doc_id half (the "reference snapshot") with
# the odd half (the "incoming batch").  Scaled to micro-units with all
# arithmetic in BIGINT so both engines agree bit-for-bit.
_DRIFT_SCALE = 1_000_000


@register(
    "corpus_drift_stats",
    oracle=f"""
    WITH h AS (
        SELECT source, lang, doc_id % 2 AS half FROM documents
    ),
    c AS (
        SELECT source, lang,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM h GROUP BY source, lang
    ),
    t AS (
        SELECT source, CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM c GROUP BY source
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           MAX(t.ta) AS n_ref_docs,
           MAX(t.tb) AS n_new_docs,
           CAST(SUM(CASE WHEN (a + b) > 0 AND ta > 0 AND tb > 0
                    THEN ((CAST(a AS HUGEINT) * tb - CAST(b AS HUGEINT) * ta)
                          * (CAST(a AS HUGEINT) * tb - CAST(b AS HUGEINT) * ta)
                          * {_DRIFT_SCALE})
                         // (CAST(ta AS HUGEINT) * tb * (a + b))
                    ELSE 0 END) AS BIGINT) AS drift_micro
    FROM c JOIN t USING (source)
    GROUP BY c.source
    ORDER BY c.source
    """,
    tags=("llm", "text", "quality", "drift"),
)
def corpus_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: chi-square-style integer score of the
    language mix between the even-doc_id half (reference snapshot) and
    the odd half (incoming batch), per source — the check a continuously
    ingesting training pipeline runs before accepting a new crawl drop.
    The per-cell score runs in 128-bit integer space — Spark
    DECIMAL(38,0) mirroring the oracle's HUGEINT — with truncating
    integer division on both sides, so the result is exact at any count
    (ADVICE r03: plain long multiplication wraps past |a·tb−b·ta| ≈ 3e6
    and float `/` loses exactness past 2^53); zero-marginal cells
    contribute 0.

    Scale shape: one scan → map-side-combined count per (source, lang,
    half) — cardinality sources×langs×2, tiny at any corpus size — then
    the score folds per source.  The corpus never shuffles; only counts
    do."""
    d = load(spark, sf_dir, "documents")
    c = (
        d.select("source", "lang", (F.col("doc_id") % 2).alias("half"))
        .groupBy("source", "lang")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b"),
        )
    )
    w = Window.partitionBy("source")
    scored = c.select(
        "source",
        "a",
        "b",
        F.sum("a").over(w).alias("ta"),
        F.sum("b").over(w).alias("tb"),
    )
    return (
        drift_cell_terms(scored)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_langs"),
            F.max("ta").alias("n_ref_docs"),
            F.max("tb").alias("n_new_docs"),
            F.sum("term").alias("drift_micro"),
        )
        .orderBy("source")
    )


def drift_cell_terms(counts: DataFrame) -> DataFrame:
    """Add the exact chi-square cell score ``term`` to a (a, b, ta, tb)
    counts DataFrame.  128-bit integer space (DECIMAL(38,0) ≙ the
    oracle's HUGEINT); ``div`` on decimals is BigDecimal's
    divideToIntegralValue — the exact truncated quotient, matching
    DuckDB's integer ``//`` (a plain decimal ``/`` would round HALF_UP
    at the result scale first, and long arithmetic wraps past
    |a·tb−b·ta| ≈ 3e6).  Both engines share the 128-bit ceiling: exact
    up to |a·tb−b·ta| < 1e16 (num²·SCALE < 1e38), and both raise rather
    than silently wrap beyond it."""
    d38 = "decimal(38,0)"
    num = (
        F.col("a").cast(d38) * F.col("tb").cast(d38)
        - F.col("b").cast(d38) * F.col("ta").cast(d38)
    )
    den = (
        F.col("ta").cast(d38)
        * F.col("tb").cast(d38)
        * (F.col("a") + F.col("b")).cast(d38)
    )
    term = F.when(
        ((F.col("a") + F.col("b")) > 0) & (F.col("ta") > 0) & (F.col("tb") > 0),
        F.expr("_drift_num div _drift_den"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        counts.withColumn("_drift_num", num * num * F.lit(_DRIFT_SCALE).cast(d38))
        .withColumn("_drift_den", den)
        .withColumn("term", term)
        .drop("_drift_num", "_drift_den")
    )


# ---------------------------------------------------------------------------
# Inverted index (posting lists per term).
# ---------------------------------------------------------------------------

POSTING_DF_MIN = 3
POSTING_DF_MAX = 12


@register(
    "term_posting_lists",
    # bigram terms: the synthetic corpus has only ~31 distinct unigrams,
    # every one corpus-wide frequent — bigrams are where a discriminative
    # mid-frequency band exists (same term definition as tfidf_top_terms)
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    t AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(w)),
                      i -> array_to_string(w[i:i+1], ' '))) AS term
        FROM d
    ),
    p AS (
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM t GROUP BY term
    )
    SELECT * FROM p
    WHERE df BETWEEN {POSTING_DF_MIN} AND {POSTING_DF_MAX}
    ORDER BY term
    """,
    tags=("llm", "text", "index", "S27"),
)
def term_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: exact posting list (sorted doc ids) per
    term, restricted to the discriminative mid-frequency band
    (3 <= df <= 12) — the retrieval-side structure of a contamination /
    attribution check, with the full posting emitted so the gate proves
    exact membership (S27 canonical-array convention).

    Scale shape: two passes over the exploded (doc, term) pairs.  Pass 1
    computes df per term — map-side combinable, so a corpus-wide stop
    term costs one long per partition.  Pass 2 collects postings ONLY
    for terms the df band admits (left-semi prune before any
    collect_list), so no hot term ever materializes an unbounded list —
    the classic inverted-index skew killer."""
    d = spread(load(spark, sf_dir, "documents"), "doc_id")
    w = F.split(F.col("text"), " ")
    # materialized once (r12): both passes below consume t, and without
    # the barrier Catalyst re-ran the corpus scan + bigram explode +
    # distinct exchange per branch (two full tokenizations in the
    # before-plan; guide §5 caching rule — reused AND expensive)
    t = materialize(
        d.select("doc_id", F.explode(_bigram_terms(w)).alias("term")).distinct()
    )
    # pass 1: df per term — map-side combinable, so a corpus-wide stop
    # term costs one long per partition, never a row list
    stats = (
        t.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("df").between(POSTING_DF_MIN, POSTING_DF_MAX))
    )
    # pass 2: collect postings ONLY for surviving mid-band terms (the
    # semi-join prunes hot terms before any list materializes; AQE
    # broadcasts the tiny surviving-term set)
    postings = (
        t.join(stats.select("term"), "term", "left_semi")
        .groupBy("term")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"))
    )
    return (
        stats.join(postings, "term")
        .select("term", "df", "first_doc", "last_doc", "postings")
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering: hashed linear classifier (the fastText /
# DCLM-style "quality classifier" stage of a pre-training pipeline).
# ---------------------------------------------------------------------------

QC_BUCKETS = 4096  # feature-hashing width
QC_BIAS_MILLI = -150  # decision bias in milli-logits

# weight(token) in [-1000, 1000] milli-units, derived deterministically
# from the token's feature bucket: bucket = hash60(token) % QC_BUCKETS,
# weight = hash60('wgt|' || bucket) % 2001 - 1000.  In production the
# weights come from a trained fastText/logreg model broadcast to the
# executors; the pseudo-random weights exercise the identical plan.
_QC_W_SQL = (
    f"(('0x' || substring(md5('wgt|' || "
    f"CAST({duck_hash60('t.token')} % {QC_BUCKETS} AS VARCHAR)), 1, 15))::BIGINT"
    f" % 2001 - 1000)"
)


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum({_QC_W_SQL}) AS BIGINT) AS w_sum
        FROM toks t WHERE token != '' GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(w_sum // n_tokens + {QC_BIAS_MILLI} AS BIGINT) AS logit_milli,
           (w_sum // n_tokens + {QC_BIAS_MILLI}) > 0 AS keep
    FROM scored
    ORDER BY doc_id
    """,
    tags=("text", "llm-pipeline", "quality", "classifier"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a feature-hashed linear classifier
    (fastText / DCLM-style) scoring every document, keep = logit > 0.
    Each token hashes into one of {QC_BUCKETS} feature buckets whose
    weight (here derived from the bucket id; in production a broadcast
    trained weight vector) accumulates into a per-document mean logit in
    exact integer milli-units.

    Scale shape: ZERO shuffle except the per-document aggregation (one
    exchange keyed by doc_id, partial-aggregated map-side) — the token
    explode, bucket hash, and weight lookup are all row-local projections
    inside whole-stage codegen.  A real weight table is a {QC_BUCKETS}-row
    broadcast joined on the bucket id — same plan shape, still no wide
    exchange.  Mean-then-bias uses integer division (`div`) so both
    engines agree exactly at any count."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    bucket = md5_60("token") % QC_BUCKETS
    weight = md5_60(F.concat(F.lit("wgt|"), bucket.cast("string"))) % 2001 - 1000
    scored = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(weight).alias("w_sum"),
    )
    logit = F.expr("w_sum div n_tokens") + F.lit(QC_BIAS_MILLI)
    return scored.select(
        "doc_id",
        "n_tokens",
        logit.cast("long").alias("logit_milli"),
        (logit > 0).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# In-corpus bigram language-model fluency score (the KenLM-perplexity
# analog of a CCNet-style pipeline, exact-integer formulation).
# ---------------------------------------------------------------------------


@register(
    "lm_bigram_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    big AS (
        SELECT doc_id,
               w[i] AS w1, w[i + 1] AS w2
        FROM toks, unnest(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2
    ),
    cnt AS (
        SELECT doc_id, w1, w2,
               count(*) OVER (PARTITION BY w1, w2) AS c2,
               count(*) OVER (PARTITION BY w1) AS c1
        FROM big
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum((1000000 * c2) // c1) AS BIGINT) AS prob_sum_micro
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(prob_sum_micro // n_bigrams AS BIGINT) AS avg_cond_prob_micro
    FROM perdoc
    ORDER BY doc_id
    """,
    tags=("text", "llm-pipeline", "quality", "language-model"),
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM fluency score per document — the exact
    integer analog of the CCNet/KenLM perplexity filter: documents whose
    word transitions are common in the corpus score high, word-salad
    scores low.  For every bigram (w1, w2) the conditional probability
    P(w2|w1) = count(w1,w2) / count(w1-as-first) is expressed in micro
    units via INTEGER division, summed, and averaged per document — both
    engines agree bit-for-bit at any corpus size (no float ever appears).

    Scale shape: bigram explode is row-local (1 row per token); the two
    count-over-window passes are exchanges keyed by (w1, w2) and (w1) —
    at 100 TB these are the classic LM-count shuffles and partial-count
    map-side; Zipf skew on w1 is bounded because the window computes
    count only (constant state per key, AQE splits stragglers).  The
    per-doc mean is one further exchange keyed by doc_id."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w")).where(
        F.size("w") >= 2
    )
    big = toks.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("i", "p"),
    ).select("doc_id", "p.w1", "p.w2")
    cnt = big.withColumn(
        "c2", F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    ).withColumn("c1", F.count(F.lit(1)).over(Window.partitionBy("w1")))
    perdoc = cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(F.expr("(1000000 * c2) div c1")).alias("prob_sum_micro"),
    )
    return perdoc.select(
        "doc_id",
        "n_bigrams",
        F.expr("prob_sum_micro div n_bigrams").cast("long").alias("avg_cond_prob_micro"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-table curation gate: lexical quality (documents) joined with
# embedding-space health (embeddings) — the multi-signal keep decision.
# ---------------------------------------------------------------------------

NORM_MIN_PICO = 999_999_000_000  # quantized self-dot lower bound (unit-norm)


@register(
    "curation_embedding_gate",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '), w -> w IN {_MARKERS_SQL})) AS marker_hits,
               len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
        FROM documents
    ),
    q AS (
        SELECT doc_id,
               LEAST(500, n_tokens) + LEAST(300, marker_hits * 25)
                 - LEAST(200, (n_punct * 1000) // GREATEST(n_tokens, 1)) AS score_milli
        FROM f
    ),
    e AS (
        SELECT vec_id,
               list_sum(list_transform(list_zip(
                   list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)),
                   list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))),
                   p -> p[1] * p[2])) AS self_dot_pico
        FROM embeddings
    )
    SELECT q.doc_id, q.score_milli,
           CAST(e.self_dot_pico AS BIGINT) AS self_dot_pico,
           q.score_milli >= 400 AS lexical_ok,
           e.self_dot_pico >= {NORM_MIN_PICO} AS norm_ok,
           q.score_milli >= 400 AND e.self_dot_pico >= {NORM_MIN_PICO} AS keep
    FROM q JOIN e ON e.vec_id = q.doc_id
    ORDER BY q.doc_id
    """,
    tags=("text", "llm-pipeline", "curation", "cross-table"),
)
def curation_embedding_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal curation: the lexical quality score (text side) and
    the embedding-norm health check (vector side) joined into one keep
    decision — the cross-TABLE pattern every production pipeline hits
    once curation signals live in different stores (text lake vs vector
    store).  The join is 1:1 on doc_id = vec_id.

    Scale shape: both sides reduce to (id, small ints) BEFORE the join,
    so the equi-join exchanges two narrow tables — never text or vector
    payloads; written bucketed on the id (sinks.write_bucketed) the join
    is exchange-free.  The vector side reads the maintained ANN index
    artifact (already-quantized vectors) instead of re-quantizing the
    embedding scan.  Integer milli/pico units on both sides of both
    engines."""
    from .similarity import _ann_index, _dot_pico

    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_tokens = F.size(words)
    marker_hits = F.size(F.filter(words, lambda w: w.isin(*MARKER_WORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0)))
    score = (
        F.least(F.lit(500), n_tokens)
        + F.least(F.lit(300), marker_hits * 25)
        - F.least(
            F.lit(200),
            F.floor(n_punct * 1000 / F.greatest(n_tokens, F.lit(1))).cast("long"),
        )
    )
    lex = d.select("doc_id", score.cast("long").alias("score_milli"))
    emb = _ann_index(spark, sf_dir)["vectors"].select(
        F.col("vec_id").alias("doc_id"),
        _dot_pico(F.col("qe"), F.col("qe")).alias("self_dot_pico"),
    )
    j = lex.join(emb, "doc_id")
    return j.select(
        "doc_id",
        "score_milli",
        "self_dot_pico",
        (F.col("score_milli") >= 400).alias("lexical_ok"),
        (F.col("self_dot_pico") >= NORM_MIN_PICO).alias("norm_ok"),
        (
            (F.col("score_milli") >= 400)
            & (F.col("self_dot_pico") >= NORM_MIN_PICO)
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PMI collocation mining — the phrase-detection pass (word2vec's
# "new_york" preprocessing, Mikolov et al. 2013) over the corpus.
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 5  # ignore bigrams rarer than this (noise floor)
PMI_TOP_N = 50


@register(
    "token_pmi_phrases",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    uni AS (SELECT unnest(w) AS tok FROM toks),
    ucnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM uni),
    big AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM toks, unnest(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2
    ),
    bcnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        FROM big GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_PAIR}
    )
    SELECT w1, w2, n_pair,
           CAST((1000000 * CAST(n_pair AS HUGEINT) * t) // (u1.c * u2.c)
                AS BIGINT) AS pmi_ratio_micro
    FROM bcnt
    JOIN ucnt u1 ON u1.tok = w1
    JOIN ucnt u2 ON u2.tok = w2, tot
    ORDER BY pmi_ratio_micro DESC, w1, w2
    LIMIT {PMI_TOP_N}
    """,
    tags=("text", "llm-pipeline", "collocation", "pmi"),
)
def token_pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: rank adjacent-token bigrams by pointwise
    mutual information — the phrase-detection preprocessing step of
    word2vec-style pipelines (frequent high-PMI bigrams become joined
    phrase tokens).  PMI's log is monotone, so ranking by the exact
    integer ratio argument N(x,y)·T / (N(x)·N(y)) in micro units is
    rank-identical to ranking by PMI while staying bit-exact across
    engines; the count floor kills the rare-pair PMI bias.

    Scale shape: bigram generation is row-local; unigram and bigram
    counts are both map-combined aggs (vocab- and vocab²-sized — tiny
    next to the corpus).  The two count joins key on single tokens:
    both sides are vocabulary-sized, so at 100 TB either side
    broadcasts or the join shuffles only (token, long) pairs.  The
    corpus-total T is a 1-row broadcast.  The final top-N sorts the
    vocab²-bounded result, never corpus rows.  Products run in
    decimal(38,0) (Spark) / HUGEINT (DuckDB), cast to BIGINT on
    output — values ≤1e6·n_pair·T stay far under 2⁶³ for any corpus
    whose bigram table fits a cluster, but the cast keeps the
    intermediate exact regardless."""
    d = load(spark, sf_dir, "documents")
    # Unigram counts and the corpus total T come from the UNFILTERED token
    # stream (mirroring the oracle, whose len(w) >= 2 predicate guards only
    # the bigram CTE); single-token docs contribute to N(x) and T but
    # produce no bigrams.
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("t"))
    big = toks.where(F.size("w") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.size("w") - 1),
                F.slice("w", 2, F.size("w") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= PMI_MIN_PAIR)
    )
    joined = (
        bcnt.join(F.broadcast(ucnt.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c1")), "w1")
        .join(F.broadcast(ucnt.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c2")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_pair * t) DIV (c1 * c2) AS BIGINT)"
    )
    return (
        joined.select("w1", "w2", "n_pair", pmi.alias("pmi_ratio_micro"))
        .orderBy(F.col("pmi_ratio_micro").desc(), "w1", "w2")
        .limit(PMI_TOP_N)
    )


# ---------------------------------------------------------------------------
# BPE merge induction — one round of byte-pair-encoding vocabulary
# training (Sennrich et al. 2016) as a distributed count.
# ---------------------------------------------------------------------------

BPE_TOP_N = 30


@register(
    "bpe_pair_induction",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    p AS (
        SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
        FROM toks, unnest(range(1, length(tok))) AS u(i)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_pair
    FROM p GROUP BY pair
    ORDER BY n_pair DESC, pair
    LIMIT {BPE_TOP_N}
    """,
    tags=("text", "llm-pipeline", "tokenizer", "bpe"),
)
def bpe_pair_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of BPE vocabulary induction: count every adjacent
    symbol pair across all token instances and rank — the top pair is
    the merge a BPE trainer would apply next.  (Iterating rounds =
    re-tokenize with the merged symbol and recount; each round is this
    same distributed count, so the one-round operator is the building
    block.)  Counts are exact integers — trivially hash-stable.

    Scale shape: pair generation is row-local (length-1 pairs per
    token, built by sequence+transform inside codegen — no Python);
    the count is ONE map-combined aggregate whose key space is the
    character-bigram alphabet (≤ |charset|²) — partial counts shrink
    each partition's output to at most that many rows before the
    exchange, so the shuffle is O(alphabet²·partitions) regardless of
    corpus size.  The classic 100 TB wordcount shape."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).where(
        F.length("tok") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "pair")
        .limit(BPE_TOP_N)
    )


# ---------------------------------------------------------------------------
# Per-source rank normalization of quality scores — score calibration.
# ---------------------------------------------------------------------------


@register(
    "score_rank_normalize",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source,
               LEAST(500, len(string_split(text, ' ')))
               + LEAST(300, len(list_filter(string_split(text, ' '),
                                            w -> w IN {_MARKERS_SQL})) * 25)
               - LEAST(200, (len(regexp_extract_all(text, '[^\\w\\s]')) * 1000)
                            // GREATEST(len(string_split(text, ' ')), 1))
                   AS score_milli
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, CAST(score_milli AS BIGINT) AS score_milli,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY score_milli, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM q
    )
    SELECT doc_id, source, score_milli,
           CAST(rn AS BIGINT) AS rank_in_source,
           CAST(((rn - 1) * 1000000) // GREATEST(n - 1, 1) AS BIGINT) AS pctl_ppm
    FROM r
    ORDER BY doc_id
    """,
    tags=("text", "llm-pipeline", "calibration", "quantile-normalize"),
)
def score_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank normalization of the lexical quality score —
    the calibration step that makes quality thresholds comparable
    across sources whose raw score distributions differ (a web crawl
    and a books corpus need different absolute cutoffs; the percentile
    is the source-free knob).  Percentile is exact integer ppm of the
    (rank−1)/(n−1) form with doc_id tie-break, so both engines emit
    identical values — no float CDF.

    Scale shape: scoring is row-local at the scan; ranking is one
    exchange keyed by source with a sort — the count-over-partition
    rides the same window state.  At 100 TB a handful of sources makes
    this the classic few-large-groups sort: AQE splits stragglers, and
    a production variant switches to a two-pass histogram CDF at the
    same contract (documented trade-off; the operator's output
    contract is engine-checked here)."""
    d = load(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_tokens = F.size(words)
    marker_hits = F.size(F.filter(words, lambda w: w.isin(*MARKER_WORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^\w\s]"), F.lit(0)))
    score = (
        F.least(F.lit(500), n_tokens)
        + F.least(F.lit(300), marker_hits * 25)
        - F.least(
            F.lit(200),
            F.floor(n_punct * 1000 / F.greatest(n_tokens, F.lit(1))).cast("long"),
        )
    )
    scored = d.select("doc_id", "source", score.cast("long").alias("score_milli"))
    ws = Window.partitionBy("source")
    r = scored.select(
        "doc_id",
        "source",
        "score_milli",
        F.row_number().over(ws.orderBy("score_milli", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    return r.select(
        "doc_id",
        "source",
        "score_milli",
        F.col("rn").cast("long").alias("rank_in_source"),
        # rn is row_number()'s 32-bit int: widen BEFORE the ppm multiply
        # or (rn-1)*1e6 overflows under ANSI once a source group exceeds
        # ~2148 rows (caught by the sf1 full-registry gate, r08)
        F.expr("((CAST(rn AS BIGINT) - 1) * 1000000) div greatest(n - 1, 1)")
        .cast("long")
        .alias("pctl_ppm"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE encoding under a fixed merge table — the trained tokenizer's
# distributed application path, gated end-to-end.
# ---------------------------------------------------------------------------

# Char-disjoint digraphs: with pairwise-disjoint character sets, greedy
# lowest-rank BPE merging equals non-overlapping substring counting
# (merging one pair can neither create nor destroy an occurrence of
# another), which makes the encode loop relationally expressible — the
# property the oracle below exploits.
BPE_FIXED_MERGES = [("e", "s"), ("t", "h"), ("a", "n")]


@register(
    "bpe_fixed_merge_token_counts",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, text FROM documents WHERE regexp_matches(text, '\S')
    ),
    words AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
        FROM d
    ),
    ww AS (
        SELECT doc_id,
               CAST(length(w) AS BIGINT) AS lw,
               CAST((length(w) - length(replace(w, 'es', ''))) // 2
                  + (length(w) - length(replace(w, 'th', ''))) // 2
                  + (length(w) - length(replace(w, 'an', ''))) // 2
                 AS BIGINT) AS occ
        FROM words WHERE w != ''
    )
    SELECT doc_id,
           CAST(SUM(lw + 1 - occ) AS BIGINT) AS n_tokens,
           CAST(SUM(lw - 2 * occ) AS BIGINT) AS n_unk_chars
    FROM ww GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("text", "llm-pipeline", "tokenizer", "bpe"),
)
def bpe_fixed_merge_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token budget under the REAL BPE encoder
    (operators/bpe.py: greedy lowest-rank merge loop, Zipf word cache,
    Arrow-batched mapInPandas) with a fixed char-disjoint merge table —
    the merge set a trainer run would normally produce, pinned so the
    oracle can recompute the encode relationally (greedy merging of
    char-disjoint pairs ≡ non-overlapping substring counts, so
    n_tokens = Σ_w (len(w)+1 − occ(w)) and single-char leftovers =
    Σ_w (len(w) − 2·occ(w))).  This gates the production encode path —
    cache, rank resolution, END handling — not a simplified twin.

    Scale shape: merge ranks ride the task closure (no join); the scan
    feeds mapInPandas with no Exchange (payload never shuffles); the
    output is one bounded row per doc.  Training is the separate
    word_frequencies count + bounded driver induction (learn_bpe)."""
    d = load(spark, sf_dir, "documents")
    # whitespace-aware, not trim(): trim strips only spaces on both
    # engines, so a tab-only doc would survive and then diverge — Spark
    # emits a (doc_id, 0, 0) row where the oracle's word GROUP BY emits
    # nothing (ADVICE r07)
    corpus = spread(d, "doc_id").where(F.col("text").rlike(r"\S"))
    from ..operators.bpe import bpe_token_counts

    return bpe_token_counts(corpus, BPE_FIXED_MERGES).orderBy("doc_id")
