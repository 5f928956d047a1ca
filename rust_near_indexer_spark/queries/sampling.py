"""Deterministic corpus sampling / splitting / distribution statistics.

A training-data pipeline samples, stratifies, and splits its corpus
constantly, and every one of those operations must be REPRODUCIBLE —
rerunning the pipeline on a different cluster layout has to pick the
same documents.  ``df.sample()`` cannot promise that (its Bernoulli
draw is seeded per-partition, so it changes with partitioning); hashing
each row's stable key can.  All four queries below rank or bucket on
the portable 60-bit md5 hash (canonical.hash60), which the DuckDB
oracle reproduces bit-for-bit — the same property that makes the
results reproducible across engines makes them reproducible across
cluster sizes.

- ``corpus_hash_sample`` — 5% uniform sample (hash-threshold Bernoulli).
- ``stratified_sample_per_source`` — fixed-size per-stratum sample via
  hash ranking (Spark's WindowGroupLimit pushes the rank≤k filter below
  the full sort at scale).
- ``train_val_test_split`` — 80/10/10 split by hash bucket; emitted as
  per-split aggregates + an order-independent doc_id fingerprint so the
  gate proves the exact membership, not just the counts.
- ``doc_length_percentiles`` — exact nearest-rank p50/p90/p99 per
  language (integer-domain rank arithmetic; no engine-specific
  interpolation semantics involved).
- ``sequence_packing`` — greedy context-window batching per source
  shard (applyInPandas sequential fold vs a recursive-CTE oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..canonical import duck_fingerprint, duck_hash60, fingerprint, hash60, md5_60
from ..tables import load
from . import register

SAMPLE_PERMYRIAD = 500  # 5% expressed as parts-per-10000 of the hash space
_DUCK_DOC_HASH = duck_hash60("CAST(doc_id AS VARCHAR)")


@register(
    "corpus_hash_sample",
    oracle=f"""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {duck_fingerprint('doc_id')} AS doc_fingerprint
    FROM documents
    WHERE {_DUCK_DOC_HASH} % 10000 < {SAMPLE_PERMYRIAD}
    GROUP BY source, lang
    ORDER BY source, lang
    """,
    tags=("sampling", "llm-pipeline"),
)
def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% deterministic Bernoulli sample: keep a document iff the low
    hash bits fall under the threshold.  Partitioning-independent (the
    decision is a pure function of doc_id) and a scan-side filter
    evaluated before anything moves — at 100 TB this drops 95% of rows
    ahead of the only shuffle (the aggregate's).  Gate output is
    per-(source, lang) counts
    plus the xor-fingerprint of sampled doc_ids — exact membership."""
    docs = load(spark, sf_dir, "documents")
    sampled = docs.where(hash60(F.col("doc_id")) % 10000 < SAMPLE_PERMYRIAD)
    return (
        sampled.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            fingerprint("doc_id").alias("doc_fingerprint"),
        )
        .orderBy("source", "lang")
    )


STRATUM_K = 50


@register(
    "stratified_sample_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_DUCK_DOC_HASH}, doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, lang, n_chars, rk
    FROM ranked WHERE rk <= {STRATUM_K}
    ORDER BY source, rk
    """,
    tags=("sampling", "llm-pipeline"),
)
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sample: exactly K docs per source, chosen
    by hash rank (uniform within the stratum, reproducible anywhere).
    The rank≤K filter over a row_number window is recognized by
    Spark's WindowGroupLimit rule, which keeps a running top-K per
    partition before the final per-stratum sort — the full sort of
    each stratum never materializes at scale."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash60(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "doc_id", "source", "lang", "n_chars", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= STRATUM_K)
        .orderBy("source", "rk")
    )


@register(
    "train_val_test_split",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN {_DUCK_DOC_HASH} % 100 < 80 THEN 'train'
                    WHEN {_DUCK_DOC_HASH} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {duck_fingerprint('doc_id')} AS doc_fingerprint
    FROM tagged
    GROUP BY split, source
    ORDER BY split, source
    """,
    tags=("sampling", "llm-pipeline"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by hash bucket: stable under
    corpus growth (a document's split never changes when others are
    added — the property random shuffling lacks) and leak-free by
    construction (disjoint hash ranges).  Gated on per-(split, source)
    counts plus exact doc_id membership fingerprints."""
    docs = load(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    ).alias("split")
    return (
        docs.select(split, "source", "doc_id", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            fingerprint("doc_id").alias("doc_fingerprint"),
        )
        .orderBy("split", "source")
    )


def _nearest_rank(p: int) -> str:
    # ceil(n·p/100) in pure integer arithmetic — identical both engines
    return f"(n * {p} + 99) // 100"


@register(
    "doc_length_percentiles",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang, MAX(n) AS n_docs,
           MAX(CASE WHEN rk = {_nearest_rank(50)} THEN n_chars END) AS p50_chars,
           MAX(CASE WHEN rk = {_nearest_rank(90)} THEN n_chars END) AS p90_chars,
           MAX(CASE WHEN rk = {_nearest_rank(99)} THEN n_chars END) AS p99_chars
    FROM ranked
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("percentiles", "llm-pipeline"),
)
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles of document length per language:
    rank = ceil(n·p/100), entirely in integer arithmetic — engines
    differ in continuous-percentile interpolation (and float quantile
    sketches are partition-order-dependent), nearest-rank has one
    answer; doc_id tie-break pins equal-length orderings.

    Scale shape: the per-language rank comes from the GROUPED two-phase
    range rank (operators/ranking.py) rather than a
    one-reducer-per-language window — a dominant language (the real
    shape of a web corpus) spans several contiguous range partitions
    instead of becoming a straggler task; the per-(lang, pid) carry
    table is the only single-partition window input."""
    from ..operators.ranking import two_phase_grouped_rank

    docs = load(spark, sf_dir, "documents")
    ranked = two_phase_grouped_rank(
        docs.select("lang", "n_chars", "doc_id"), ["lang"], ["n_chars", "doc_id"]
    ).select(
        "lang",
        "n_chars",
        F.col("rank").alias("rk"),
        F.col("n_group").alias("n"),
    )

    def at(p: int):
        target = F.expr(f"(n * {p} + 99) div 100")
        return F.max(F.when(F.col("rk") == target, F.col("n_chars")))

    return (
        ranked.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            at(50).alias("p50_chars"),
            at(90).alias("p90_chars"),
            at(99).alias("p99_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing (context-window batching).
# ---------------------------------------------------------------------------

# Context-window token budget.  Median doc ≈56 tokens, 25 docs/source →
# several bins per source at any SF.
PACK_WINDOW = 512


@register(
    "sequence_packing",
    oracle=f"""
    WITH RECURSIVE rows_ AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ),
    pack AS (
        SELECT source, doc_id, n_tokens, rn,
               CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill
        FROM rows_ WHERE rn = 1
        UNION ALL
        SELECT r.source, r.doc_id, r.n_tokens, r.rn,
               CASE WHEN p.bin_fill + r.n_tokens > {PACK_WINDOW}
                    THEN p.bin_id + 1 ELSE p.bin_id END,
               CASE WHEN p.bin_fill + r.n_tokens > {PACK_WINDOW}
                    THEN r.n_tokens ELSE p.bin_fill + r.n_tokens END
        FROM pack p JOIN rows_ r ON r.source = p.source AND r.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id, bin_fill
    FROM pack
    ORDER BY source, doc_id
    """,
    tags=("sampling", "llm-pipeline", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents (in stable doc_id order
    within each source shard) to fixed-budget context windows — the
    batching step that turns a curated corpus into training sequences.
    Each bin fills until the next doc would overflow PACK_WINDOW tokens;
    over-long docs get a bin of their own.  The fold is inherently
    sequential per shard, so it runs as ``applyInPandas`` over the
    source key — the (b)-tier custom-operator pattern: one shuffle to
    co-locate each shard, then an Arrow-batched linear scan.  The DuckDB
    oracle replays the identical fold with a recursive CTE, proving the
    imperative and relational formulations agree row-for-row.

    Scale shape: parallelism = number of shards; a 100 TB corpus packs
    thousands of hash shards independently (exactly how real pipelines
    shard packing), and each shard's fold is O(shard) with no global
    sequential bottleneck."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if not first and fill + n > PACK_WINDOW:
                bin_id += 1
                fill = 0
            fill += n
            first = False
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = bins
        pdf["bin_fill"] = fills
        return pdf

    out = d.groupBy("source").applyInPandas(
        pack, "source string, doc_id long, n_tokens long, bin_id long, bin_fill long"
    )
    return out.orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# Systematic PPS (probability-proportional-to-size) sampling.
# ---------------------------------------------------------------------------

PPS_PER_SOURCE = 5  # target draws per source shard


@register(
    "pps_systematic_sample",
    oracle=f"""
    WITH f AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n_tokens) OVER (PARTITION BY source) AS total
        FROM f
    )
    -- CAST: DuckDB's windowed SUM(BIGINT) is HUGEINT, which the driver's
    -- pandas fetch renders as float64 and breaks the value hash
    SELECT source, doc_id, n_tokens, CAST(cum AS BIGINT) AS cum
    FROM c
    WHERE (cum - n_tokens) // GREATEST(total // {PPS_PER_SOURCE}, 1)
          < cum // GREATEST(total // {PPS_PER_SOURCE}, 1)
    ORDER BY source, doc_id
    """,
    tags=("sampling", "llm-pipeline"),
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: within each
    source shard, documents are laid on a token-count number line and
    one document is drawn per stride of ``total_tokens/PPS_PER_SOURCE`` — long
    documents are proportionally more likely to straddle a stride
    boundary, the classic PPS estimator for token-weighted corpus
    statistics.  All integer arithmetic (prefix sums + floor division),
    so membership is exactly reproducible across engines and cluster
    layouts — like every sampler here, the decision is a pure function
    of the data, never of partitioning.

    Scale shape: one shuffle keyed by source (the stratification key);
    each shard's prefix sum is a window scan.  There is deliberately no
    GLOBAL prefix sum — a corpus-wide systematic sample would serialize
    100 TB through one ordering, so sharding first is the only shape
    that survives scale (identical to how sequence_packing shards)."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    c = d.select(
        "source",
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(w_cum).alias("cum"),
        F.sum("n_tokens").over(w_tot).alias("total"),
    )
    stride = F.greatest(
        F.floor(F.col("total") / PPS_PER_SOURCE).cast("long"), F.lit(1)
    )
    before = F.floor((F.col("cum") - F.col("n_tokens")) / stride).cast("long")
    after = F.floor(F.col("cum") / stride).cast("long")
    return (
        c.where(before < after)
        .select("source", "doc_id", "n_tokens", "cum")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted corpus mixture (epoch-aware up/down-sampling per source).
# ---------------------------------------------------------------------------

# weight_milli(srcN) = 500 + 100·(N mod 20) → 0.5×…2.4× per source
_W_MILLI = "(500 + 100 * (CAST(SUBSTR(source, 4) AS BIGINT) % 20))"


@register(
    "corpus_mixture",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, n_chars,
               {_W_MILLI} // 1000
               + CASE WHEN {_DUCK_DOC_HASH} % 1000 < {_W_MILLI} % 1000
                      THEN 1 ELSE 0 END AS repeats
        FROM documents
    ),
    mixed AS (
        SELECT source, doc_id, n_chars,
               unnest(range(1, repeats + 1)) AS epoch
        FROM w WHERE repeats >= 1
    )
    SELECT source, CAST(epoch AS BIGINT) AS epoch,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {duck_fingerprint('doc_id')} AS doc_fingerprint
    FROM mixed
    GROUP BY source, epoch
    ORDER BY source, epoch
    """,
    tags=("sampling", "llm-pipeline", "mixture"),
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data mixing — the step that turns per-source sampling
    weights into an actual training stream.  Each source carries a
    milli-weight (0.5×…2.4× here, derived from the source id so both
    engines agree); a document is emitted ``floor(w)`` times plus one
    more iff its hash fraction falls under ``frac(w)`` — deterministic
    fractional epochs, the standard upsampling trick (e.g. Pile/LLaMA
    style mixtures), reproducible under any partitioning because the
    extra-epoch decision is a pure function of doc_id.

    Scale shape: the repeat count is computed scan-side and the explode
    multiplies rows map-side (no shuffle until the audit aggregate);
    a 2.4× source never materializes through the driver.  Gate output
    proves exact membership of every epoch, not just counts."""
    docs = load(spark, sf_dir, "documents")
    w_milli = F.lit(500) + 100 * (F.substring("source", 4, 10).cast("long") % 20)
    repeats = (w_milli / 1000).cast("long") + F.when(
        hash60(F.col("doc_id")) % 1000 < w_milli % 1000, 1
    ).otherwise(0)
    mixed = (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            repeats.alias("repeats"),
        )
        .where(F.col("repeats") >= 1)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("repeats"))
            ).alias("epoch"),
        )
    )
    return (
        mixed.groupBy("source", "epoch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            fingerprint("doc_id").alias("doc_fingerprint"),
        )
        .orderBy("source", "epoch")
    )


# ---------------------------------------------------------------------------
# Token-budget output sharding (training-export file sizing).
# ---------------------------------------------------------------------------

SHARD_TOKENS = 2000  # target tokens per output shard


def shard_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shard assignment (doc_id, source, n_tokens,
    shard_id) — the manifest ``token_budget_shards`` summarizes and
    ``sinks.write_training_shards`` materializes as files."""
    docs = load(spark, sf_dir, "documents")
    f = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        hash60(F.col("doc_id")).alias("h"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = f.select(
        "source",
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(w_cum).alias("cum"),
    )
    shard = F.floor((F.col("cum") - F.col("n_tokens")) / SHARD_TOKENS).cast("long")
    return c.select("doc_id", "source", "n_tokens", shard.alias("shard_id"))



@register(
    "token_budget_shards",
    oracle=f"""
    WITH f AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               {_DUCK_DOC_HASH} AS h
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM f
    )
    -- CAST: windowed SUM(BIGINT) → HUGEINT in DuckDB; shard_id inherits
    -- it through // and the driver's pandas fetch would render float64
    SELECT source,
           CAST((cum - n_tokens) // {SHARD_TOKENS} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           {duck_fingerprint('doc_id')} AS doc_fingerprint
    FROM c
    GROUP BY source, shard_id
    ORDER BY source, shard_id
    """,
    tags=("sampling", "llm-pipeline", "sharding"),
)
def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget export sharding: lay each source's documents on a
    token number line (hash-shuffled order, so shards are topic-mixed)
    and cut a shard every {SHARD_TOKENS} tokens — the sizing step before
    writing training shards, where downstream loaders want uniform
    files.  A document belongs to the shard its *starting* offset falls
    in, so every shard except a source's last holds ≥ the budget minus
    one document — deterministic, integer-exact, reproducible across
    engines and cluster layouts.

    Scale shape: identical to ``pps_systematic_sample`` — shuffle once
    on the stratification key, per-shard window prefix-sum, no global
    ordering anywhere.  The actual file write would be
    ``partitionBy(source, shard_id)`` on this frame (sinks.py)."""
    return (
        shard_assignments(spark, sf_dir)
        .groupBy("source", "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            fingerprint("doc_id").alias("doc_fingerprint"),
        )
        .orderBy("source", "shard_id")
    )


# ---------------------------------------------------------------------------
# Document chunking with overlap (RAG / context-window export prep).
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64  # window size
CHUNK_STRIDE = 48  # 16-token overlap between consecutive windows


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, n,
               CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                    ELSE (n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1
               END AS n_chunks,
               w
        FROM d
    ),
    x AS (
        SELECT doc_id, n, n_chunks,
               unnest(range(0, n_chunks)) AS chunk_idx,
               w
        FROM c
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(LEAST({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE}) AS BIGINT) AS chunk_tokens,
           ('0x' || substring(md5(array_to_string(
               w[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
               ' ')), 1, 15))::BIGINT AS chunk_fp
    FROM x
    ORDER BY doc_id, chunk_idx
    """,
    tags=("sampling", "llm-pipeline", "chunking"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows per document — the RAG /
    context-window chunker: stride 48 over windows of 64 tokens, last
    window ragged, every token covered by >= 1 chunk.  Emits the exact
    chunk fingerprint so the gate proves chunk CONTENT, not just counts.

    Scale shape: one corpus scan, chunks generated row-locally by
    explode (no shuffle; ~n/stride output rows per doc); the gate's
    ORDER BY is presentation-only.  At 100 TB chunking is embarrassingly
    parallel and stays inside whole-stage codegen."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.floor((n - CHUNK_TOKENS + CHUNK_STRIDE - 1) / CHUNK_STRIDE).cast("long") + 1
    )
    x = d.select(
        "doc_id",
        n.alias("n"),
        w.alias("w"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("w"), (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
    )
    return x.select(
        "doc_id",
        "chunk_idx",
        F.least(F.lit(CHUNK_TOKENS).cast("long"), F.col("n") - F.col("chunk_idx") * CHUNK_STRIDE)
        .alias("chunk_tokens"),
        md5_60(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "dedup_chunk_boilerplate",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, n,
               CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                    ELSE (n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1
               END AS n_chunks, w
        FROM d
    ),
    x AS (
        SELECT doc_id,
               unnest(range(0, n_chunks)) AS chunk_idx, w
        FROM c
    ),
    fp AS (
        SELECT doc_id,
               ('0x' || substring(md5(array_to_string(
                   w[chunk_idx * {CHUNK_STRIDE} + 1 : chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                   ' ')), 1, 15))::BIGINT AS chunk_fp
        FROM x
    ),
    g AS (
        SELECT chunk_fp,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM fp GROUP BY chunk_fp
    )
    SELECT * FROM g WHERE n_docs >= 2
    ORDER BY chunk_fp
    """,
    tags=("sampling", "llm-pipeline", "chunking", "dedup"),
)
def dedup_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup: fingerprint every overlapping
    64-token window (same chunker as doc_chunk_windows) and surface the
    chunks shared by >= 2 distinct documents — cross-document boilerplate
    that document-level dedup cannot see, removed before packing in a
    pre-training pipeline.

    Scale shape: chunker's row-local explode, then ONE aggregation keyed
    by the 60-bit chunk fingerprint (count + distinct-doc count both
    map-side combinable via partial aggregation).  The shared-chunk
    result is vanishingly small next to the corpus, so the filter
    discards almost everything before the presentation sort."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.floor((n - CHUNK_TOKENS + CHUNK_STRIDE - 1) / CHUNK_STRIDE).cast("long") + 1
    )
    x = d.select(
        "doc_id",
        w.alias("w"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("w"), (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"), CHUNK_TOKENS
    )
    fp = x.select(
        "doc_id",
        md5_60(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )
    return (
        fp.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("chunk_fp")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance-weighted domain sampling (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — exact-integer
# hashed-unigram formulation).
# ---------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"  # the target domain whose distribution we match
DSIR_CAP_MILLI = 4000  # importance-weight cap (max 4x the base rate)


@register(
    "importance_weighted_sample",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    t2 AS (SELECT * FROM toks WHERE token != ''),
    tot AS (
        SELECT count(*) AS all_tot,
               sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS tgt_tot
        FROM t2
    ),
    cnt AS (
        SELECT doc_id, source,
               count(*) OVER (PARTITION BY token) AS all_c,
               sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY token) AS tgt_c
        FROM t2
    ),
    rat AS (
        SELECT doc_id, source,
               ((tgt_c + 1) * all_tot * 1000) // ((all_c + 1) * GREATEST(tgt_tot, 1)) AS r
        FROM cnt, tot
    ),
    perdoc AS (
        SELECT doc_id, source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(least(sum(r) // count(*), {DSIR_CAP_MILLI}) AS BIGINT) AS w_milli
        FROM rat GROUP BY doc_id, source
    )
    SELECT doc_id, source, n_tokens, w_milli,
           {duck_hash60("'dsir|' || CAST(doc_id AS VARCHAR)")} % 10000 < w_milli AS keep
    FROM perdoc
    ORDER BY doc_id
    """,
    tags=("sampling", "llm-pipeline", "importance", "dsir"),
)
def importance_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling toward a target domain: each
    document's keep-probability is proportional to how much more likely
    its unigrams are under the target-domain distribution than under the
    whole corpus.  Per token the importance ratio
    p_target(tok) / p_corpus(tok) is computed from hashed-unigram counts
    in exact integer milli-units ((tgt_c+1)·all_tot·1000 div
    (all_c+1)·tgt_tot — add-one smoothed), averaged per document by
    integer division, capped at {DSIR_CAP_MILLI} milli, and fed into the
    same hash-threshold Bernoulli draw as corpus_hash_sample — so the
    sampling decision stays a pure function of doc_id and the corpus
    statistics, reproducible under any partitioning.

    Scale shape: the per-token counts are two window passes keyed by
    token (the LM-count shuffle — partial-count map-side, AQE splits
    Zipf stragglers), the corpus totals are ONE broadcast scalar row, and
    the per-doc mean is one exchange keyed by doc_id.  In production the
    target histogram comes from a small held-out domain sample and both
    count maps broadcast; here both live in-corpus so the gate can pin
    every intermediate exactly."""
    docs = load(spark, sf_dir, "documents")
    is_tgt = F.when(F.col("source") == DSIR_TARGET_SOURCE, F.lit(1)).otherwise(
        F.lit(0)
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).where(F.col("token") != "")
    tot = toks.agg(
        F.count(F.lit(1)).alias("all_tot"), F.sum(is_tgt).alias("tgt_tot")
    )
    w = Window.partitionBy("token")
    cnt = toks.withColumn("all_c", F.count(F.lit(1)).over(w)).withColumn(
        "tgt_c", F.sum(is_tgt).over(w)
    )
    rat = cnt.crossJoin(F.broadcast(tot)).withColumn(
        "r",
        F.expr("((tgt_c + 1) * all_tot * 1000) div ((all_c + 1) * GREATEST(tgt_tot, 1))"),
    )
    perdoc = rat.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.least(
            F.expr("sum(r) div count(1)"), F.lit(DSIR_CAP_MILLI).cast("long")
        ).alias("w_milli"),
    )
    keep = (
        hash60(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string"))) % 10000
        < F.col("w_milli")
    )
    return perdoc.select(
        "doc_id", "source", "n_tokens", "w_milli", keep.alias("keep")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic global training-order shuffle: the "shuffle the corpus
# before training" step as a hash sort + shard/position assignment.
# ---------------------------------------------------------------------------

SHUFFLE_N_SHARDS = 8


@register(
    "corpus_shuffle_order",
    oracle=f"""
    WITH ordered AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY {duck_hash60("'shuf|' || CAST(doc_id AS VARCHAR)")},
                            doc_id) - 1 AS global_pos
        FROM documents
    )
    SELECT doc_id,
           CAST(global_pos AS BIGINT) AS global_pos,
           CAST(global_pos % {SHUFFLE_N_SHARDS} AS BIGINT) AS shard,
           CAST(global_pos // {SHUFFLE_N_SHARDS} AS BIGINT) AS pos_in_shard
    FROM ordered
    ORDER BY doc_id
    """,
    tags=("sampling", "llm-pipeline", "shuffle"),
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training: every document
    gets a pseudo-random global position (rank of a salted hash — the
    seeded-permutation analog), then round-robin shard + in-shard
    position.  Training pipelines need a reproducible corpus permutation
    that does not depend on file layout; hash-rank gives exactly that.

    Scale shape: the global rank is computed WITHOUT a global window —
    the terasort two-phase pattern: (1) rows fall into 256 contiguous
    hash-prefix ranges (``hkey div 2^52`` — uniform by hash
    construction, so no sampling pass is needed for balance), (2) tiny
    per-bucket counts roll into broadcast cumulative offsets, (3) each
    bucket ranks internally (row_number partitioned by bucket) and adds
    its offset.  Every corpus-sized exchange is keyed by bucket; the
    only single-partition step is the 256-row offset cumsum.  The
    DuckDB oracle states the same permutation as one global ROW_NUMBER —
    the two formulations are equal because buckets are contiguous hash
    ranges.  Output is the (doc → shard, position) manifest a 1000-node
    export job writes per shard."""
    docs = load(spark, sf_dir, "documents")
    hkey = hash60(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", hkey.alias("hkey")).withColumn(
        "bucket", F.expr(f"hkey div {1 << 52}")
    )
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("offset")
    )
    w_bucket = Window.partitionBy("bucket").orderBy("hkey", "doc_id")
    ordered = (
        keyed.withColumn("r", F.row_number().over(w_bucket) - 1)
        .join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id", (F.col("offset") + F.col("r")).cast("long").alias("global_pos")
        )
    )
    return ordered.select(
        "doc_id",
        "global_pos",
        (F.col("global_pos") % SHUFFLE_N_SHARDS).alias("shard"),
        F.expr(f"global_pos div {SHUFFLE_N_SHARDS}").alias("pos_in_shard"),
    ).orderBy("doc_id")
