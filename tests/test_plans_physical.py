"""Physical-plan regression tests: the properties that make these queries
scale-correct must survive refactors — filters reach the scan, small dims
broadcast, fact tables pre-aggregate before joins, projections prune."""

from __future__ import annotations

import pytest

from rust_near_indexer_spark.queries import load_registry


def _plan(spark, name: str, sf_dir: str) -> str:
    df = load_registry()[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filters_push_to_parquet_scan(spark, sf_dir):
    plan = _plan(spark, "shipping_priority", sf_dir)
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    # date filters reach both fact scans
    assert plan.count("PushedFilters") >= 3


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "text_stats", sf_dir)
    # only the two referenced columns are read from the 5-column table
    assert "ReadSchema: struct<text:string,source:string>" in plan


def test_gold_broadcasts_assets_dim(spark, sf_dir):
    plan = _plan(spark, "gold_intents_metrics", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_top_customers_aggregates_before_join(spark, sf_dir):
    """The fact table must pre-aggregate: a HashAggregate has to appear
    below the join in the plan tree (partial aggregation of orders),
    i.e. the join input is the aggregate, not raw order rows."""
    plan = _plan(spark, "top_customers", sf_dir)
    join_pos = plan.find("Join")
    agg_pos = plan.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    # formatted explain lists operators leaves-first: the orders-side
    # aggregate nodes must exist in addition to the final aggregate
    assert plan.count("HashAggregate") >= 2


def test_lsh_ann_prunes_by_bucket(spark, sf_dir):
    """The bucketed ANN must join on the bucket key (pruned search), not
    cross-join the corpus."""
    plan = _plan(spark, "ann_lsh_bucketed_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_ann_broadcasts_centroids(spark, sf_dir):
    """IVF assignment and probing broadcast the 16-row centroid table;
    the candidate scan is an equi-join on list_id, never all-pairs over
    the corpus."""
    plan = _plan(spark, "ann_ivf_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_bruteforce_ann_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, "ann_bruteforce_topk", sf_dir)
    assert "Broadcast" in plan


@pytest.mark.parametrize(
    "name", ["pricing_summary", "silver_nep245_events", "dedup_exact"]
)
def test_no_python_udfs_in_relational_paths(spark, sf_dir, name):
    """The parity surface stays JVM-side: no BatchEvalPython / ArrowEval
    nodes outside the by-design multimodal mapInPandas."""
    plan = _plan(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_bench_side(spark, sf_dir):
    """The held-out benchmark shingles must broadcast (eval sets are tiny
    vs the corpus); the corpus-side shingles never shuffle for the join."""
    plan = _plan(spark, "benchmark_decontamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_df_rides_window_no_join(spark, sf_dir):
    """Document frequency attaches as a window count over the tf rows
    keyed by term (r12 rewrite, guide §2.4) — NOT as a groupBy-df table
    joined back onto tf, which cost a second full tf exchange plus the
    aggregate's own.  Pin: no SortMergeJoin anywhere (the only join left
    is the 1-row n_sources broadcast cross attach), and a Window node
    computes df."""
    plan = _plan(spark, "tfidf_top_terms", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_src attach


def test_repetition_filter_is_scan_only(spark, sf_dir):
    """The repetition filter is a pure per-row projection: no Exchange
    at all before the presentation sort."""
    plan = _plan(spark, "text_repetition_filter", sf_dir)
    # no data-driven hash shuffle (joins/aggregations); the only
    # hashpartitioning is spread()'s explicit REPARTITION_BY_NUM widening
    # of the compact scan (self-disabling at scale), plus the
    # presentation sort's rangepartitioning
    import re
    hashes = [
        ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln
    ]
    assert all("REPARTITION_BY_NUM" in ln for ln in hashes), hashes
    assert len(hashes) <= 1


def test_chunking_is_scan_only(spark, sf_dir):
    """Chunk generation is row-local explode: no hash shuffle before the
    presentation sort."""
    plan = _plan(spark, "doc_chunk_windows", sf_dir)
    assert plan.count("Arguments: hashpartitioning") == 0


def test_knn_broadcasts_query_side(spark, sf_dir):
    """The kNN scan broadcasts the query set over one corpus pass; the
    unbounded corpus side never becomes a cartesian input."""
    plan = _plan(spark, "knn_label_vote", sf_dir)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_normalized_dedup_single_aggregation(spark, sf_dir):
    """Normalize-then-dedup costs exactly one hash shuffle (the groupBy
    on the normalized key) — the regex pass adds no exchange.  Formatted
    explain names the partitioning in Arguments lines, so count the
    hashpartitioning mentions (1 Exchange) and allow the presentation
    sort's rangepartitioning."""
    plan = _plan(spark, "text_normalized_dedup", sf_dir)
    assert plan.count("Arguments: hashpartitioning") == 1
    assert plan.count("Exchange") <= 4  # tree node + detail, x2 exchanges


def test_substring_spans_no_cartesian_and_pruned_scan(spark, sf_dir):
    """Substring-span dedup must stay bucketed: window fingerprints
    exchange on fp / doc_id only — never an all-pairs join — and the
    token arrays themselves must not survive past the scan stage into a
    shuffle (only doc_id, pos, fp are exchanged)."""
    plan = _plan(spark, "dedup_substring_spans", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # only doc_id + text leave the parquet scan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_quality_classifier_single_exchange(spark, sf_dir):
    """The hashed linear classifier is scan → project → one aggregation
    keyed by doc_id: exactly one shuffle exchange in the whole plan."""
    plan = _plan(spark, "quality_classifier_score", sf_dir)
    # formatted explain renders each node twice (tree + detail section)
    n_exchange = (plan.count("Exchange") - plan.count("BroadcastExchange")) // 2
    # one shuffle for the doc_id aggregate + the presentation sort
    assert n_exchange <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_diversified_topk_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, "ann_diversified_topk", sf_dir)
    assert "Broadcast" in plan


def test_lm_bigram_score_partial_aggregates(spark, sf_dir):
    """The bigram LM counts run as JVM window passes over the exploded
    bigrams — no Python fallback, no all-pairs join."""
    plan = _plan(spark, "lm_bigram_score", sf_dir)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_cms_partial_aggregation_and_broadcast_probe(spark, sf_dir):
    """The count-min sketch must combine map-side (≤256 cells leave
    each task, one small shuffle) and probe the cells via broadcast —
    the shape VERDICT r09 #4 asked to pin while adjudicating the
    0.8→1.1s drift (measured: plan unchanged since r08; the residual
    delta is session warmth, reps in the r10 plans notes in git history)."""
    plan = _plan(spark, "token_cms_heavy_hitters", sf_dir)
    assert "partial_count" in plan  # map-side combine engaged
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_importance_sample_broadcasts_totals(spark, sf_dir):
    """DSIR sampling must broadcast the 1-row corpus totals (never
    shuffle-join a scalar) and keep the token counts as window passes —
    no all-pairs anywhere."""
    plan = _plan(spark, "importance_weighted_sample", sf_dir)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_cohesion_stats_has_no_pair_join(spark, sf_dir):
    """The Gram-identity cohesion statistic must stay O(n): two linear
    aggregations joined per label — no self-join of the embeddings table
    (the whole point vs the n^2 formulation)."""
    plan = _plan(spark, "embedding_cohesion_stats", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only join is label-keyed between two aggregates
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") >= 1


def test_contrastive_mining_broadcasts_anchors(spark, sf_dir):
    plan = _plan(spark, "contrastive_pair_mining", sf_dir)
    assert "Broadcast" in plan


def test_shuffle_order_rank_is_bucketed(spark, sf_dir):
    """The global training-order rank must come from the two-phase
    terasort pattern: per-bucket window + broadcast offsets — the only
    single-partition exchange in the plan feeds the 256-row offset
    cumsum, never the corpus."""
    plan = _plan(spark, "corpus_shuffle_order", sf_dir)
    assert "hashpartitioning(bucket" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_gapfill_grid_is_broadcast(spark, sf_dir):
    """The dense time grid comes from a broadcast 2-value bounds row ×
    the distinct event types — the corpus-sized aggregate joins the tiny
    grid, never the reverse, and the LOCF window partitions by type (no
    global ordering)."""
    plan = _plan(spark, "gapfill_locf_timeseries", sf_dir)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_cluster_balanced_sample_rank_rides_group_limit(spark, sf_dir):
    """The per-cluster rank<=K filter must be recognized by Spark's
    WindowGroupLimit rule (running top-K per partition — the full
    per-cluster sort never materializes), and centroid assignment
    broadcasts the K-row centroid table."""
    plan = _plan(spark, "cluster_balanced_sample", sf_dir)
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_small_quantity_revenue_single_scan_window(spark, sf_dir):
    """The Q17-shape per-part average gate rides a window over ONE
    partkey exchange (r12): no second lineitem scan for the aggregate,
    no join at all, and the isNotNull guard (replicating the old inner
    join's null-key drop) reaches the parquet scan."""
    plan = _plan(spark, "small_quantity_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert "Window" in plan
    # formatted explain renders each node twice (tree + detail): 1 scan
    assert plan.count("Scan parquet") == 2
    assert "IsNotNull(l_partkey)" in plan


def test_nation_pair_volume_broadcasts_nations(spark, sf_dir):
    plan = _plan(spark, "nation_pair_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """Both SCD-2 windows (lag change-detect, lead interval-close) order
    by the same user_id partitioning — exactly one hash exchange in the
    whole plan besides the presentation sort."""
    plan = _plan(spark, "user_state_scd2", sf_dir)
    # formatted explain renders nodes twice (tree + detail)
    n_hash = plan.count("Arguments: hashpartitioning")
    assert n_hash == 1, plan


def test_funnel_has_no_cartesian_or_python(spark, sf_dir):
    plan = _plan(spark, "conversion_funnel", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_range_frame_single_exchange(spark, sf_dir):
    """The RANGE-frame rolling window costs one user-keyed exchange; the
    filter on event_type reaches the parquet scan."""
    plan = _plan(spark, "rolling_3day_user_spend", sf_dir)
    assert "PushedFilters" in plan and "purchase" in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_quartiles_ntile_runs_on_aggregate(spark, sf_dir):
    """NTILE's total-order pass must consume the per-customer aggregate
    (HashAggregate below the Window), never raw orders rows."""
    plan = _plan(spark, "customer_spend_quartiles", sf_dir)
    assert "Window" in plan and "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_join_no_arrays_no_cartesian(spark, sf_dir):
    """Candidate generation is an equi-join on shingle strings (never
    a cartesian); verification (r09) joins the checkpointed per-doc
    arrays as bounded payload and intersects map-side — no Python, no
    BroadcastNestedLoopJoin, arrays never a partitioning key."""
    plan = _plan(spark, "dedup_prefix_filter_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    # r12: the window-based df/size + rank chain runs ONCE inside the
    # prefix checkpoint job (materialized before the self-join — the
    # un-materialized form re-ran the whole explode + two-window chain
    # per self-join branch); the returned plan joins the checkpointed
    # prefix (ExistingRDD scans), so no Window may appear here at all.
    assert "Window" not in plan
    assert "ExistingRDD" in plan
    assert "HashAggregate" in plan


# --- round-5 batch-2/3 plan pins (node-counted from formatted explain) ----


def _node_counts(spark, name, sf_dir):
    import re as _re
    from collections import Counter

    plan = _plan(spark, name, sf_dir)
    nodes = Counter(
        m.group(1) for m in _re.finditer(r"^\(\d+\) ([A-Za-z]+)", plan, _re.M)
    )
    return plan, nodes


def test_islands_windows_share_one_exchange(spark, sf_dir):
    """Both island window passes (running max-end, break-count) ride ONE
    user_id hash exchange — no per-window re-shuffle, no interval
    self-join."""
    plan, nodes = _node_counts(spark, "interval_merge_islands", sf_dir)
    assert plan.count("hashpartitioning(") == 1
    assert nodes.get("Join", 0) == 0 and nodes.get("CartesianProduct", 0) == 0


def test_ohlc_single_hash_exchange(spark, sf_dir):
    """Open/close row_number windows and the candle aggregate share one
    (event_type, bucket) hash exchange; the desc window re-sorts, never
    re-shuffles."""
    plan, nodes = _node_counts(spark, "ohlc_candles", sf_dir)
    assert plan.count("hashpartitioning(") == 1
    assert nodes["Window"] == 2 and nodes["Sort"] >= 2


def test_zscore_single_window_pass(spark, sf_dir):
    """count/sum/sum-sq share one sliding frame: exactly one Window node
    over one user hash exchange."""
    plan, nodes = _node_counts(spark, "rolling_zscore_anomaly", sf_dir)
    assert plan.count("hashpartitioning(") == 1
    assert nodes["Window"] == 1


def test_column_profile_two_pruned_scans_hash_distinct(spark, sf_dir):
    """The profile runs as exactly TWO pruned columnar scans (r12 split):
    the multi-distinct Expand pass alone — which therefore plans as
    HashAggregate, not SortAggregate — plus a global no-Expand min/max/
    count pass.  One combined agg would drag the string min/max buffers
    (immutable agg-buffer types) into the Expand tree and force every
    level to SortAggregate: a full sort of the ×6-expanded table.  Never
    one scan per column (the oracle's UNION shape)."""
    plan, nodes = _node_counts(spark, "column_profile", sf_dir)
    assert nodes["Scan"] == 2
    assert nodes["Expand"] == 1
    # the Expand/distinct tree must hash-aggregate; the only
    # SortAggregates allowed are the global (keys: []) min/max pass
    import re as _re

    for m in _re.finditer(r"^\((\d+)\) SortAggregate", plan, _re.M):
        detail = plan[m.end():].splitlines()[:4]
        assert any(ln.strip() == "Keys: []" for ln in detail), (m.group(0), detail)


def test_pmi_broadcasts_unigram_counts(spark, sf_dir):
    """Both unigram-count joins and the 1-row total broadcast; the final
    top-N is a TakeOrdered, not a global sort."""
    plan, nodes = _node_counts(spark, "token_pmi_phrases", sf_dir)
    assert nodes.get("BroadcastExchange", 0) >= 3
    assert "TakeOrderedAndProject" in plan
    assert nodes.get("CartesianProduct", 0) == 0


def test_boolean_retrieval_has_no_join(spark, sf_dir):
    """The query-term filter runs map-side on the exploded token and doc
    metadata rides the grouping keys — zero join nodes, one scan."""
    plan, nodes = _node_counts(spark, "boolean_and_retrieval", sf_dir)
    assert not any("Join" in n for n in nodes)
    assert nodes["Scan"] == 1


def test_fuzzy_join_blocks_are_equi_joined(spark, sf_dir):
    """Candidate generation is an equi-join on the block key over the
    name dictionary — never a cartesian over names or rows."""
    plan, nodes = _node_counts(spark, "fuzzy_edit_distance_join", sf_dir)
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 0
    assert any(n.endswith("HashJoin") or n == "SortMergeJoin" for n in nodes)


def test_modal_event_rides_window_group_limit(spark, sf_dir):
    """The rn=1 argmax plans as WindowGroupLimit (partial + final), so
    per-user candidates never fully sort."""
    plan, nodes = _node_counts(spark, "user_modal_event", sf_dir)
    assert nodes.get("WindowGroupLimit", 0) >= 1


def test_cube_lowers_to_one_expand_one_exchange(spark, sf_dir):
    """CUBE = one Expand + one aggregation hash exchange, like ROLLUP."""
    plan, nodes = _node_counts(spark, "cube_returns_by_status", sf_dir)
    assert nodes["Expand"] == 1
    assert plan.count("hashpartitioning(") == 1


def test_reconcile_diff_aggregates_before_outer_join(spark, sf_dir):
    """Both snapshots reduce to (key, long) BEFORE the full-outer join:
    partial+final aggregates per snapshot, and the join is an equi
    full-outer — no fact-row join."""
    plan, nodes = _node_counts(spark, "snapshot_reconcile_diff", sf_dir)
    assert nodes["HashAggregate"] >= 4
    assert "FullOuter" in plan


def test_equi_depth_histogram_rank_is_range_partitioned(spark, sf_dir):
    """VERDICT r05 #1: the NTILE-equivalent global rank must come from
    the two-phase terasort pattern — a rangepartitioning exchange into
    contiguous (cents, orderkey) ranges, per-range row_number windows
    keyed by the range id, and broadcast cumulative offsets.  The only
    single-partition window is the #partitions-row offset cumsum; no
    corpus-sized global Window remains.  The range exchange lives in the
    subtree _pin materialized (the checkpoint truncates it out of the
    final explain), so it is asserted via ranking.PINNED_PLANS."""
    from rust_near_indexer_spark.operators import ranking

    ranking.PINNED_PLANS.clear()
    plan, nodes = _node_counts(spark, "equi_depth_histogram", sf_dir)
    assert any("rangepartitioning(cents" in p for p in ranking.PINNED_PLANS)
    assert "hashpartitioning(pid" in plan
    assert nodes.get("BroadcastExchange", 0) >= 1 or "BroadcastHashJoin" in nodes
    assert nodes.get("CartesianProduct", 0) == 0


def test_pareto_frontier_prefix_is_range_partitioned(spark, sf_dir):
    """The skyline's prefix-max must be the two-phase pattern: a
    rangepartitioning exchange on day, per-range windows keyed by pid,
    broadcast cross-partition maxima — no corpus-sized global Window.
    The range exchange is asserted via the _pin inspection hook (the
    checkpoint truncates it out of the final explain)."""
    from rust_near_indexer_spark.operators import ranking

    ranking.PINNED_PLANS.clear()
    plan, nodes = _node_counts(spark, "pareto_frontier_orders", sf_dir)
    assert any("rangepartitioning(day" in p for p in ranking.PINNED_PLANS)
    assert "hashpartitioning(pid" in plan
    assert nodes.get("BroadcastExchange", 0) >= 1
    assert nodes.get("CartesianProduct", 0) == 0


def test_skew_profile_is_one_count_pass(spark, sf_dir):
    """The per-key count is computed ONCE (materialized) and reused by
    both the global-stats side and the top-N — the fact table is never
    scanned twice, and the 1-row stats ride a broadcast."""
    plan, nodes = _node_counts(spark, "join_key_skew_profile", sf_dir)
    assert plan.count("Scan parquet") == 0  # consumed via the checkpoint
    assert nodes.get("BroadcastExchange", 0) >= 1
    assert nodes.get("CartesianProduct", 0) == 0


def test_label_propagation_rounds_are_equi_joins(spark, sf_dir):
    """Every LP round is an equi-join + min-agg over (node, long)
    pairs — no cartesian, no nested-loop join anywhere in the plan."""
    plan, nodes = _node_counts(spark, "label_propagation_communities", sf_dir)
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 0


def test_ewma_is_single_keyed_exchange(spark, sf_dir):
    """The sequential fold shuffles ONCE on user_id into a
    partition-level Arrow mapInPandas (per-group applyInPandas calls
    cost ~ms of pandas overhead each — death by a thousand tiny
    groups); rows arrive pre-sorted within the partition."""
    plan, nodes = _node_counts(spark, "ewma_user_value", sf_dir)
    assert plan.count("hashpartitioning(user_id") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_containment_join_has_no_array_shuffles_or_cartesian(spark, sf_dir):
    """Candidate generation must be the prefix-filtered EQUI-join on
    rare shingles (never all-pairs); verification joins the
    checkpointed arrays as bounded per-doc PAYLOAD — no cartesian, no
    nested-loop, no array column as a partitioning KEY in any exchange,
    and both window passes (df by s, rank by doc) present exactly once.
    (An exchange-reuse assertion was tried in r09 and dropped: the
    self-join's attribute de-duplication re-aliases the subtree and AQE
    does not match the stages — see advanced.py's inline note.)"""
    plan, nodes = _node_counts(spark, "dedup_containment_join", sf_dir)
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 0
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "sh#" not in m.group(1)  # arrays never a partition key
    # the probe side ranks by document-frequency exactly once; no
    # third window pass sneaks in via a refactor
    assert plan.count("row_number()") == 1


def test_cooccurrence_pairs_expand_from_baskets_no_join(spark, sf_dir):
    """Pair generation explodes each order's sorted basket array (r12
    rewrite): fanout stays bounded by basket size squared exactly like
    the old self-join on the basket key, but on ONE materialized basket
    table instead of three lineitem scans — and with no SortMergeJoin.
    The pair count is one map-combined aggregate; the 1-row basket
    total attaches as a broadcast cross."""
    plan, nodes = _node_counts(spark, "item_cooccurrence_pairs", sf_dir)
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("SortMergeJoin", 0) == 0
    assert nodes.get("Generate", 0) == 1  # the in-basket pair expansion
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 1  # 1-row total


def test_spend_quartiles_ntile_is_range_partitioned(spark, sf_dir):
    """customer_spend_quartiles now rides the shared two-phase rank:
    rangepartitioning on the (spend, custkey) order, pid-keyed windows,
    broadcast carry — no global single-partition window remains.  The
    range exchange is asserted via the _pin inspection hook (the
    checkpoint truncates it out of the final explain)."""
    from rust_near_indexer_spark.operators import ranking

    ranking.PINNED_PLANS.clear()
    plan, nodes = _node_counts(spark, "customer_spend_quartiles", sf_dir)
    assert any("rangepartitioning(spend_cents" in p for p in ranking.PINNED_PLANS)
    assert "hashpartitioning(pid" in plan
    assert nodes.get("BroadcastExchange", 0) >= 1


def test_pq_adc_codebook_broadcasts_and_topk_rides_group_limit(spark, sf_dir):
    """PQ-ADC: the 64-row codebook and the query LUT broadcast; the
    argmin and ADC sums are map-combined aggregates; the per-query
    top-k is a WindowGroupLimit; nothing cartesian."""
    plan, nodes = _node_counts(spark, "ann_pq_adc_topk", sf_dir)
    assert nodes.get("BroadcastExchange", 0) >= 2  # codebook + LUT
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("WindowGroupLimit", 0) >= 1
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "sv#" not in m.group(1) and "qe#" not in m.group(1)


def test_phrase_retrieval_postings_computed_once(spark, sf_dir):
    """The corpus is tokenized+filtered ONCE (materialized postings);
    the three positional branches and their equi-joins consume the
    checkpoint — zero parquet re-scans, no cartesian."""
    plan, nodes = _node_counts(spark, "phrase_retrieval", sf_dir)
    assert plan.count("Scan parquet") == 0
    assert nodes.get("CartesianProduct", 0) == 0
    assert nodes.get("BroadcastNestedLoopJoin", 0) == 0


def test_doc_length_percentiles_rank_is_grouped_two_phase(spark, sf_dir):
    """The per-language rank must come from the grouped two-phase range
    rank — no one-reducer-per-language window remains (a dominant
    language would straggle); carry table broadcast-joined back."""
    from rust_near_indexer_spark.operators import ranking

    ranking.PINNED_PLANS.clear()
    plan, nodes = _node_counts(spark, "doc_length_percentiles", sf_dir)
    # the final plan's rangepartitioning(lang is only the presentation
    # sort — the grouped-rank exchange is asserted in the pinned subtree
    assert any("rangepartitioning(lang" in p for p in ranking.PINNED_PLANS)
    assert nodes.get("BroadcastExchange", 0) >= 1
