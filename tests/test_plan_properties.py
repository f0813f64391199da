"""Physical-plan regression tests: correctness tests prove the WHAT,
these pin the HOW — the plan properties that make the operators viable
at cluster scale. If a refactor silently turns a broadcast join into a
shuffled one, drops a parquet pushdown, or introduces a cartesian
product into a dedup path, these fail before any benchmark notices."""

from __future__ import annotations

import pytest

from nyc_taxi_data_engineering_spark.queries import run


def _plan(spark, sf_dir, name: str) -> str:
    # Plan pins must be order-independent: a cached sub-plan left behind
    # would substitute InMemoryRelation for a FileScan and flip
    # scan-count assertions. The runner releases every cache after each
    # query, here and in the parity suite that shares this session.
    def executed_plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    return run(spark, name, sf_dir, executed_plan)[0]


def test_flagship_pushdown_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "daily_vendor_revenue")
    # filter reaches the lineitem scan; supplier dim is broadcast
    assert "PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice,0.0)" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # aggregation is partial+final (map-side combine)
    assert "partial_sum" in plan


def test_flagship_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "daily_vendor_revenue")
    # lineitem has 16 columns; the scan must read only the 4 used
    scan = next(line for line in plan.splitlines() if "FileScan" in line and "lineitem" in line)
    read_schema = scan.split("ReadSchema:")[1]
    assert read_schema.count(":") <= 5  # 4 fields (+1 for 'struct<')
    assert "l_comment" not in read_schema


def test_enrichment_broadcasts_both_dim_roles(spark, sf_dir):
    plan = _plan(spark, sf_dir, "enrich_lineitem_nations")
    # every dim join (supplier->nation role-play x2, customer) broadcasts;
    # only the fact-to-fact lineitem<->orders join may shuffle
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") <= 1


def test_ri_gate_is_broadcast(spark, sf_dir):
    for q in ("ri_gate_kept_by_supplier", "ri_gate_orphans"):
        plan = _plan(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q


def test_dedup_paths_have_no_cartesian_product(spark, sf_dir):
    """Candidate generation must stay a keyed equi-join at any scale."""
    for q in (
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs",
        "simhash_neardup_pairs",
        "embedding_neardup_pairs",
    ):
        plan = _plan(spark, sf_dir, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_ann_broadcasts_query_side(spark, sf_dir):
    """Brute-force top-k must broadcast the tiny query set (nested-loop
    over the corpus scan), never shuffle the corpus."""
    plan = _plan(spark, sf_dir, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_text_scan_prunes_to_used_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_token_stats")
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "doc_id" in scan and "text" in scan
    assert "source" not in scan and "lang" not in scan


def test_scd2_verify_aggregates_with_partial_combine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scd2_verify_ok")
    assert "partial_count" in plan or "partial_" in plan


@pytest.mark.parametrize("q", ["events_tumbling_stats", "events_user_sessions"])
def test_event_windows_single_shuffle(spark, sf_dir, q):
    """Windowed aggs need exactly one exchange (the group-by); extra
    exchanges would mean a lost pre-aggregation at scale."""
    plan = _plan(spark, sf_dir, q)
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges == 1, f"{q}: {n_exchanges} exchanges"


@pytest.mark.parametrize(
    "q",
    ["orders_rollup_nation_year", "orders_cube_priority_status", "orders_grouping_sets_audit"],
)
def test_grouping_sets_expand_once(spark, sf_dir, q):
    """ROLLUP/CUBE must plan as ONE Expand + one aggregation shuffle —
    if Catalyst ever fell back to a union of per-set scans this would
    multiply the 100 TB read by the number of grouping sets."""
    plan = _plan(spark, sf_dir, q)
    assert plan.count("Expand") >= 1, q
    n_exchanges = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert n_exchanges == 1, f"{q}: {n_exchanges} agg exchanges"
    assert plan.count("FileScan") <= 3, q  # one per input table, not per set


def test_intersect_plans_as_semi_join(spark, sf_dir):
    """INTERSECT must become aggregate + (semi) hash join, never a
    nested-loop or cartesian comparison."""
    plan = _plan(spark, sf_dir, "parts_returned_both_flags")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_point_in_time_join_is_keyed(spark, sf_dir):
    """The as-of enrichment must hash/sort-merge on the entity key with
    the interval predicate as a post-join filter — an interval-only
    join would be a cartesian product at scale."""
    plan = _plan(spark, sf_dir, "asof_customer_versions")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_queries_single_shuffle(spark, sf_dir):
    """Top-k-per-group and lag run off one exchange on the partition
    key (the agg in customer_order_gaps reuses the window's
    partitioning — no second shuffle)."""
    for q in ("top_orders_per_customer", "customer_order_gaps"):
        plan = _plan(spark, sf_dir, q)
        n_exchanges = sum(
            1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
        )
        assert n_exchanges == 1, f"{q}: {n_exchanges} exchanges"


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The keyless interval join must plan as a bucket equi-join, never
    a (broadcast) nested loop over events x windows."""
    plan = _plan(spark, sf_dir, "events_in_surge_windows")
    assert "CartesianProduct" not in plan
    # the events x windows match is a hash join on the derived bucket
    assert any("BroadcastHashJoin" in ln and "_rj_bucket" in ln for ln in plan.splitlines())
    # the only nested loop allowed is the 1-row scalar-threshold compare
    # against the already-aggregated (tiny) windows table
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln or "CartesianProduct" in ln:
            assert "thr" in ln, ln


def test_rolling_window_aggregates_before_shuffle(spark, sf_dir):
    """supplier_rolling_revenue_7d: the lineitem shuffle must carry
    partially-aggregated (supplier, day) rows, not raw lineitem — at
    100 TB the exchange then moves |suppliers| x |days| rows. The
    window's re-shuffle on supplier alone is over that tiny series, so
    two exchanges total is the cheap plan (repartitioning raw data on
    supplier first would collapse to one exchange but lose the
    map-side combine)."""
    plan = _plan(spark, sf_dir, "supplier_rolling_revenue_7d")
    assert "partial_sum" in plan  # map-side combine present
    n_exchanges = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_exchanges <= 2, n_exchanges


def test_bm25_query_side_broadcasts_no_corpus_cartesian(spark, sf_dir):
    """BM25 must probe the inverted index with broadcast joins on the
    tiny query/df/stats sides; the only nested-loop allowed is the
    1-row corpus-stats attach."""
    plan = _plan(spark, sf_dir, "bm25_search_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    nl = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nl) <= 1  # the broadcast 1-row stats cross join


def test_top_tokens_uses_take_ordered_not_global_sort(spark, sf_dir):
    """Top-K must plan as TakeOrderedAndProject (per-task partial
    top-K), never a full Sort + Limit of the vocabulary."""
    plan = _plan(spark, sf_dir, "corpus_top_tokens")
    assert "TakeOrderedAndProject" in plan
    # no global single-partition sort of the aggregated vocabulary
    assert "Sort [n_occurrences" not in plan


def test_sessionization_single_user_shuffle(spark, sf_dir):
    """Both windows and the session aggregate share ONE hash exchange
    on user_id — sessionization must not re-shuffle per stage."""
    plan = _plan(spark, sf_dir, "events_sessions")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_deciles_have_no_global_sort(spark, sf_dir):
    """Decile bucketing must use broadcast thresholds, not an NTILE
    window (which would force all customers into one task)."""
    plan = _plan(spark, sf_dir, "customer_spend_deciles")
    # NTILE is a window function — no Window node means no NTILE
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_outlier_stats_broadcast_back(spark, sf_dir):
    """Per-group moments join back to the fact table as a broadcast —
    the detector must not shuffle orders twice."""
    plan = _plan(spark, sf_dir, "order_price_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_window_is_per_key(spark, sf_dir):
    """Forward-fill must run per-supplier — a windowspec without the
    key would serialize the dense spine onto one task."""
    plan = _plan(spark, sf_dir, "supplier_daily_gapfill")
    assert "windowspecdefinition(l_suppkey" in plan


def test_profiler_is_single_scan(spark, sf_dir):
    """The profiler computes every per-column stat in one pass — the
    plan must contain exactly one FileScan of orders."""
    plan = _plan(spark, sf_dir, "profile_orders")
    assert plan.count("FileScan parquet") == 1


def test_stream_stream_join_shuffles_on_user_only(spark, sf_dir):
    """The attribution join must be a keyed join on user_id with the
    interval predicate inside the join — no nested loop."""
    plan = _plan(spark, sf_dir, "click_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_join_is_keyed_equi_join(spark, sf_dir):
    """The leakage audit must stay an inverted-index equi-join on the
    gram — never a test-doc x train-doc comparison."""
    plan = _plan(spark, sf_dir, "ngram_contamination_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # both sides dedupe (partial agg) before the join
    assert "partial" in plan


def test_repetition_metrics_aggregate_with_partial_combine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_repetition_metrics")
    assert "partial_count" in plan or "partial" in plan
    assert "CartesianProduct" not in plan


def test_balance_ranks_single_shuffle(spark, sf_dir):
    """All three rank functions share one window spec: one exchange on
    c_nationkey, one sort, one Window node."""
    plan = _plan(spark, sf_dir, "customer_balance_ranks")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_packing_window_is_per_shard(spark, sf_dir):
    """Packing must never impose a global order: the running-offset
    window sorts within (source, shard) hash partitions only."""
    plan = _plan(spark, sf_dir, "sequence_packing_bins")
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + final agg


def test_salted_agg_spreads_hot_key(spark, sf_dir):
    """The salted hot-key aggregate must shuffle on (user_id, _salt) —
    not user_id alone — in the partial phase, then re-merge on user_id.
    If the salt fell out of the exchange key, one hot user would again
    own a single reducer."""
    plan = _plan(spark, sf_dir, "events_user_stats_salted")
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert any("_salt" in line and "user_id" in line for line in exchanges), exchanges
    # Final merge keyed by user_id only (salt dropped after partials).
    assert any("_salt" not in line and "user_id" in line for line in exchanges), exchanges


def test_semdedup_broadcasts_centroids_no_corpus_shuffle_for_assign(spark, sf_dir):
    """Cluster assignment must be a broadcast nested-loop over the tiny
    centroid set (corpus stays put); the within-cluster pair join is a
    keyed equi-join on cluster_id, never a cartesian over the corpus."""
    plan = _plan(spark, sf_dir, "semantic_dedup_prune")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_budget_window_is_per_source(spark, sf_dir):
    """The running-sum window partitions by source — no global sort
    (rangepartitioning) may appear; the sort is within hash partitions."""
    plan = _plan(spark, sf_dir, "token_budget_selection")
    assert "Exchange rangepartitioning" not in plan
    assert "Window" in plan


def test_salted_join_keys_include_salt(spark, sf_dir):
    """The salted join must key on (c_custkey, _salt) — visible in the
    join node whichever physical strategy is picked (at test scale the
    tiny dim broadcasts, so the salt lives in the BroadcastHashJoin
    keys; on a shuffle join it would key the exchanges and spread a
    hot customer over salt_n reducers)."""
    plan = _plan(spark, sf_dir, "salted_enrich_order_priorities")
    join_lines = [line for line in plan.splitlines() if "Join [" in line or "Join Inner" in line or "HashJoin" in line]
    assert any("_salt" in line and "c_custkey" in line for line in join_lines), join_lines


def test_chunking_is_shuffle_free(spark, sf_dir):
    """doc_chunks_rag is a pure per-row explode: the only allowed
    exchange is the fan-out RoundRobin repartition of the scan — no
    hash shuffle, no join, no sort."""
    plan = _plan(spark, sf_dir, "doc_chunks_rag")
    assert "Generate explode" in plan
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Sort" not in plan


def test_unigram_vocab_join_broadcasts(spark, sf_dir):
    """The per-token score join must broadcast the K-row vocab side —
    a shuffled join here would re-shuffle the whole exploded corpus."""
    plan = _plan(spark, sf_dir, "unigram_lm_scores")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # top-K vocabulary must not be a global sort
    assert "TakeOrderedAndProject" in plan
    # per-doc aggregate keeps map-side combine
    assert "partial_sum" in plan


def test_shuffle_shards_single_exchange_per_shard_sort(spark, sf_dir):
    """The deterministic shuffle must cost ONE hash exchange on the
    shard key + per-shard sort — no global sort, no range exchange."""
    plan = _plan(spark, sf_dir, "corpus_shuffle_shards")
    assert sum(1 for l in plan.splitlines() if "Exchange hashpartitioning" in l) == 1
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_chunk_dedup_is_one_hash_agg(spark, sf_dir):
    """Chunk dedup = explode + ONE aggregation exchange with map-side
    combine; no joins, no sort."""
    plan = _plan(spark, sf_dir, "chunk_dedup_stats")
    assert "Generate explode" in plan
    assert "partial_count" in plan
    assert "Join" not in plan
    n_exchanges = sum(1 for l in plan.splitlines() if "Exchange hashpartitioning" in l)
    assert n_exchanges <= 2  # agg + countDistinct expand, nothing else


def test_centroid_assignment_is_hash_agg_not_window(spark, sf_dir):
    """Nearest-centroid assignment must fold its argmax into a hash
    aggregate (max(struct) with map-side partial combine), NOT rank
    all n·k scored rows through a window's sort-shuffle — with k = √n
    that window exchange is n^1.5 rows, the old dominant shuffle."""
    plan = _plan(spark, sf_dir, "semantic_dedup_prune")
    assert "Window [" not in plan  # no window anywhere in the plan
    assert "partial_max" in plan  # argmax pre-collapsed before exchange
    plan = _plan(spark, sf_dir, "ann_ivf_topk")
    assert "partial_max" in plan  # full-corpus assignment via agg
    # the only windows left rank (a) probe lists for the 8 query
    # vectors (post vec_id<8 filter) and (b) the final top-k
    assert plan.count("Window [") == 2


def test_incremental_dedup_is_keyed_joins_only(spark, sf_dir):
    """Batch-vs-corpus dedup: exact stage is a hash equi-join on the
    content hash, near-dup stage a band-bucket equi-join — never a
    cartesian product, and the within-batch canonical window
    partitions by the hash (no global sort)."""
    plan = _plan(spark, sf_dir, "incremental_dedup_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_bucket_table_broadcasts_back(spark, sf_dir):
    """The ≤256-row log-ratio table must broadcast to the feature
    stream; the only data-sized exchanges are keyed by bucket (bounded
    fan-in) and doc_id."""
    plan = _plan(spark, sf_dir, "dsir_importance_docs")
    assert "BroadcastHashJoin" in plan
    assert "Window [" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_temperature_mixture_rates_broadcast(spark, sf_dir):
    """Per-source rates (≤|sources| rows) broadcast back; the corpus
    side never sort-merge-joins."""
    plan = _plan(spark, sf_dir, "temperature_mixture_by_source")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_encode_is_hash_agg_and_tables_broadcast(spark, sf_dir):
    """PQ: the per-(vector, subspace) argmin folds into a min(struct)
    hash agg (no window over the n·K scored rows); centroids and
    distance tables broadcast; the only window ranks the final top-k
    for the 8 queries."""
    plan = _plan(spark, sf_dir, "pq_ann_topk")
    assert "partial_min" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window [") == 1


def test_bpe_pair_count_aggregates_with_partial_combine(spark, sf_dir):
    """BPE merge mining: word table and pair table both hash-agg with
    map-side combine; top-N plans as TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_dir, "bpe_merge_candidates")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan


def test_kmeans_rounds_are_hash_aggs_no_data_window(spark, sf_dir):
    """Each Lloyd round's argmin must be a hash aggregate (min(struct)
    with partial combine), never a window over the n·k scored rows;
    the only window allowed is the k-row seed renumbering."""
    plan = _plan(spark, sf_dir, "kmeans_embeddings")
    assert "partial_min" in plan  # assignment argmin pre-collapsed map-side
    # the only Window is the k-row seed renumbering; its subtree shows up
    # twice because both the centroid branch and the counts branch of the
    # final join replay it — each instance ranks exactly k rows
    assert plan.count("Window [") <= 2
    assert "BroadcastExchange" in plan  # centroids broadcast into crossJoin


def test_correlation_matrix_is_single_scan_single_agg(spark, sf_dir):
    """All 15 moments must accumulate in ONE hash aggregate over ONE
    lineitem scan — a per-pair corr() would rescan the table 6 times."""
    plan = _plan(spark, sf_dir, "lineitem_correlations")
    assert plan.count("lineitem.parquet") == 1
    assert "Exchange hashpartitioning" not in plan  # only the 1-row final agg moves
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine


def test_pagerank_iterations_are_hash_aggs_no_window(spark, sf_dir):
    """Every PageRank round is a keyed join + hash agg; a window (or a
    global sort) anywhere would serialize the rank exchange."""
    plan = _plan(spark, sf_dir, "pagerank_trade_graph")
    assert "Window [" not in plan  # no rank() reformulation sneaking in
    assert "partial_sum" in plan  # decimal contribution sums combine map-side
    # keyed joins only — the lone nested-loop allowed is the 1-row
    # node-count attach (teleport term), same idiom as bm25's stats row
    assert "CartesianProduct" not in plan
    assert "GlobalLimit" not in plan  # no global top-k/collect anywhere


def test_containment_pairs_keyed_join_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "containment_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_copurchase_pairs_keyed_join_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "supplier_copurchase_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rate_anomaly_preaggregates_before_window(spark, sf_dir):
    """The trailing-24h window must run over the HOURLY series — the
    events-scale exchange is the one hash agg; the window's global
    sort touches only the tiny aggregated series."""
    plan = _plan(spark, sf_dir, "events_rate_anomaly")
    assert "partial_count" in plan  # hourly collapse combines map-side
    # the Window consumes the aggregated series, so HashAggregate must
    # appear BELOW (after, in printed order) the Window operator
    assert "Window [" in plan
    assert plan.index("Window [") < plan.index("HashAggregate")


def test_benford_single_scan_nine_rows(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_benford_audit")
    assert plan.count("orders.parquet") <= 2  # obs + total branches of one scan
    assert "partial_count" in plan


def test_pagerank_sinks_dangling_sum_broadcasts(spark, sf_dir):
    """The dangling-mass term must enter as a 1-row broadcast per
    round (BroadcastNestedLoopJoin on an aggregate), never as a keyed
    shuffle of the rank table; the per-round rank update stays a hash
    agg with no window."""
    plan = _plan(spark, sf_dir, "pagerank_purchase_sinks")
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan
    assert "GlobalLimit" not in plan
    assert "partial_sum" in plan


def test_ivfpq_broadcast_only_small_sides(spark, sf_dir):
    """IVF-PQ: centroids, probes, and distance tables broadcast; the
    corpus-sized sides (lists, codes) join keyed. No cartesian product
    and no window over anything corpus-sized (the only windows rank
    the 8-query side)."""
    plan = _plan(spark, sf_dir, "ivfpq_ann_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # probes, PQ cents, dtab
    # the ONE allowed shuffle join is candidates ⋈ codes on vec_id —
    # corpus-proportional by design; everything else broadcasts
    assert plan.count("SortMergeJoin") <= 1


def test_image_dhash_pairs_no_cartesian(spark, sf_dir):
    """The image near-dup path must be the same keyed Manku block join
    as text SimHash: explode to (pos, key) rows, equi-join, rescore —
    never an all-pairs compare (the oracle does that; the engine must
    not)."""
    plan = _plan(spark, sf_dir, "image_dhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_crossdoc_spans_hash_keyed_shuffle_no_cartesian(spark, sf_dir):
    """ExactSubstr's corpus-wide aggregation must key on the 8-byte
    xxhash64 of the gram (the k-char strings shuffle only for the tiny
    surviving-candidate recheck), nothing all-pairs, and the island
    window must stay partitioned per doc (no global sort)."""
    plan = _plan(spark, sf_dir, "crossdoc_repeated_spans")
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_crossdoc_scrub_no_cartesian_all_joins_keyed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "crossdoc_span_scrub")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_modality_fingerprint_pairs_no_cartesian(spark, sf_dir):
    """Audio/video fingerprint pair queries must stay keyed Manku
    block joins — never an all-pairs compare (the oracle's job)."""
    for name in ("audio_neardup_clips", "video_neardup_clips", "image_dedup_clusters"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_triangle_counting_keyed_joins_only(spark, sf_dir):
    """Triangle counting must stay two keyed equi-joins (wedge + close)
    under the degree-ordered orientation — no cartesian, and partial
    aggs (map-side combine) on the degree/count shuffles. The only
    window is the kNN top-K sparsifier, and it must be PARTITIONED by
    node (a global-sort window would serialize the corpus)."""
    plan = _plan(spark, sf_dir, "triangle_copurchase_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "partitionBy" not in line or "node" in line
            assert "node" in line  # partition key present


def test_bfs_rounds_are_keyed_joins_min_aggs(spark, sf_dir):
    """Every BFS round is one keyed equi-join + one partial/final min
    hash agg; the reached set never crosses the driver and nothing is
    all-pairs."""
    plan = _plan(spark, sf_dir, "trade_bfs_hops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan
    assert "Window" not in plan


def test_pmi_support_filter_precedes_vocab_joins(spark, sf_dir):
    """The pair-support floor must filter BEFORE the unigram joins
    (candidate volume drops first), totals arrive as a broadcast, and
    the top-K plans as TakeOrdered — no global sort."""
    plan = _plan(spark, sf_dir, "pmi_collocations")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pca_rounds_keyed_aggs_vector_broadcast(spark, sf_dir):
    """Power iteration must multiply X^T(Xv) as keyed hash aggs with
    the 64-row vector broadcast back each round — no window, no
    cartesian, no d x d intermediate."""
    plan = _plan(spark, sf_dir, "embedding_top_eigvec")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_sum" in plan


# ---------------------------------------------------------------------------
# Round-8 families
# ---------------------------------------------------------------------------


def test_tpch_q6_full_pushdown_single_stage(spark, sf_dir):
    """Q6 is the pushdown canary: every predicate must reach the
    parquet scan, and the whole query is scan->agg (no join, no
    exchange besides the final 1-row gather)."""
    plan = _plan(spark, sf_dir, "tpch_revenue_change")
    assert "PushedFilters:" in plan
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, frag
    assert "Join" not in plan


def test_tpch_dims_broadcast_not_shuffled(spark, sf_dir):
    """The dim chains (nation/region/filtered supplier/part) must ride
    broadcast joins; only fact-fact joins may sort-merge shuffle."""
    for q, max_smj in (
        ("tpch_local_supplier_volume", 1),  # orders<->lineitem only
        ("tpch_parttype_profit", 1),
        ("tpch_volume_shipping", 1),
        ("tpch_returned_items", 1),
    ):
        plan = _plan(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q
        assert plan.count("SortMergeJoin") <= max_smj, q


def test_tpch_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """Top-k queries must plan TakeOrderedAndProject — a global Sort
    followed by limit would shuffle-sort the entire aggregate."""
    for q in ("tpch_shipping_priority", "tpch_returned_items", "tpch_large_volume_customers"):
        plan = _plan(spark, sf_dir, q)
        assert "TakeOrderedAndProject" in plan, q


def test_tpch_semi_anti_joins_planned(spark, sf_dir):
    """EXISTS/IN/NOT-EXISTS surfaces must plan as semi/anti joins, not
    aggregated subquery materializations."""
    assert "LeftSemi" in _plan(spark, sf_dir, "tpch_priority_late_ship")
    assert "LeftSemi" in _plan(spark, sf_dir, "tpch_promo_part_suppliers")
    assert "LeftAnti" in _plan(spark, sf_dir, "tpch_dormant_rich_customers")


def test_tpch_q17_decorrelated_single_fact_reuse(spark, sf_dir):
    """Q17's per-part threshold must come from a pre-agg + broadcast
    equi-join — a correlated per-row subquery would show up as a
    nested loop / cartesian."""
    plan = _plan(spark, sf_dir, "tpch_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_stats_single_scan_conditional_moments(spark, sf_dir):
    """The A/B test computes all six arm-moments in ONE pass: exactly
    one lineitem/events FileScan, no join."""
    plan = _plan(spark, sf_dir, "ab_test_events")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan  # map-side combine on the moments


def test_bootstrap_grid_broadcast_one_agg(spark, sf_dir):
    """The bootstrap must broadcast the 32-row grid against the fact
    (one scan) — not scan the fact 32 times — and aggregate by b with
    map-side partials."""
    plan = _plan(spark, sf_dir, "revenue_bootstrap_ci")
    orders_scans = sum(
        1 for line in plan.splitlines() if "FileScan" in line and "orders" in line
    )
    assert orders_scans <= 2  # stat pass + point-estimate pass
    assert "partial_sum" in plan


def test_nb_model_broadcast_no_window_on_tokens(spark, sf_dir):
    """NB scoring joins the dense model to test tokens by broadcast;
    the per-doc argmax is a hash agg (max struct), never a window over
    the token stream."""
    plan = _plan(spark, sf_dir, "nb_lang_confusion")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_linkpred_keyed_equi_join_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "linkpred_copurchase_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Round-8 late additions
# ---------------------------------------------------------------------------


def test_cusum_preaggregates_before_windows(spark, sf_dir):
    """The CUSUM windows (running sum/min/max) may only run over the
    HOURLY series — the fact scan must collapse through a partial hash
    agg first, and the (n, total) scalar enters broadcast-side."""
    plan = _plan(spark, sf_dir, "events_cusum_changepoint")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row (n,total) broadcast
    assert "CartesianProduct" not in plan
    # windows exist but never directly over the events scan: the scan
    # feeds an aggregate first
    lines = plan.splitlines()
    scan_idx = next(i for i, l in enumerate(lines) if "FileScan" in l and "events" in l)
    agg_above = any("HashAggregate" in l for l in lines[:scan_idx])
    assert agg_above


def test_dau_wau_no_cartesian_no_global_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_dau_wau_stickiness")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # pure explode + hash aggs + join
    assert "Generate explode" in plan or "Generate" in plan


def test_forecast_eval_single_fact_scan_chain(spark, sf_dir):
    """The backtest reads orders for the daily series; the lag-7 join
    runs on the aggregated series (both sides HashAggregate), never a
    fact-fact self-join."""
    plan = _plan(spark, sf_dir, "daily_revenue_forecast_eval")
    assert "CartesianProduct" not in plan
    orders_scans = sum(
        1 for l in plan.splitlines() if "FileScan" in l and "orders" in l
    )
    assert orders_scans <= 2  # actuals + forecast side of the tiny series


def test_funnel_latency_window_only_on_converted(spark, sf_dir):
    """The ranking runs over the per-user summary (one row per
    converted user), after two keyed aggregates: the converted-user
    table is CACHED (one signup pass + one purchase pass materialize
    it; every reuse is an InMemoryTableScan), and since r12 the rank
    itself is the distrank bucketed prefix — every Window node is
    bucket-partitioned, none global."""
    plan = _plan(spark, sf_dir, "funnel_time_to_convert")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # conv computed once, reused
    for l in plan.splitlines():
        if "Window [" in l:
            assert "windowspecdefinition(_dr_bucket" in l, l.strip()[:160]


def test_als_serving_broadcasts_items_and_partitions_topk(spark, sf_dir):
    """ALS serving must broadcast the item-factor side (never shuffle
    the candidate cross join) and rank per-user (partitioned window,
    no global sort)."""
    plan = _plan(spark, sf_dir, "als_supplier_recommendations")
    assert "BroadcastNestedLoopJoin" in plan  # user-cohort x item factors
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "user_id" in line  # partition key present


# ---------------------------------------------------------------------------
# Round-8 final additions (skyline / ACF / profiling trio)
# ---------------------------------------------------------------------------


def test_skyline_single_scan_no_joins(spark, sf_dir):
    """The two-level skyline must be pure window passes over ONE part
    scan — the quadratic NOT-EXISTS shape of the oracle (a self-join)
    must never appear in the physical plan."""
    plan = _plan(spark, sf_dir, "pareto_skyline_parts")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    part_scans = sum(
        1 for l in plan.splitlines() if "FileScan" in l and "part" in l
    )
    assert part_scans == 1


def test_acf_preaggregates_then_single_window(spark, sf_dir):
    """ACF collapses orders to the day series in one scan + hash agg;
    the 7 leads ride one window over that tiny series; no self-join of
    the fact ever happens."""
    plan = _plan(spark, sf_dir, "revenue_acf_lags")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan  # map-side combine into the day series
    lines = plan.splitlines()
    scan_idx = next(i for i, l in enumerate(lines) if "FileScan" in l)
    assert any("HashAggregate" in l for l in lines[:scan_idx])


def test_seasonal_dow_single_cached_series(spark, sf_dir):
    """Both the weekday rollup and the grand moments re-read the CACHED
    day series — the orders fact is scanned once, and the grand moments
    enter as a 1-row broadcast."""
    plan = _plan(spark, sf_dir, "revenue_seasonal_dow")
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row (n, s) broadcast
    assert "CartesianProduct" not in plan


def test_mi_marginals_reaggregate_cached_cells(spark, sf_dir):
    """PMI's marginals must be re-aggregations of the cached cell table
    (InMemoryTableScan), broadcast back against it — never second/third
    scans of the orders fact."""
    plan = _plan(spark, sf_dir, "mi_order_priority_status")
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_psi_single_scan_conditional_cells(spark, sf_dir):
    """PSI builds per-(bin, arm) counts as conditional aggregates in
    one pass over the cached cell table; totals enter broadcast-side."""
    plan = _plan(spark, sf_dir, "psi_split_drift_orders")
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_skew_diagnostics_windows_only_on_key_table(spark, sf_dir):
    """The skew profile's ranking window and entropy pass run over the
    cached per-key table; lineitem collapses through one partial-combine
    aggregation."""
    plan = _plan(spark, sf_dir, "key_skew_diagnostics")
    assert "InMemoryTableScan" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_geo_radius_pairs_no_cross_join(spark, sf_dir):
    """The 1-km pairs query must be the neighbor-cell EQUI-join — never
    a cartesian/nested-loop candidate generator (its oracle is the
    brute self-join; the plan must not be)."""
    plan = _plan(spark, sf_dir, "geo_radius_pairs_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_geo_nearest_hub_broadcasts_hubs(spark, sf_dir):
    """Hub assignment: the 25-row hub side rides a broadcast nested
    loop (a per-row loop over 25, not a shuffle); the argmin joins are
    hash joins; nothing cartesian."""
    plan = _plan(spark, sf_dir, "geo_nearest_hub")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_geo_od_flows_single_scan_partial_agg(spark, sf_dir):
    """OD flows: one scan of orders (both endpoints derive in the same
    projection), one hash agg with map-side partial combine, no window."""
    plan = _plan(spark, sf_dir, "geo_od_cell_flows")
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Window" not in plan


def test_hybrid_rrf_arms_keep_their_scale_shapes(spark, sf_dir):
    """Hybrid retrieval: the dense arm broadcasts the 3 anchors (never
    shuffles the corpus against them), the lexical arm stays an
    inverted-index equi-join, and nothing is cartesian — the fusion
    join only sees per-arm top-K rows."""
    plan = _plan(spark, sf_dir, "hybrid_rrf_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_holt_fold_is_one_scan_no_join_no_window(spark, sf_dir):
    """Holt smoothing: the fact collapses through ONE map-side-combined
    hash agg; the sequential recursion is an expression fold on a
    single row — no join, no window, no second scan, no UDF."""
    plan = _plan(spark, sf_dir, "holt_linear_forecast")
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan  # stays JVM-side


def test_theil_sen_pairs_only_on_cached_day_series(spark, sf_dir):
    """Theil–Sen / Mann–Kendall: the fact is scanned once into the
    CACHED day series; the O(days²) pair theta-join and the selection
    windows run over that series only (series-bounded, scale-free wrt
    fact rows — the one sanctioned cartesian in the repo besides 1-row
    assemblies)."""
    plan = _plan(spark, sf_dir, "theil_sen_trend")
    assert "InMemoryTableScan" in plan
    assert "partial_sum" in plan


def test_markov_attribution_iterates_on_one_row(spark, sf_dir):
    """Markov removal-effect attribution: the 5-variant x 15-round
    value iteration must be single-row expression evaluation — after
    the journey window and the matrix pivot there are NO further
    joins, windows, or scans (the whole chain is projections over one
    aggregated row)."""
    plan = _plan(spark, sf_dir, "markov_attribution_events")
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 1  # ONE events scan: truncation, end, and lag are all windows
    # every Project after the final HashAggregate is single-row math;
    # no Window may appear downstream of the aggregate
    post_agg = plan.split("HashAggregate", 1)[0]
    assert "Window" not in post_agg


def test_pii_redact_is_shuffle_free_single_scan(spark, sf_dir):
    """PII redaction is pure per-row regex in codegen: ONE documents
    scan and NO hash-partition exchange (the only exchange allowed is
    the output sort's range partitioning)."""
    plan = _plan(spark, sf_dir, "pii_redact_docs")
    assert plan.count("FileScan parquet") == 1
    assert "Exchange hashpartitioning" not in plan


def test_pii_detect_one_scan_one_agg(spark, sf_dir):
    """Detection is one scan + one (lang, source) hash agg with a
    map-side partial."""
    plan = _plan(spark, sf_dir, "pii_detect_docs")
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan or "partial_count" in plan


def test_shapley_single_scan_single_row_math(spark, sf_dir):
    """Shapley attribution: ONE events scan, the per-user bit_or agg,
    one global agg to a single row — the 2^4 coalition arithmetic must
    be row-local projections, never a join or window downstream of the
    final aggregate."""
    plan = _plan(spark, sf_dir, "shapley_attribution_events")
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    post_agg = plan.split("HashAggregate", 1)[0]
    assert "Window" not in post_agg and "Join" not in post_agg


def test_cohort_ltv_windows_over_grid_not_orders(spark, sf_dir):
    """The LTV cumsum window must run over the (cohort x age) grid —
    i.e. downstream of the grid aggregation — never over raw orders,
    and the customer-key join stays an equi-join."""
    plan = _plan(spark, sf_dir, "cohort_ltv_customers")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan  # grid agg has a map-side combine
    # the Window's input is aggregated: every Window line in the tree
    # appears ABOVE (before) the first HashAggregate, meaning its child
    # chain contains the aggregate, not a bare scan
    first_scan = plan.index("FileScan")
    assert "Window" not in plan[first_scan:]


def test_adaboost_rounds_reuse_cached_matrix(spark, sf_dir):
    """Boosting's per-round passes must re-read the CACHED candidate
    matrix (InMemoryTableScan), not re-scan parquet per round, and the
    1-row state joins must be broadcasts, never a shuffled join."""
    plan = _plan(spark, sf_dir, "adaboost_eval_orders")
    # every boosting pass (3 rounds + the scoring pass) reads the cache;
    # FileScans in the tree text are the InMemoryRelation's fill plan
    # reprinted per reference, not real re-scans
    assert plan.count("InMemoryTableScan") >= 4
    assert "SortMergeJoin" not in plan


def test_mv_rewrite_never_touches_the_base_table(spark, sf_dir):
    """The rewritten aggregate's plan must read ONLY the MV's Delta
    files — a single tiny scan — with the base orders table absent."""
    plan = _plan(spark, sf_dir, "mv_rewrite_rollup_orders")
    assert "orders.parquet" not in plan
    assert plan.count("FileScan parquet") == 1


def test_itemcf_and_textrank_stay_keyed_joins(spark, sf_dir):
    """Candidate/pair generation in the new CF and TextRank paths must
    remain keyed equi-joins — a nested-loop here is the d² explosion
    the degree cap exists to prevent."""
    plan = _plan(spark, sf_dir, "itemcf_supplier_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # textrank composes PageRank, whose 1-row mass terms legitimately
    # plan as tiny BroadcastNestedLoopJoins — only a cartesian of two
    # data-sized sides is forbidden
    plan = _plan(spark, sf_dir, "textrank_keywords")
    assert "CartesianProduct" not in plan


def test_uplift_deciles_rank_over_user_grain(spark, sf_dir):
    """Decile assignment must never funnel a grows-with-users grain
    into one task: since r12 the ranking rides operators/distrank, so
    every Window node in the plan must be partitioned by the distrank
    bucket — zero empty-partition ("No Partition Defined") windows."""
    plan = _plan(spark, sf_dir, "uplift_by_decile_events")
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected distrank bucket windows in the plan"
    for l in win_lines:
        assert "windowspecdefinition(_dr_bucket" in l, (
            f"unpartitioned window survived: {l.strip()[:160]}"
        )


def test_gdpr_and_partitioned_dv_read_prunes(spark, sf_dir):
    """The partitioned-DV query's read must list only the pruned
    partition's files (partitionValues pruning happens in the log
    layer, before Spark; the residual filter remains row-level)."""
    plan = _plan(spark, sf_dir, "delta_partitioned_dv_orders")
    assert "CartesianProduct" not in plan
    # every scanned file path carries the pruned partition directory
    import re

    for m in re.finditer(r"o_orderstatus=([A-Z])", plan):
        assert m.group(1) == "F"


def test_feature_auc_ranks_partition_by_feature(spark, sf_dir):
    plan = _plan(spark, sf_dir, "feature_auc_screen_orders")
    # exact ranks need a sort, but it must be PER FEATURE (hash
    # partitioning on the feature key), never a single-partition
    # global window over the melted fact
    assert "hashpartitioning(feature" in plan
    # the melt is a generate, not a shuffle-heavy union of scans
    assert plan.count("FileScan") == 1


def test_histogram_auc_no_fact_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "histogram_auc_orders")
    # the whole point vs exact AUC: the fact is binned by ONE hash agg
    # with map-side combine; the only Sort allowed is the 64-row bin
    # window, which sits above the aggregation
    assert "partial_sum" in plan
    scan_to_agg = plan.split("HashAggregate")[-1]  # below the first agg
    assert "Sort" not in scan_to_agg


def test_phrase_search_pushes_term_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "phrase_search_docs")
    # adjacency joins are keyed equi-joins, never nested loops over
    # the postings
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_harmonic_centrality_joins_are_keyed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "harmonic_centrality_suppliers")
    assert "CartesianProduct" not in plan
    # min-relaxation folds via hash aggregation with partial combine
    assert "partial_min" in plan


def test_modularity_broadcasts_total_and_keys_label_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "modularity_copurchase_communities")
    # the 1-row m aggregate enters as a broadcast, label joins are keyed
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_wau_no_fact_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "hll_wau_events")
    # the whole point: the sliding COUNT DISTINCT is a register scatter
    # + MAX hash agg — no Window operator anywhere in the plan
    assert "Window" not in plan
    assert "partial_max" in plan


def test_growth_accounting_user_keyed_no_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "growth_accounting_weekly")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-9: partsupp-surrogate TPC-H closers
# ---------------------------------------------------------------------------

def test_partsupp_surrogate_is_broadcast_only(spark, sf_dir):
    """The surrogate build is part x 4-row range x 1-row count — all
    broadcast-side, no shuffle, no real cartesian over data."""
    from nyc_taxi_data_engineering_spark.queries.tpchq import _partsupp

    plan = _partsupp(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 4-row/1-row broadcasts


def test_tpch_min_cost_supplier_decorrelated(spark, sf_dir):
    """Q2's correlated min-cost subquery must run as one per-part MIN
    agg joined back (broadcast) — keyed joins only, dims broadcast."""
    plan = _plan(spark, sf_dir, "tpch_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "TakeOrderedAndProject" in plan  # top-100, never a global sort


def test_tpch_important_stock_scalar_broadcast(spark, sf_dir):
    """Q11's global threshold enters as a 1-row broadcast; the value
    agg keeps map-side partials; the filter is pure integer."""
    plan = _plan(spark, sf_dir, "tpch_important_stock")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_tpch_excess_stock_pushdown_and_keyed_join(spark, sf_dir):
    """Q20's year filter must reach the lineitem parquet scan, and the
    (part, supplier) availability join stays a keyed equi-join."""
    plan = _plan(spark, sf_dir, "tpch_excess_stock")
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan


def test_tpch_shipmode_priority_projection_only_surrogates(spark, sf_dir):
    """Q12's derived shipmode/commit/receipt columns are per-row
    projections — no extra shuffle, no window; the priority counts fold
    into one hash agg with partials over a keyed equi-join."""
    plan = _plan(spark, sf_dir, "tpch_shipmode_priority")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_bloom_words_broadcast_probe(spark, sf_dir):
    """The Bloom word table must enter the probe side as a BROADCAST
    equi-join — the corpus itself never shuffles against the reference."""
    plan = _plan(spark, sf_dir, "bloom_decontamination_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan  # the per-key all-bits fold
