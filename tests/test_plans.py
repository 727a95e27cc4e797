"""Physical-plan shape regressions (SURVEY §4.2: the Catalyst rewrites
we rely on must actually fire). These assertions are the scale
contract: a plan that loses its pushdown/broadcast/top-k shape would
still pass value checks on fixtures but regress catastrophically at
100 TB."""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return E.queries()[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q_filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_ship" in plan  # the real predicate, not just IsNotNull
    # column pruning: projection columns only, not the 16-col lineitem schema
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_comment" not in read_schema


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "q_topk_cosine")
    assert "TakeOrderedAndProject" in plan


def test_dim_joins_broadcast_with_partial_agg(spark):
    plan = _plan(spark, "q_join_broadcast")
    assert plan.count("BroadcastHashJoin") >= 2  # nation AND region stay broadcast
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "SortMergeJoin" not in plan


def test_knn_join_never_shuffles_index_before_scoring(spark):
    plan = _plan(spark, "q_knn_join")
    # probe side broadcast; the only exchange is the per-query window cut
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # Spark 3.5+ pushes a partial top-k below the exchange
    assert "WindowGroupLimit" in plan


def test_semi_anti_stay_semi_anti(spark):
    plan = _plan(spark, "q_join_semi_anti")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_exact_dedup_aggregates_map_side(spark):
    plan = _plan(spark, "q_dedup_exact")
    assert "partial_min" in plan or "partial_count" in plan


def test_sketch_scatter_spreads_single_partition_scan(spark):
    # the fixture scan is one file → one partition; scatter must fire
    # inside the _doc_bigrams substrate build so the bigram regex
    # battery runs at engine parallelism (on a cluster-scale scan it is
    # a no-op — next test). Asserted on the PRE-checkpoint build plan —
    # consumers like q_dedup_ngram_jaccard read the checkpoint, which
    # hides the exchange (ADVICE r10 #1).
    import pyspark.sql.functions as F
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.functions.text import (
        tokens,
        word_bigrams,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_text import (
        _docs,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        DEFAULT_SF_DIR,
        scatter,
    )

    build = scatter(_docs(spark, DEFAULT_SF_DIR)).select(
        "doc_id",
        "lang",
        F.array_distinct(word_bigrams(tokens("text"))).alias("bigrams"),
    )
    plan = build._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan


def test_doc_sketch_substrate_scatters_once_and_consumers_read_it(spark):
    # q_dedup_minhash / q_dedup_simhash now ride the session doc-sketch
    # substrate: the scatter (RoundRobin exchange) fires ONCE inside the
    # substrate build, and each consumer's plan reads the checkpointed
    # RDD — no re-scan of documents, no second tokenize pass
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_text import (
        _doc_sketch,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        DEFAULT_SF_DIR,
    )

    _doc_sketch.cache.clear()
    try:
        # ADVICE r10 #1: the checkpoint hides the substrate-build
        # exchange, so assert scatter on the PRE-checkpoint build plan
        # directly — the minhash path's single-partition fixture scan
        # must fan out before the tokenize+hash fold
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.dedup import (
            _with_sketch,
        )
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_text import (
            _docs,
        )
        from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
            scatter,
        )

        build_plan = (
            _with_sketch(scatter(_docs(spark, DEFAULT_SF_DIR)), "doc_id", "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange RoundRobinPartitioning" in build_plan
        # the returned substrate is the checkpoint itself (the scatter
        # exchange ran inside its materialization)
        sub_plan = _doc_sketch(spark, DEFAULT_SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in sub_plan
        for name in ("q_dedup_minhash", "q_dedup_simhash"):
            plan = _plan(spark, name)
            assert "Scan ExistingRDD" in plan  # reads the checkpoint
            assert "FileScan" not in plan  # never re-reads documents
    finally:
        _doc_sketch.cache.clear()


def test_scatter_is_noop_on_well_partitioned_input(spark):
    # the 100 TB contract: a cluster-scale scan (splits >= cores) must
    # pass through scatter untouched — zero added exchanges
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        scatter,
    )

    df = spark.range(1000).repartition(64)
    assert scatter(df) is df


def test_tpch_q3_broadcasts_dim_and_takes_top10(spark):
    plan = _plan(spark, "q_tpch_shipping_priority")
    assert "BroadcastHashJoin" in plan  # filtered customer dim broadcast
    assert "TakeOrderedAndProject" in plan  # top-10 cut, no global sort
    assert "partial_sum" in plan  # map-side revenue combine


def test_tpch_q5_single_fact_shuffle(spark):
    plan = _plan(spark, "q_tpch_local_volume")
    # supplier⋈nation⋈region and customer all ride broadcasts; the only
    # sort-merge-eligible join is lineitem⋈orders
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_pricing_summary_partial_agg_and_pruned_scan(spark):
    plan = _plan(spark, "q_tpch_pricing")
    assert "partial_sum" in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_suppkey" not in read_schema  # 7-col projection reaches the scan


def test_zscore_broadcasts_stats_not_window(spark):
    plan = _plan(spark, "q_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan  # grouped-stats shape, not a per-row window


def test_centroid_partial_aggregates_exploded_rows(spark):
    plan = _plan(spark, "q_vector_centroid")
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "partial_avg" in plan or "partial_sum" in plan


def test_returned_items_top20_and_broadcasts(spark):
    plan = _plan(spark, "q_tpch_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_dormant_customers_anti_join(spark):
    plan = _plan(spark, "q_tpch_dormant_customers")
    assert "LeftAnti" in plan


def test_nation_volume_all_dims_broadcast(spark):
    plan = _plan(spark, "q_tpch_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_simple_agg_pushes_all_predicates(spark):
    plan = _plan(spark, "q_tpch_simple_agg")
    assert "PushedFilters: [" in plan
    assert "partial_sum" in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_orderkey" not in read_schema  # 4-col projection only


def test_order_priority_semi_join(spark):
    plan = _plan(spark, "q_tpch_order_priority")
    assert "LeftSemi" in plan


def test_top_supplier_scalar_max_broadcast(spark):
    plan = _plan(spark, "q_tpch_top_supplier")
    # the 1-row max and the supplier dim both broadcast; the only
    # data-sized exchange is the revenue groupBy on suppkey
    assert plan.count("BroadcastHashJoin") >= 1
    assert "partial_sum" in plan


def test_min_cost_supplier_prunes_parts_before_agg(spark):
    plan = _plan(spark, "q_tpch_min_cost_supplier")
    # the p_size predicate reaches the part scan, and the part
    # broadcast join sits BELOW the offers aggregate (a child prints
    # after its parent in the top-down tree, so the join must appear
    # after partial_min) — only eligible parts ever get grouped
    assert "p_size" in plan  # filter survives into the scan stage
    assert plan.count("BroadcastHashJoin") >= 2  # part and supplier
    assert plan.index("partial_min") < plan.rindex("BroadcastHashJoin")


def test_product_profit_single_fact_shuffle(spark):
    plan = _plan(spark, "q_tpch_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert plan.count("SortMergeJoin") <= 1  # lineitem⋈orders only


def test_waiting_suppliers_semi_and_anti(spark):
    plan = _plan(spark, "q_tpch_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_word_topk_two_phase_agg_and_topk(spark):
    plan = _plan(spark, "q_word_topk")
    assert "partial_count" in plan  # map-side combine per word
    assert "TakeOrderedAndProject" in plan  # 20-row cut, no global sort


def test_cdc_latest_keeps_topk_below_exchange(spark):
    plan = _plan(spark, "q_cdc_latest")
    assert "WindowGroupLimit" in plan  # rn=1 pushed below the shuffle


def test_text_scrub_is_map_only(spark):
    plan = _plan(spark, "q_text_scrub")
    assert "Exchange" not in plan  # pure scan → project, zero shuffles


def test_watermark_window_is_partitioned_not_global(spark):
    # round-2 fix: the arrival-order window is keyed on user_id, so the
    # pinned plan has NO single-partition global sort — the shape that
    # survives a 1000-executor scan
    plan = _plan(spark, "q_stream_watermark")
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan
    assert "Window" in plan


def test_sessionize_single_exchange_two_windows(spark):
    plan = _plan(spark, "q_sessionize")
    # both windows share the user_id partitioning: exactly one
    # hash-partitioned exchange may appear
    assert plan.count("Exchange hashpartitioning") == 1


# --- wave 6: curation/layout queries ---------------------------------------


def test_filter_cascade_is_single_pass(spark):
    plan = _plan(spark, "q_filter_cascade")
    # one scan, one lang-keyed aggregate: exactly one hash exchange,
    # with the rule predicates evaluated map-side (partial aggregation)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_unigram_lm_broadcasts_model_not_corpus(spark):
    plan = _plan(spark, "q_unigram_lm")
    # the LM (vocab-sized) joins back by broadcast; the per-doc word
    # counts never shuffle for the probe
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_exchanges_are_keyed(spark):
    plan = _plan(spark, "q_span_dedup")
    # span-text group-min and per-doc rollup both hash-keyed; no
    # single-partition collapse anywhere
    assert "SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") >= 2


def test_zorder_interleave_is_scan_side(spark):
    plan = _plan(spark, "q_zorder_layout")
    # the Morton interleave is codegen'd projection work: one aggregate
    # exchange total, no join, no sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_graph_walk_hops_are_keyed_joins(spark):
    plan = _plan(spark, "q_graph_walk")
    # every hop is an equi-join + keyed aggregate over the checkpointed
    # edge list — never a cross product, never a global sort (top-20 is
    # TakeOrderedAndProject)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_centroid_classifier_broadcasts_model(spark):
    plan = _plan(spark, "q_centroid_classifier")
    # |labels| centroid rows broadcast onto the test scan: the scoring
    # join must be broadcast, never a shuffle of the test side
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


# --- wave 7: retrieval-ranking queries --------------------------------------


def test_bm25_no_explode_and_topk_heap(spark):
    plan = _plan(spark, "q_bm25_topk")
    # per-term tf is an array filter inside the projection — NO explode
    # (a Generate node would shuffle |doc|*|terms| rows at 100 TB); the
    # cut is a per-partition heap, not a global sort
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan
    # corpus stats ride a broadcast, the doc side never shuffles for them
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hybrid_rrf_rankers_cut_before_ranking(spark):
    plan = _plan(spark, "q_hybrid_rrf")
    # both rankers reduce to top-N via per-partition heaps BEFORE the
    # rank-assigning window; the window then runs on a bounded 50-row
    # list (its SinglePartition is by construction, not corpus-sized)
    assert plan.count("TakeOrderedAndProject") >= 2


def test_mmr_greedy_is_cogrouped_python_stage(spark):
    plan = _plan(spark, "q_mmr_rerank")
    # candidate cut pushes partial top-k below the exchange; the greedy
    # itself is the cogrouped Arrow stage keyed on query_id
    assert "WindowGroupLimit" in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_context_stitch_probes_docs_by_broadcast(spark):
    plan = _plan(spark, "q_context_stitch")
    # the ±1 neighbor id set (≤ 3k rows) broadcasts onto the documents
    # scan; the corpus is never shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_index_upsert_single_keyed_join_map_agg(spark):
    plan = _plan(spark, "q_index_upsert")
    # hash-compare join on doc_id plus a map-side partial aggregate;
    # no global collapse
    assert "partial_count" in plan
    assert "SinglePartition" not in plan


def test_bloom_prune_filters_probe_before_join(spark):
    plan = _plan(spark, "q_bloom_prune_join")
    # the 1-row bitmap rides a broadcast; the probe-side membership test
    # is a codegen'd filter (shiftleft/bitwise) BEFORE the exact join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "shiftleft" in plan
    assert "partial_count" in plan


def test_prf_expand_broadcasts_terms_and_heap_cuts(spark):
    plan = _plan(spark, "q_prf_expand")
    # the data-dependent term set rides broadcasts (term fan-out +
    # df/stats join-back); the final retrieval cut is a per-partition
    # heap. (r11: the first-pass cut lives inside bm25's lazily
    # checkpointed tf frame — Scan ExistingRDD — so only the final
    # TakeOrdered is visible in this plan.)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("TakeOrderedAndProject") >= 1
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_tf_builds_no_token_explode(spark):
    # companion to the checkpointed bm25 consumers (ADVICE r11 #1):
    # both un-checkpointed tf builds keep their positive shape — ONE
    # tokenize pass with in-row array-filter tf counting (no Generate/
    # explode of the token arrays, which would multiply the stream by
    # document length), and the dynamic variant fans terms out via a
    # broadcast, never a shuffle
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.ranking import (
        bm25_dynamic_tf_frame,
        bm25_tf_frame,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    docs = load_table(spark, "documents", SF)
    p1 = (
        bm25_tf_frame(docs, ["data", "model"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p1.count("FileScan parquet") == 1
    assert "Generate" not in p1 and "Explode" not in p1
    terms = docs.sparkSession.createDataFrame([("data",), ("model",)], "term string")
    p2 = (
        bm25_dynamic_tf_frame(docs, terms)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p2.count("FileScan parquet") == 1
    assert "Generate" not in p2 and "Explode" not in p2
    assert "BroadcastNestedLoopJoin" in p2 or "BroadcastExchange" in p2
    assert "SortMergeJoin" not in p2


def test_late_interaction_partial_max_two_keyed_exchanges(spark):
    plan = _plan(spark, "q_late_interaction")
    # per-(label, token) MAX combines map-side; both aggregations are
    # hash-keyed; the final cut is a per-partition heap
    assert "partial_max" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # probes ride a broadcast


def test_skyline_two_phase_shape(spark):
    plan = _plan(spark, "q_skyline")
    # phase 1 is the Arrow local sweep; phase 2 a broadcast theta anti
    # join over candidates — never a shuffle of the full input to a
    # pairwise comparison
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan


def test_markov_exchanges_are_keyed(spark):
    plan = _plan(spark, "q_markov_transitions")
    assert "partial_count" in plan
    assert "SinglePartition" not in plan


def test_data_profile_per_column_branches_no_expand(spark):
    plan = _plan(spark, "q_data_profile")
    # one pruned single-column branch per profiled column (columnar:
    # same bytes as one wide pass), each a plain 2-phase distinct —
    # never the multi-distinct Expand, which multiplies the row stream
    # x(columns+1) through the aggregation (measured 58x at sf0.1)
    assert plan.count("FileScan parquet") == 5
    assert "Expand" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_pagerank_edges_materialize_once(spark):
    plan = _plan(spark, "q_pagerank")
    # the edge+degree list and the vertex set are checkpointed RDD
    # scans (built once, reused every iteration); rank updates are
    # keyed aggregations with map-side combine; |V| rides a broadcast
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan  # lineitem never re-read
    assert "partial_sum" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_embedding_outliers_stats_broadcast_back(spark):
    plan = _plan(spark, "q_embedding_outliers")
    # (label, dim) stats are O(labels*dim) and ride a broadcast back
    # onto the exploded scan; both aggregates combine map-side; the
    # top-30 cut is a per-partition heap
    assert "BroadcastHashJoin" in plan
    assert "partial_max" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_shards_map_side_combine(spark):
    plan = _plan(spark, "q_shuffle_shards")
    # the shard audit exchange carries 64 partial rows per mapper, and
    # the hash expression is codegen'd arithmetic (no UDF)
    assert "partial_count" in plan and "partial_sum" in plan
    assert "2654435761" in plan
    assert "Python" not in plan


def test_assoc_rules_supports_broadcast_onto_pairs(spark):
    plan = _plan(spark, "q_assoc_rules")
    # pair enumeration is keyed on the basket id; pair counts combine
    # map-side; item supports and |baskets| ride broadcasts
    assert "partial_count" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_two_pass_bounded_candidates(spark):
    plan = _plan(spark, "q_heavy_hitters")
    # phase 1: MG sketch in Arrow batches, materialized once (the
    # candidate set AND the token denominator read one checkpoint);
    # phase 2: candidates semi-join the token stream via broadcast
    # BEFORE the count aggregate — the vocabulary never shuffles whole
    # the MG pass lives behind the checkpoint boundary (Scan
    # ExistingRDD appears for both its consumers); the recount is the
    # only other corpus read → exactly two passes total
    assert plan.count("Scan ExistingRDD") == 2
    assert plan.count("FileScan parquet") == 1  # the recount pass
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "partial_count" in plan


def test_source_cap_window_partitioned_by_source(spark):
    plan = _plan(spark, "q_source_cap")
    # the rank window is keyed on source (parallel per-key sort); the
    # audit aggregate combines map-side on the same partitioning (no
    # second exchange between window and aggregate)
    assert "windowspecdefinition(source" in plan
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_fk_integrity_parents_broadcast_fact_never_shuffles_raw(spark):
    plan = _plan(spark, "q_fk_integrity")
    # every parent/dim side broadcasts; the only keyed exchanges carry
    # per-key partial states for the distinct-key count, not fact rows
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_triangle_oriented_edges_checkpoint_once(spark):
    plan = _plan(spark, "q_triangle_count")
    # the oriented edge list is a checkpointed RDD read by all three
    # roles (wedge left, wedge right, closure); the closure test is a
    # semi-join; scalar stats ride broadcasts
    assert plan.count("Scan ExistingRDD") >= 3
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan


def test_degree_distribution_keyed_aggs(spark):
    plan = _plan(spark, "q_degree_distribution")
    assert "partial_count" in plan
    assert "log2" in plan.lower() or "LOG" in plan  # codegen'd bucketing
    assert "CartesianProduct" not in plan


def test_trending_topk_windowgrouplimit_over_aggregated(spark):
    plan = _plan(spark, "q_trending_topk")
    # counts reduce BEFORE ranking (agg below the window) and the rank
    # filter plans the partial-then-final WindowGroupLimit pair
    assert plan.count("WindowGroupLimit") == 2
    assert "partial_count" in plan
    assert plan.index("HashAggregate") > plan.index("WindowGroupLimit")


def test_vocab_coverage_vocab_broadcast_heap_cut(spark):
    plan = _plan(spark, "q_vocab_coverage")
    # the vocabulary is a 500-row heap cut that rides a broadcast back
    # over the token stream; the stream itself never shuffles raw —
    # only token-count partials and per-lang partials move
    assert "TakeOrderedAndProject(limit=500" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_quality_heatmap_scan_side_buckets(spark):
    plan = _plan(spark, "q_quality_heatmap")
    # both bucket expressions fold into the scan-side projection; one
    # keyed aggregate with map-side combine; no Python anywhere
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan
    assert "Python" not in plan


def test_cross_source_leakage_joins_on_fingerprint(spark):
    plan = _plan(spark, "q_cross_source_leakage")
    # the self-join keys on the fingerprint (exact-dedup exchange
    # shape); broadcast-vs-SMJ is AQE's size call, not forced — the
    # pinned invariant is that no unkeyed pair enumeration exists
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_activity_matrix_two_level_distinct(spark):
    plan = _plan(spark, "q_activity_matrix")
    # exact distinct-user count plans as the two-level aggregate
    # (partial per (cell, user), then merge) — both exchanges keyed
    assert "merge_count" in plan
    assert "SinglePartition" not in plan


def test_weighted_sample_single_keyed_exchange(spark):
    plan = _plan(spark, "q_weighted_sample")
    # prefix sum keyed on lang; the audit aggregate reuses the same
    # partitioning (one hash exchange total); decisions are codegen'd
    # integer arithmetic, no Python, no global sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "Python" not in plan


def test_contrastive_pairs_scan_side_fanout(spark):
    plan = _plan(spark, "q_contrastive_pairs")
    # sequence+posexplode fan out pairs where the document row lives;
    # the ONLY exchange is the output ordering — no join, no window
    assert "Generate posexplode" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") == 1  # the final rangepartitioning


def test_retrieval_triplets_heap_cuts_bounded_windows(spark):
    plan = _plan(spark, "q_retrieval_triplets")
    # both 5-row cuts are per-partition heaps BEFORE their rank
    # windows; negatives exclude positives via broadcast anti-join
    # the positive cut's subtree also feeds the anti-join broadcast,
    # so the heap appears >= 2 times (pos, neg, pos-again)
    assert plan.count("TakeOrderedAndProject(limit=5") >= 2
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_cusum_stacked_windows_one_keyed_exchange(spark):
    plan = _plan(spark, "q_cusum_changepoint")
    # both running windows and the per-user report share the user_id
    # partitioning: one keyed exchange for the window stack (+ the
    # broadcast stats join); no global sort, no Python
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_sliding_window_is_expand_plus_one_keyed_exchange(spark):
    plan = _plan(spark, "q_stream_sliding")
    # window assignment is a scan-time 2-row Expand (map-side), then
    # partial aggregates combine before the single keyed exchange —
    # no self-join and no window sort for a hopping aggregate
    assert "Expand" in plan
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_lateral_topk_decorrelates_to_group_limit(spark):
    plan = _plan(spark, "q_lateral_topk")
    # the correlated LATERAL subquery must NOT re-execute per outer
    # row: Catalyst decorrelates it into a broadcast join over a
    # per-group WindowGroupLimit (partial below the exchange)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "Partial" in plan


def test_sql_pipe_lowers_to_pushed_scan(spark):
    plan = _plan(spark, "q_sql_pipe")
    # pipe syntax is surface only — same plan as nested SQL: the WHERE
    # reaches the parquet scan and aggregates combine map-side
    assert "LessThan(l_quantity,25.0)" in plan
    assert "partial_count" in plan
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_comment" not in read_schema


def test_recursive_cte_filters_anchor_at_scan(spark):
    plan = _plan(spark, "q_recursive_cte")
    # recursion executes as UnionLoop iterate-until-empty steps; the
    # anchor's key bound prunes at the relation, so each iteration's
    # frontier is bounded, never the full part table
    assert "UnionLoop" in plan
    assert "p_partkey" in plan and "<= 127" in plan


def test_padding_efficiency_single_scan_one_exchange(spark):
    plan = _plan(spark, "q_padding_efficiency")
    # rides the checkpointed doc_tokens substrate: no Python, one keyed
    # exchange carrying per-bucket partials over the substrate rows
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # the scan-side properties live on the substrate BUILD plan (the
    # checkpoint hides them behind Scan ExistingRDD — ADVICE r10 #1):
    # single parquet scan, codegen-only counting, no text column kept
    # past the project
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        doc_tokens_frame,
    )

    bplan = (
        doc_tokens_frame(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert bplan.count("FileScan parquet") == 1
    assert "Python" not in bplan


def test_late_interaction_partials_inside_kernel(spark):
    plan = _plan(spark, "q_late_interaction")
    # the Arrow kernel emits per-partition (label, probe) partial
    # maxima, so the first keyed exchange carries partials — the raw
    # |rows| x |probes| pair space never materializes in the plan
    assert "MapInPandas" in plan
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_joins_grid_rows_not_documents(spark):
    plan = _plan(spark, "q_ks_drift")
    # the pair comparison joins per-VALUE cdf rows (grid x sources),
    # never raw documents. (r11: the cdf — including its keyed prefix
    # window — is a lazily checkpointed shared frame, so the join plan
    # reads Scan ExistingRDD and contains NO document scan; the keyed
    # window lives in the checkpointed lineage, which the engine
    # executes exactly once per call.)
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_ks_drift_cdf_build_keyed_window_partial_counts(spark):
    # companion to the checkpoint test (ADVICE r11 #1): the
    # un-checkpointed cdf build keeps its positive shape — the prefix
    # sum is a window KEYED on source (bounded by one source's grid,
    # never a global sort) and the class counts partial-aggregate
    # map-side before their exchange
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_governance import (
        ks_cdf_frame,
    )

    plan = ks_cdf_frame(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(source" in plan
    assert "partial_count" in plan
    assert "Window" in plan


def test_quantile_normalize_one_keyed_window(spark):
    plan = _plan(spark, "q_quantile_normalize")
    # percent_rank keyed on source, then one keyed aggregation — the
    # window sort is bounded by group size, never global
    assert "percent_rank" in plan
    assert "SinglePartition" not in plan
    assert "Python" not in plan


def test_asof_union_window_no_pair_join(spark):
    plan = _plan(spark, "q_join_asof")
    # the scalable as-of: one keyed window over the tagged union —
    # NO join operator anywhere, so work is independent of per-key
    # history depth (the pair-join form measured 13.6x slower at the
    # 10x fact tier)
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_concurrency_sweep_two_phase_parallel_by_day(spark):
    plan = _plan(spark, "q_concurrency_sweep")
    # the big running-sum window must partition on (event_type, day) —
    # a type-only partition caps parallelism at |types| ≈ 5 tasks
    # forever (measured 22x superlinear at the 100x tier); the
    # prior-day offset window runs over the tiny day-totals frame only
    import re

    assert re.search(r"windowspecdefinition\(event_type#\d+, day#\d+", plan), (
        "local running-sum window must be keyed on (event_type, day)"
    )
    assert "BroadcastHashJoin" in plan


def test_decile_lift_rank_window_keyed_on_bucket(spark):
    plan = _plan(spark, "q_decile_lift")
    # the exact-global-rank trick: the fact-sized row_number window must
    # partition on the score bucket (the two-phase idiom) — a global
    # row_number would be a single-partition sort over every fact
    assert "hashpartitioning(bkt" in plan
    # the only single-partition windows are the ~|buckets|-row offset
    # prefix-sum and the 10-row decile cum-capture
    assert "row_number" in plan


def test_fifo_join_is_keyed_not_cartesian(spark):
    plan = _plan(spark, "q_fifo_inventory")
    # the receipt×issue match must ride the l_partkey equi-key with the
    # range predicates as post-filters — never a cartesian pair space
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # brand filter reaches the part dimension as a broadcast — asserted
    # on the un-checkpointed slice, which the final plan reads as
    # Scan ExistingRDD
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_ledger import (
        fifo_slice_frame,
    )

    slice_plan = fifo_slice_frame(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in slice_plan


def test_ranking_metrics_index_never_shuffled(spark):
    plan = _plan(spark, "q_ranking_metrics")
    # scoring runs in the Arrow kernel (panel rides the closure): the
    # index crosses the wire once as k-row partials — the pair space
    # never exists as rows, and no join touches the index side.
    # (r11: the kernel lives in the session rm_hits checkpoint — the
    # query plan reads Scan ExistingRDD; the kernel property is
    # asserted on the un-checkpointed build below.)
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # the pre-checkpoint kernel build: MapInPandas, no pair join
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.operators.similarity import (
        brute_topk_partials,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_retrieval import (
        _RM_K,
        _RM_PANEL,
    )
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
        scatter,
    )

    emb = load_table(spark, "embeddings", SF)
    rows = (
        emb.orderBy("vec_id").limit(_RM_PANEL).select("vec_id", "embedding").collect()
    )
    panel = [(r.vec_id, r.embedding) for r in rows]
    kern = brute_topk_partials(
        scatter(emb), panel, k=_RM_K, dims=[len(panel[0][1])], exclude_self=True
    )
    kplan = kern._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in kplan
    assert "CartesianProduct" not in kplan
    assert "BroadcastNestedLoopJoin" not in kplan


def test_feature_hashing_combines_map_side(spark):
    plan = _plan(spark, "q_feature_hashing")
    # the exploded token stream must partial-aggregate before its
    # exchange (per-doc partial state is capped at 64 buckets)
    assert "partial_sum" in plan
    assert "Python" not in plan  # hash is JVM-side md5, not a UDF


def test_poisson_bootstrap_combines_before_exchange(spark):
    plan = _plan(spark, "q_poisson_bootstrap")
    # the ×64 explode must reduce to 64 partial rows per task before
    # any exchange — the amplified stream itself never shuffles
    assert "partial_sum" in plan
    assert "Generate explode" in plan


def test_phrase_search_is_filter_shaped_scan(spark):
    plan = _plan(spark, "q_phrase_search")
    # the whole match runs in-row: no explode of the token stream, no
    # positional self-join — one scan, one filter
    assert "Generate" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_common_neighbors_pairs_ride_part_key(spark):
    plan = _plan(spark, "q_common_neighbors")
    # pair enumeration must be the part-keyed equi-join (hub-capped),
    # never a cartesian, and the top-k a bounded TakeOrdered
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_pmi_marginals_combine_map_side(spark):
    plan = _plan(spark, "q_pmi_collocations")
    # both the unigram and bigram rollups partial-aggregate before
    # their exchanges; bigrams are built in the array domain
    assert "partial_count" in plan
    assert "zip_with" in plan.lower() or "zipwith" in plan.lower()


def test_session_paths_single_user_exchange(spark):
    plan = _plan(spark, "q_session_path_topk")
    # gap window, running session-id sum, and per-session collect all
    # cluster on user_id: exactly ONE fact-sized exchange
    assert plan.count("Exchange hashpartitioning(user_id") <= 1
    assert "TakeOrderedAndProject" in plan


def test_slo_percentile_aggregates_keyed(spark):
    plan = _plan(spark, "q_slo_burn")
    # the percentile aggregate is (type, day)-keyed with partial state;
    # the burn windows must partition on event_type, not run global
    assert "percentile_disc" in plan or "percentile" in plan
    assert "SinglePartition" not in plan


def test_cycle_time_collapses_lineitem_before_join(spark):
    plan = _plan(spark, "q_order_cycle_time")
    # the lineitem side must aggregate to one row per order (map-side
    # partial max) BEFORE the orderkey join — joining raw lines first
    # would move the 4x-larger fact through the join
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan


def test_prefix_completions_rank_after_floor(spark):
    plan = _plan(spark, "q_prefix_completions")
    # the frequency floor prunes the vocabulary before the rank window,
    # and the per-prefix top-k pushes below the exchange
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan


def test_mann_whitney_ranks_without_fact_sort(spark):
    plan = _plan(spark, "q_mann_whitney")
    # rank sums come from tie-class aggregation + bucketed prefix sums:
    # the within-bucket window must partition on the bucket (no global
    # fact sort), the tie-class rollup partial-aggregates map-side
    assert "partial_count" in plan
    assert "hashpartitioning(bkt" in plan


def test_chi_square_margins_broadcast_back(spark):
    plan = _plan(spark, "q_chi_square")
    # the contingency cells are one hash aggregate; the row/column
    # margins are cell-table-sized and must come back as broadcasts
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan


def test_bh_fdr_single_fact_aggregate(spark):
    plan = _plan(spark, "q_bh_fdr")
    # all per-test moments (count/avg/var per arm) fold into ONE
    # event_type-keyed aggregate; the BH windows run on the tests frame
    assert plan.count("Exchange hashpartitioning(event_type") <= 1
    assert "partial_avg" in plan or "partial_count" in plan


def test_adamic_adar_weight_rides_edge_rows(spark):
    plan = _plan(spark, "q_adamic_adar")
    # weighted evidence needs no post-pair join: degree joins precede
    # pair enumeration, the top-k is a bounded TakeOrdered
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bigram_lm_model_broadcasts_onto_counts(spark):
    plan = _plan(spark, "q_bigram_lm")
    # the bigram table and first-word histogram are vocabulary-sized
    # broadcast sides; bigrams build in the array domain (no Python)
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan


def test_freshness_audit_one_aggregate(spark):
    plan = _plan(spark, "q_freshness_audit")
    # one source-keyed aggregate; the watermark side is |sources| rows
    assert "partial_max" in plan
    assert "BroadcastExchange" in plan


def test_cuped_theta_broadcasts_back(spark):
    plan = _plan(spark, "q_cuped")
    # θ and the pre-mean are a 1-row global aggregate that must come
    # back as a broadcast onto the per-user frame, not a shuffle join.
    # The per-user rollup appears twice in the STATIC plan (once under
    # θ, once under the adjusted-metric arm readout) — byte-identical
    # subtrees that AQE collapses via ReusedExchange at runtime — so
    # the pin allows two, and forbids a third.
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_pareto_rank_is_bucketed(spark):
    plan = _plan(spark, "q_pareto_concentration")
    # the global revenue rank must ride floor-bucket windows — no
    # single-partition sort of the customer frame before the decile cut
    assert "hashpartitioning(bkt" in plan
    assert "partial_sum" in plan


def test_decay_popularity_is_one_aggregate(spark):
    plan = _plan(spark, "q_decay_popularity")
    # row-local decay weight → map-side combined aggregate → TakeOrdered
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_stickiness_single_distinct_pass(spark):
    plan = _plan(spark, "q_stickiness")
    # the trailing-window WAU comes from ONE window-end-keyed distinct
    # aggregate over the bounded explode, never a per-day re-scan
    assert "Generate explode" in plan or "explode" in plan.lower()
    assert "SinglePartition" not in plan


def test_multi_touch_single_user_lineage(spark):
    plan = _plan(spark, "q_multi_touch_attribution")
    # conversion join, position window, and path length all cluster on
    # user_id; the payout fold is a channels-sized aggregate
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


def test_equi_depth_bounds_broadcast_once(spark):
    plan = _plan(spark, "q_equi_depth_histogram")
    # round 7: cut points AND per-bucket stats both read the
    # checkpointed tie-class table — no built-in percentile buffer, no
    # second raw-column scan; the 7-double bound row broadcasts and
    # assignment is expression-only
    assert "percentile" not in plan.lower()
    assert "Scan ExistingRDD" in plan  # the checkpointed class table
    assert plan.count("FileScan parquet") == 0  # raw column never re-read
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan


def test_revenue_waterfall_single_pass(spark):
    plan = _plan(spark, "q_revenue_waterfall")
    # five sums in one year-keyed aggregate: no join, map-side partials
    assert "Join" not in plan
    assert "partial_sum" in plan


def test_zipf_rank_window_is_vocabulary_sized(spark):
    plan = _plan(spark, "q_zipf_fit")
    # the explode+count prunes to the >=min-freq vocabulary BEFORE the
    # rank window; the fit itself is one scalar aggregate
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" not in plan  # full fit, not a top-k


def test_exact_quantiles_no_single_buffer_percentile(spark):
    plan = _plan(spark, "q_exact_quantiles")
    # the whole point: no built-in exact percentile aggregate (its
    # buffer collects the entire column into one task). The rank
    # lineage ran eagerly at the localCheckpoint boundary, so the
    # final plan reads the checkpointed class table (ExistingRDD) and
    # the 2·|fracs|-row lookup side broadcasts into a BNL join
    assert "percentile" not in plan.lower()
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_anova_single_sufficient_stats_pass(spark):
    plan = _plan(spark, "q_anova_f")
    # the fact table collapses to k moment rows in ONE aggregate with
    # map-side partials; the F arithmetic joins nothing back
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_spearman_has_no_global_sort_window(spark):
    plan = _plan(spark, "q_spearman_corr")
    # ranks come from the checkpointed tie-class tables (exact int64
    # arithmetic), never a global rank window over the raw column
    assert "Scan ExistingRDD" in plan
    assert "row_number" not in plan.lower() and "rank(" not in plan.lower()
    # the ~50-class quantity rank side broadcasts
    assert "BroadcastHashJoin" in plan


def test_audience_overlap_collapses_before_pair_join(spark):
    plan = _plan(spark, "q_audience_overlap")
    # distinct (type, user) FIRST (partial aggregate before the
    # exchange), then a user-keyed equi-join — never a cross join
    assert "CartesianProduct" not in plan
    assert "partial" in plan


def test_bpe_pairs_codegen_generate_topk(spark):
    plan = _plan(spark, "q_bpe_pairs")
    # pair generation is transform(sequence(...)) inside Generate —
    # no Python anywhere — with map-side partial counts and TakeOrdered
    assert "PythonUDF" not in plan
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "ReadSchema: struct<text:string>" in plan  # column-pruned scan


def test_embedding_cov_single_pass(spark):
    plan = _plan(spark, "q_embedding_cov")
    # all 36 covariances from one mergeable co-moment aggregate over
    # one scan; the stack to rows is expression-only
    assert plan.count("FileScan parquet") == 1
    assert "partial_covar_samp" in plan or "covar_samp" in plan
    assert "Join" not in plan


def test_iqr_quartiles_avoid_group_percentile_buffer(spark):
    plan = _plan(spark, "q_iqr_outliers")
    # quartiles come from the per-group tie-class machinery: no built-in
    # percentile aggregate (one whole group's values in a single buffer)
    assert "percentile" not in plan.lower()
    assert "Scan ExistingRDD" in plan  # the checkpointed class table
    # r8: the fence pass counts outliers from the SAME class table —
    # the fact parquet is scanned once (inside the eager checkpoint),
    # never again in the final plan
    assert "FileScan parquet" not in plan


def test_wilcoxon_single_scan_pushed_range_no_self_join(spark):
    plan = _plan(spark, "q_wilcoxon_signed_rank")
    # r8 rewrite: the fact is read ONCE, inside the eager class-table
    # checkpoint (the old (yr,partkey)+self-join form scanned/grouped
    # it three times) — the final plan sees only the checkpointed
    # classes, no parquet scan, no join of pair rows, no rank window
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "rank(" not in plan


def test_param_sql_pushes_bound_parameters(spark):
    plan = _plan(spark, "q_param_sql")
    # named parameter markers must constant-fold into scan-level
    # filters (the PushedFilters list itself is truncated in toString,
    # so assert on the DataFilters the scan node prints)
    assert "PushedFilters: [IsNotNull" in plan
    assert ">= 30.0)" in plan
    assert "l_shipdate" in plan and "< 1997-01-01" in plan
    assert plan.count("FileScan parquet") == 1


def test_decile_transition_no_year_wide_window(spark):
    plan = _plan(spark, "q_decile_transition")
    # ranks come from grouped tie classes + a row_number INSIDE one
    # (yr, rev) class; no window may be partitioned on the bare year
    # (that pulls a whole year's customers into one task)
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        head = spec.split(",")[0]
        assert not (head.startswith("yr") and "rev" not in spec.split("ASC")[0]), spec
    assert "percentile" not in plan.lower()
    assert "ntile" not in plan.lower()


def test_permutation_test_explodes_rollup_not_events(spark):
    plan = _plan(spark, "q_permutation_test")
    # the 65-way explode sits on the CHECKPOINTED |users|-row rollup —
    # the event fact is scanned once, inside the eager checkpoint, and
    # never appears in the final plan
    assert "Generate explode" in plan
    assert plan.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in plan


def test_poisson_gof_single_pass_and_broadcast_bins(spark):
    plan = _plan(spark, "q_poisson_gof")
    # the order/lineitem scans happen once, inside the eager
    # k-histogram checkpoint; λ̂ and the binned counts both read the
    # checkpointed ≤|max k|-row table; the 14-row bin frame and the
    # 1-row λ side ride broadcasts
    assert plan.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_top_supplier_share_windowgrouplimit_and_broadcast_dims(spark):
    plan = _plan(spark, "q_top_supplier_share")
    # rn<=3 runs as partial top-k below the exchange; nation totals come
    # from an aggregate join (post-agg row counts — AQE broadcasts it at
    # runtime), never a fact-row window
    assert "WindowGroupLimit" in plan
    # both dims broadcast — asserted on the un-checkpointed rollup,
    # which the final plan reads as Scan ExistingRDD
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_warehouse import (
        supplier_revenue_frame,
    )

    rollup_plan = (
        supplier_revenue_frame(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert rollup_plan.count("BroadcastHashJoin") >= 2


def test_sql_udf_inlines_into_codegen(spark):
    plan = _plan(spark, "q_sql_udf")
    # the SQL-language function body must inline as a Catalyst
    # expression — no Python worker boundary anywhere
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_sum" in plan  # map-side combine on the inlined expr


def test_feature_correlation_single_rollup_pass(spark):
    plan = _plan(spark, "q_feature_correlation")
    # all six correlations share ONE aggregate over the user rollup
    assert plan.count("FileScan parquet") == 1
    assert "corr" in plan


# --- wave 35 ----------------------------------------------------------------


def test_roc_auc_serves_from_checkpointed_class_table(spark):
    plan = _plan(spark, "q_roc_auc")
    # the label join (orders+lineitem) runs ONCE inside the eager
    # score-class checkpoint; bucket-count and rank consumers both read
    # the ExistingRDD — no fact re-scan, no per-row global rank window,
    # no percentile buffer
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "percentile" not in plan.lower()


def test_cohens_kappa_single_scan_four_counters(spark):
    plan = _plan(spark, "q_cohens_kappa")
    # both raters are scan-side CASE codegen; one keyed aggregate with
    # map-side combine carries 4 int64 counters per stratum
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_mad_is_grouped_bucket_prefix_plan(spark):
    plan = _plan(spark, "q_mad_outliers")
    # r12 (VERDICT r11 #1): the grouped tie-class bucket idiom — every
    # grid-sized window partitions by (group, bucket), never by the
    # 5-value group alone, so no task ever sorts a whole priority's
    # value grid; offsets attach via broadcast joins of the tiny
    # (group, bucket) frames; the shared class grid is a single lazy
    # checkpoint (Scan ExistingRDD), and no built-in percentile buffer
    # appears anywhere
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan
    # bucketed exchange: the value-grid window partitions by
    # (pri, bkt), the dv-grid window by (pri, bktd)
    assert "hashpartitioning(pri#" in plan
    assert "bkt#" in plan and "bktd#" in plan
    assert "percentile" not in plan.lower()


def test_mad_grid_build_is_single_pruned_scan(spark):
    # the pre-checkpoint class-grid build: one fact scan pruned to the
    # two referenced columns, partial-aggregated map-side
    import pyspark.sql.functions as F
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import (
        load_table,
    )

    o = load_table(spark, "orders", SF)
    cls = (
        o.selectExpr("o_orderpriority AS pri", "o_totalprice AS v")
        .groupBy("pri", "v")
        .agg(F.expr("CAST(count(1) AS LONG) AS cnt"))
    )
    plan = cls._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "o_orderpriority" in plan and "o_totalprice" in plan
    assert "HashAggregate" in plan


def test_containment_pairs_keyed_on_gram_not_cartesian(spark):
    plan = _plan(spark, "q_containment_dedup")
    # inverted index: the self-join is keyed on (block, gram) — pair
    # space bounded by co-occurrence, never a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kendall_pairs_run_over_checkpointed_day_rollup(spark):
    plan = _plan(spark, "q_kendall_tau")
    # rollup-before-quadratic: the |days|² pair join reads the eager
    # day-rollup checkpoint, not the fact parquet
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_rbo_topk_cuts_below_exchange_then_checkpoints(spark):
    # the ranked-list builder cuts rnk<=k as WindowGroupLimit below the
    # exchange in ONE fact pass...
    import adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_retrieval as qr
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import load_table
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    li = load_table(spark, "lineitem", SF)
    rev = li.groupBy(
        F.when(F.year("l_shipdate") <= 1997, "a").otherwise("b").alias("period"),
        "l_partkey",
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("rev"))
    w = Window.partitionBy("period").orderBy(F.desc("rev"), F.asc("l_partkey"))
    builder = rev.select("period", "l_partkey", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= qr._RBO_K
    )
    bplan = builder._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in bplan
    assert bplan.count("FileScan parquet") == 1
    # ...and the query itself serves both period lists from the eager
    # ≤2k-row checkpoint — the fact never re-enters the final plan
    plan = _plan(spark, "q_rbo_rank_overlap")
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_lorenz_serves_from_checkpointed_rank_table(spark):
    plan = _plan(spark, "q_lorenz_gini")
    # deciles, shares and the Gini scalar all ride the checkpointed
    # exact-rank table — one fact scan inside the checkpoint, none after
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_negative_sampling_anti_join_and_inrow_candidates(spark):
    plan = _plan(spark, "q_negative_sampling")
    # candidates are in-row LCG arithmetic (sequence+explode — no join
    # against part); positives removed with a keyed anti-join against
    # the checkpointed bipartite edge substrate (r11 — orders and
    # lineitem no longer scan in the per-query plan)
    assert "LeftAnti" in plan
    assert plan.count("FileScan parquet") == 1  # customer only
    assert "Scan ExistingRDD" in plan  # the positives checkpoint
    assert "BatchEvalPython" not in plan


# --- wave 36 ----------------------------------------------------------------


def test_evt_gumbel_single_scan_closed_form(spark):
    plan = _plan(spark, "q_evt_gumbel")
    # day maxima come from the shared checkpointed daily_orders rollup
    # (one fact aggregate per session, not per query); moments and
    # return levels are closed-form — no iteration, no percentile
    # buffer, no fact re-scan
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "percentile" not in plan.lower()


def test_capture_recapture_pushes_source_filter(spark):
    plan = _plan(spark, "q_capture_recapture")
    # the two-source sample prunes at the scan; one scan feeds the
    # per-source vocabulary distinct
    assert plan.count("FileScan parquet") == 1
    assert "PushedFilters: [" in plan and "In(source" in plan


def test_pr_auc_serves_from_checkpointed_class_table(spark):
    plan = _plan(spark, "q_pr_auc")
    # same contract as q_roc_auc: the label join runs once inside the
    # eager score-class checkpoint; descending cum tp/fp and AP read
    # the ExistingRDD only
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_threshold_metrics_broadcast_grid_over_classes(spark):
    plan = _plan(spark, "q_threshold_metrics")
    # the 9-row grid broadcasts against the class table (inner
    # cross-shape is grid×classes, never grid×facts); r10: the class
    # table is the shared _score_classes session checkpoint — the fact
    # pair join runs once per session INSIDE it, so the final plan
    # reads no parquet at all
    assert plan.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cms_sketch_exchange_is_cell_bounded(spark):
    plan = _plan(spark, "q_cms_calibration")
    # the token stream collapses once into the checkpointed exact
    # (tok, count) vocab; sketch cells are weighted partial sums over
    # it (<= d*w cells) and the probe side is a TakeOrdered heap cut —
    # the fact parquet never re-enters the final plan
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_snippet_scoring_is_inrow_codegen(spark):
    plan = _plan(spark, "q_snippet_extract")
    # positions-based candidate scoring runs in-row up to the
    # localCheckpoint barrier (which protects the interpreted-HOF
    # counts from CollapseProject duplication); the final plan consumes
    # the checkpointed rows — no Python, no token shuffle, and the
    # parquet scan happens exactly once (inside the checkpoint)
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_corruption_is_inrow_codegen(spark):
    plan = _plan(spark, "q_span_corruption")
    # token counts come from the checkpointed doc_tokens substrate;
    # the span arithmetic itself stays in-row codegen (no Python, no
    # extra scan beyond the substrate read)
    assert "Scan ExistingRDD" in plan or plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_holt_series_cut_is_takeordered_result_local(spark):
    # the fact-scaled work (day rollup + 28-day cut) runs as a
    # TakeOrdered heap cut at construction; the smoother itself is a
    # bounded driver recursion, so the returned frame is local rows —
    # no UnionLoop paying ~27 job rounds for 28 rows of state
    import pyspark.sql.functions as F
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.sources.loaders import load_table

    builder = (
        load_table(spark, "orders", SF)
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.round(F.sum("o_totalprice"), 4).alias("rev"))
        .orderBy(F.desc("d"))
        .limit(28)
    )
    bplan = builder._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in bplan
    plan = _plan(spark, "q_holt_forecast")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "UnionLoop" not in plan


# --- wave 37 ----------------------------------------------------------------


def test_runs_test_serves_from_day_checkpoint(spark):
    plan = _plan(spark, "q_runs_test")
    # median, signs and run boundaries all read the eager day-rollup
    # checkpoint; no percentile buffer, no fact re-scan
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "percentile" not in plan.lower()


def test_mcnemar_single_scan_two_counters(spark):
    plan = _plan(spark, "q_mcnemar_flips")
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_jarque_bera_two_pass_centered_moments(spark):
    plan = _plan(spark, "q_jarque_bera")
    # mean side broadcast back onto the scan (3 rows), one centered
    # moment aggregate — exactly two scans, no variance/skew builtins
    # whose bias corrections differ per engine
    assert plan.count("FileScan parquet") == 2
    assert "BroadcastHashJoin" in plan
    assert "skewness(" not in plan and "kurtosis(" not in plan


def test_assortativity_joins_ride_checkpointed_edges(spark):
    plan = _plan(spark, "q_assortativity")
    # the edge list is the shared I1/I2 checkpoint; degree joins are
    # vertex-keyed; one scalar aggregate of five int64 sums on top
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_seasonality_reads_day_rollup_once(spark):
    plan = _plan(spark, "q_seasonality_strength")
    # grand mean, weekday means and the SS pass all read the eager
    # |days|-row checkpoint; both mean sides broadcast
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_length_bands_class_windows_no_percentile(spark):
    plan = _plan(spark, "q_length_bands")
    # disc order statistics from (lang, length) classes — no built-in
    # percentile aggregate buffering a language's values in one task
    assert "percentile" not in plan.lower()
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan


def test_dpo_pairing_is_rank_offset_join_on_checkpoint(spark):
    plan = _plan(spark, "q_dpo_pairs")
    # quality scoring + rank window run once into the checkpoint; the
    # pairing is a source-keyed equi-join on the rank offset — never a
    # per-source cross product
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_vocab_single_pass_topk_heap(spark):
    plan = _plan(spark, "q_importance_resampling")
    # one token aggregate feeds BOTH language models (target is a
    # filtered count of the same pass); final cut is a TakeOrdered heap
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


# --- wave 38 ----------------------------------------------------------------


def test_kruskal_wallis_single_scan_tie_classes(spark):
    plan = _plan(spark, "q_kruskal_wallis")
    # the tie-class table is checkpointed (one fact aggregate feeds the
    # offset rollup AND the rank join); rank sums are exact int64
    # aggregates; bucket offsets broadcast
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_brown_forsythe_single_pass_tie_classes(spark):
    plan = _plan(spark, "q_brown_forsythe")
    # ONE fact pass: the checkpointed (status, value) tie classes feed
    # both the disc medians and the cnt-weighted deviation moments —
    # no second |x - med| scan of the facts
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan
    assert "percentile" not in plan.lower()


def test_g_test_single_scan(spark):
    plan = _plan(spark, "q_g_test")
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_sprt_single_scan_ordered_walk(spark):
    plan = _plan(spark, "q_sprt_boundary")
    # one fact aggregate to days; the LLR walk is a window over the
    # day series
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_friedman_blocked_ranks_no_global_sort(spark):
    plan = _plan(spark, "q_friedman_test")
    # ranks run per block (week-keyed windows over <=k rows); blocks
    # broadcast back; no global Sort feeding a rank over all cells
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_theil_broadcast_dims(spark):
    plan = _plan(spark, "q_theil_index")
    # customer/nation hops broadcast; inequality terms ride the
    # nation-keyed exchange
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hurst_rides_daily_checkpoint(spark):
    plan = _plan(spark, "q_hurst_rs")
    # day series from the shared daily_orders checkpoint; R/S blocks
    # are (w, b)-keyed windows; the fit consumes 3 checkpointed rows
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_sax_rides_daily_checkpoint_integer_pipeline(spark):
    plan = _plan(spark, "q_sax_symbols")
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan


def test_query_likelihood_topk_cut(spark):
    plan = _plan(spark, "q_query_likelihood")
    # per-doc (len, tf) stats checkpointed — tokenize runs once for
    # both the corpus LM and the scoring pass; corpus stats broadcast;
    # global top-k via TakeOrdered, never a full sort
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_heavy_change_integer_sort_key_topk(spark):
    plan = _plan(spark, "q_heavy_change")
    # vocab counts checkpointed (explode runs once); top-k cut is
    # TakeOrdered on the exact int64 cross-product key
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan


def test_abc_xyz_two_rollups_keyed_join(spark):
    plan = _plan(spark, "q_abc_xyz")
    # r11: BOTH legs (ABC revenue and weekly-demand CV) re-aggregate
    # the part_revenue substrate's (part, yr, week) checkpoint — zero
    # fact scans remain in the per-query plan; the only
    # single-partition window runs over |parts| rows post-rollup
    assert plan.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_brier_decomposition_single_tokenize(spark):
    plan = _plan(spark, "q_brier_decomposition")
    # the 10-bin table is checkpointed: the document tokenize runs
    # once however many decomposition terms consume it
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan


# --- wave 39 ----------------------------------------------------------------


def test_odds_ratio_single_scan_counters(spark):
    plan = _plan(spark, "q_odds_ratio")
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_tost_single_scan_sufficient_stats(spark):
    plan = _plan(spark, "q_tost_equivalence")
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_katz_hops_ride_checkpointed_edges(spark):
    plan = _plan(spark, "q_katz_centrality")
    # the symmetrized edge list is checkpointed once; each hop is a
    # vertex-keyed join+agg against it; top-k via TakeOrdered
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_kcore_rounds_checkpoint_shrinking_edges(spark):
    plan = _plan(spark, "q_kcore_peel")
    # each peel round reads the PREVIOUS round's checkpoint (no
    # re-derivation chain); the final plan consumes the last round's
    # materialized edges
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    # r12: alternating window orientation — adjacent same-key degree
    # windows across round boundaries share one exchange, so 6 rounds
    # of 2 keyed windows plus the final a-keyed core aggregate plan
    # ≤7 exchanges (was 13 with the fixed a,b|a,b|… orientation)
    assert plan.count("Exchange hashpartitioning") <= 7
    assert plan.count("Window") == 2 * 6


def test_peak_detection_rides_daily_checkpoint(spark):
    plan = _plan(spark, "q_peak_detection")
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan


def test_l_moments_tie_classes_no_sort_of_facts(spark):
    plan = _plan(spark, "q_l_moments")
    # r11: value classes come from the checkpointed session
    # (status, v, cnt) substrate — no fact scan in the query plan; the
    # only Sort orders the class table (value axis), never fact rows
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "percentile" not in plan.lower()
    assert "BatchEvalPython" not in plan


def test_order_value_classes_substrate_build_shape(spark):
    # the pre-checkpoint substrate build (ADVICE r10 #1's lesson —
    # assert scan-side properties on the un-checkpointed frame): one
    # pruned fact scan, partial aggregation before the exchange
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_stats import (
        order_value_classes_frame,
    )

    df = order_value_classes_frame(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "o_orderstatus" in plan and "o_totalprice" in plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_order_value_pivot_substrate_build_shape(spark):
    # r12 (VERDICT r11 #2): the kruskal rank pivot is a session
    # substrate derived from the (status, v, cnt) substrate — its
    # pre-checkpoint build reads ExistingRDD (never the fact parquet)
    # and is one hash re-aggregation with map-side partials
    from adaptive_recommendation_chatbot_with_rag_and_vector_database_spark.queries_stats import (
        order_value_pivot_frame,
    )

    df = order_value_pivot_frame(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "partial_sum" in plan


@pytest.mark.parametrize(
    "name, build_jobs, total_jobs",
    [
        ("q_kruskal_wallis", 0, 6),
        ("q_wilcoxon_signed_rank", 5, 11),
        ("q_fifo_inventory", 1, 7),
    ],
)
def test_slice_query_job_counts(spark, name, build_jobs, total_jobs):
    """The Spark jobs of the benchmark slice's queries, warm (substrates
    built, table schemas cached): building the plan runs only the
    query's own eager jobs, and build + collect runs ``total_jobs``. A
    per-call schema-inference job or a new eager collect fails here."""
    from conftest import job_stats

    query = E.queries()[name]
    query(spark, SF).collect()  # warm the substrates and table schemas
    assert job_stats(spark, lambda: query(spark, SF))[0] == build_jobs
    assert job_stats(spark, lambda: query(spark, SF).collect())[0] == total_jobs
