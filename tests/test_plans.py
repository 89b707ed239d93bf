"""Physical-plan audits: the optimizations SURVEY.md §6 promises must
actually appear in the optimized plan, not just in docstrings."""

from __future__ import annotations

from ojo_daps_mirror_spark import plans

plans.load_all()


def _plan(spark, sf_dir, key, mode="formatted", aqe=True):
    import contextlib
    import io

    spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plans.QUERIES[key](spark, sf_dir).explain(mode)
        return buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # scan must not read the join keys it doesn't need
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "l_orderkey" not in scan[0] and "l_partkey" not in scan[0]


def test_q3_broadcasts_customer(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_q5_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q1_whole_stage_codegen(spark, sf_dir):
    # simple mode marks codegen stages with "*(n)"
    plan = _plan(spark, sf_dir, "q1_pricing_summary", mode="simple", aqe=False)
    assert "*(1)" in plan


def test_weekly_stock_uses_mapside_explode(spark, sf_dir):
    # the stock operator emits live-Mondays map-side (explode), never a
    # per-week range join against the fact table
    plan = _plan(spark, sf_dir, "weekly_stock")
    assert "explode(" in plan


def test_salary_chain_is_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "salary_extraction", mode="simple", aqe=False)
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python
    assert "ArrowEvalPython" not in plan  # no pandas udf either


def test_minhash_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_surface_forms_lexicon_is_broadcast(spark, sf_dir):
    # detection joins the token stream against the lexicon via broadcast;
    # the document stream must never shuffle for the join itself
    plan = _plan(spark, sf_dir, "skills_surface_forms")
    assert "BroadcastHashJoin" in plan


def test_soc_substring_match_broadcast_nlj(spark, sf_dir):
    # lookup is vocabulary-sized: containment theta-join must be a
    # broadcast nested loop, not a cartesian shuffle
    plan = _plan(spark, sf_dir, "soc_substring_match")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_repeat_orders_is_sortmerge_not_cartesian(spark, sf_dir):
    # equi key drives the join; the date band is a join condition —
    # never a cartesian
    plan = _plan(spark, sf_dir, "repeat_orders_30d")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_orders_with_big_lines_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orders_with_big_lines")
    assert "LeftSemi" in plan
    # the quantity filter must reach the lineitem scan
    assert "GreaterThanOrEqual(l_quantity" in plan


def test_parts_never_ordered_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "parts_never_ordered")
    assert "LeftAnti" in plan


def test_requires_degree_is_codegen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "requires_degree", mode="simple", aqe=False)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_features_table_reads_documents_once_per_feature_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "features_table")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_tfidf_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # the corpus side must never shuffle to meet the benchmark shingles
    plan = _plan(spark, sf_dir, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_only_codegen(spark, sf_dir):
    # hash-bucket sampling must be a pure scan+filter: the only exchange
    # is the range partitioning for the presentation orderBy — never a
    # hash shuffle
    plan = _plan(spark, sf_dir, "stratified_sample", mode="simple", aqe=False)
    assert "hashpartitioning" not in plan
    plan_f = _plan(spark, sf_dir, "stratified_sample")
    assert "BatchEvalPython" not in plan_f and "ArrowEvalPython" not in plan_f


def test_pii_scrub_is_codegen_map_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pii_scrub", mode="simple", aqe=False)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_clean_text_is_codegen_map_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "clean_text", mode="simple", aqe=False)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(1)" in plan


def test_skew_salted_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "skew_salted_join")
    assert "CartesianProduct" not in plan


def test_location_regex_pruned_scan(spark, sf_dir):
    # the extractor reads exactly the two columns it needs
    plan = _plan(spark, sf_dir, "location_regex_extract")
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "c_acctbal" not in scan[0] and "c_nationkey" not in scan[0]


def test_skills_by_soc_broadcasts_part(spark, sf_dir):
    plan = _plan(spark, sf_dir, "skills_by_soc_snapshot")
    assert "BroadcastHashJoin" in plan


def test_small_qty_revenue_pruned_scan_and_broadcast_part(spark, sf_dir):
    plan = _plan(spark, sf_dir, "small_qty_part_revenue")
    # fact scan reads only the 3 needed columns
    assert "struct<l_partkey:bigint,l_quantity:double,l_extendedprice:double>" in plan
    assert "BroadcastHashJoin" in plan


def test_large_volume_customers_broadcasts_filtered_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dormant_rich_customers_pushes_date_and_anti_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dormant_rich_customers")
    assert "LeftAnti" in plan
    # the dormancy cutoff must reach the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_nation_market_share_no_cartesian_one_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "nation_market_share")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan  # region prune is a semi join, not distinct+join


def test_scd2_single_shuffle(spark, sf_dir):
    # LAG and LEAD share one user_id partitioning: exactly one hash
    # exchange (plus the presentation-sort range exchange)
    plan = _plan(spark, sf_dir, "scd2_user_state", aqe=False)
    assert plan.count("hashpartitioning(") == 1


def test_dup_span_two_hash_shuffles(spark, sf_dir):
    # window count by span hash + per-doc aggregate: two hash exchanges
    plan = _plan(spark, sf_dir, "dup_span_fraction", aqe=False)
    assert plan.count("hashpartitioning(") == 2


def test_funnel_frontiers_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "funnel_conversion")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_soc_clean_title_is_codegen_map_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "soc_clean_title")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-only up to the output sort: exactly zero joins/aggregates
    assert "Join" not in plan and "HashAggregate" not in plan


def test_near_dup_adaptive_single_window_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "near_dup_adaptive")
    # windows and salts are map-side explodes: no window table, no
    # join; one per-(window, salt) pandas pass + final max agg
    assert "Join" not in plan
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert "BatchEvalPython" not in plan


def test_near_dup_windowed_no_join_no_dedup(spark, sf_dir):
    plan = _plan(spark, sf_dir, "near_dup_windowed")
    # windows are a map-side explode, and a pair is kept from its first
    # shared window by a filter: no join, no dedup aggregate
    assert "Join" not in plan
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert "HashAggregate" not in plan
    assert "BatchEvalPython" not in plan


def test_skill_cooc_lexicon_is_broadcast(spark, sf_dir):
    from ojo_daps_mirror_spark.plans.community_plans import skill_cooc_edges
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        skill_cooc_edges(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan          # lexicon attach
    assert "BatchEvalPython" not in plan        # pair expansion map-side


def test_priority_late_orders_semi_join_no_widen(spark, sf_dir):
    plan = _plan(spark, sf_dir, "priority_late_orders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_returned_top_customers_topk_no_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "returned_top_customers")
    # global top-k must be a TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    # returnflag filter reaches the scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_promo_revenue_broadcasts_part_prunes_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "promo_revenue_monthly")
    assert "BroadcastHashJoin" in plan
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "p_type" in ln]
    assert scan and "p_retailprice" not in scan[0] and "p_name" not in scan[0]


def test_trade_flows_single_big_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "nation_trade_flows")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # both dims broadcast


def test_min_acctbal_supplier_filters_dim_first(spark, sf_dir):
    plan = _plan(spark, sf_dir, "min_acctbal_supplier")
    # the size predicate must prune the part dim at its scan
    assert "EqualTo(p_size,10)" in plan
    assert "BroadcastHashJoin" in plan


def test_near_dup_cosine_distributed_block_pairs(spark, sf_dir):
    # the exact all-pairs path must be the block-pair applyInPandas
    # design: grouped pandas tasks, and NO driver-side corpus collect
    # (nothing to assert for collect in a plan — but the explode that
    # replicates vectors to block-pairs and the grouped-map node both
    # must be present)
    plan = _plan(spark, sf_dir, "near_dup_cosine")
    assert "FlatMapGroupsInPandas" in plan
    assert "explode(" in plan


def test_semdedup_shard_guard_in_plan(spark, sf_dir):
    # giant-cell shard guard: cell sizes attach via broadcast join and
    # the greedy pass groups on (cell, shard)
    plan = _plan(spark, sf_dir, "semdedup")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan


def _scan_count(plan: str, table: str) -> int:
    # formatted plans put the path on the node's "Location:" detail line
    return sum(
        1
        for ln in plan.splitlines()
        if "Location" in ln and f"{table}.parquet" in ln
    )


def _final_plan(spark, sf_dir, key):
    # execute so AQE finalises (exchange reuse is a runtime decision)
    import contextlib
    import io

    df = plans.QUERIES[key](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_band_filtered_revenue_full_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "band_filtered_revenue")
    # every predicate reaches the parquet scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,25.0)" in plan
    assert "GreaterThanOrEqual(l_discount,0.03)" in plan
    # and the scan reads only the 3 needed columns
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "l_orderkey" not in scan[0] and "l_partkey" not in scan[0]


def test_part_profit_filters_part_dim_at_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "part_profit_by_nation")
    # the name pattern prunes the part dim before the broadcast build
    assert "StringContains(p_name,widget)" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_important_part_value_single_fact_scan(spark, sf_dir):
    # the Q11 threshold must come from an aggregate OF the per-part
    # aggregate — never a second INDEPENDENT scan of the fact table:
    # the identical per-part-agg subtree on both sides collapses into
    # a ReusedExchange once AQE finalises
    plan = _final_plan(spark, sf_dir, "important_part_value")
    assert _scan_count(plan, "lineitem") == 1 or "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_customer_order_histogram_keeps_left_join(spark, sf_dir):
    # the priority exclusion must live IN the join condition: a
    # post-filter would silently drop zero-order customers
    plan = _plan(spark, sf_dir, "customer_order_histogram")
    assert "LeftOuter" in plan


def test_top_revenue_supplier_single_fact_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_revenue_supplier")
    assert _scan_count(plan, "lineitem") == 1
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_disjunctive_brand_revenue_or_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "disjunctive_brand_revenue")
    # the OR-of-ANDs on part attributes reaches the part scan
    assert "Or(" in plan
    assert "BroadcastHashJoin" in plan


def test_dominant_part_shippers_agg_of_agg(spark, sf_dir):
    # per-part denominator = aggregate of the pair-grain aggregate;
    # the shared subtree must reuse its exchange, not rescan the fact
    plan = _final_plan(spark, sf_dir, "dominant_part_shippers")
    assert _scan_count(plan, "lineitem") == 1 or "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_sole_late_supplier_one_pass(spark, sf_dir):
    # both existentials collapse into one aggregate: lineitem must be
    # scanned exactly once (the naive Q21 plan scans it three times)
    plan = _plan(spark, sf_dir, "sole_late_supplier")
    assert _scan_count(plan, "lineitem") == 1
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_single_wide_shuffle(spark, sf_dir):
    # chunking map-side (posexplode), first-occurrence as ONE window on
    # the chunk hash — no self-join
    plan = _plan(spark, sf_dir, "paragraph_dedup")
    assert "posexplode" in plan or "Generate" in plan
    assert "Window" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_heavy_hitters_topk_no_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "heavy_hitters_ngrams")
    assert "TakeOrderedAndProject" in plan


def test_temperature_mixing_broadcasts_rates(spark, sf_dir):
    # the |langs|-row derived-rate table must broadcast onto the doc
    # scan; the filter itself is map-side
    plan = _plan(spark, sf_dir, "temperature_mixing")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_stats_one_agg_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "corpus_stats")
    assert _scan_count(plan, "documents") == 1
    assert "Join" not in plan


def test_sequence_packing_one_window_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert "Window" in plan
    assert "Join" not in plan


def test_prefix_filter_no_cartesian_and_broadcast_verify(spark, sf_dir):
    # candidate pairs come from map-side expansion of prefix-bucket
    # lists; the verify joins broadcast the tiny pair frame — the plan
    # must never degenerate into an all-pairs join
    plan = _plan(spark, sf_dir, "jaccard_prefix_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_last_touch_attribution_one_shuffle_window(spark, sf_dir):
    # the as-of composition is union + ONE user_id window; no range
    # join, no per-key loop
    plan = _plan(spark, sf_dir, "last_touch_attribution")
    assert "Window" in plan
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_item_cooccurrence_mapside_pairs(spark, sf_dir):
    # pair expansion is map-side from each order's sorted part list
    # (Generate over the pair array) — never a lineitem self-join
    plan = _plan(spark, sf_dir, "item_cooccurrence")
    assert "Generate" in plan
    assert _scan_count(plan, "lineitem") == 1
    assert "SortMergeJoin" not in plan


def test_ewma_single_scan_no_join(spark, sf_dir):
    # corpus reduces to |weeks| rows in one aggregate; the recurrence
    # (collect_list window + fold) runs on the dimension-scale frame
    plan = _plan(spark, sf_dir, "ewma_weekly_volume")
    assert _scan_count(plan, "orders") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_record_linkage_wide_verify(spark, sf_dir):
    # block-key equi self-join at pair grain; levenshtein is the JVM
    # built-in — no cross join, no Python. The verify stage must keep
    # an explicit user-specified partition count: the pair shuffle is
    # tiny in BYTES, so AQE would otherwise coalesce it to one
    # partition and serialise every levenshtein call (measured 6x).
    plan = _plan(spark, sf_dir, "record_linkage")
    assert "REPARTITION_BY_NUM" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_link_prediction_broadcast_degrees(spark, sf_dir):
    plan = _plan(spark, sf_dir, "link_prediction_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_refresh_dimension_scale_merge(spark, sf_dir):
    # the merge is a |weeks|-row full-outer sum; no cartesian anywhere,
    # and the index attach stays a broadcast
    plan = _plan(spark, sf_dir, "incremental_stock_refresh")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_seasonal_decompose_dimension_scale(spark, sf_dir):
    # one fact aggregate to |days| rows; windows and the 7-row seasonal
    # broadcast all run on the dimension-scale frame
    plan = _plan(spark, sf_dir, "seasonal_decompose")
    assert _scan_count(plan, "orders") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan


def test_benford_one_agg_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "benford_profile")
    assert _scan_count(plan, "orders") == 1
    assert "CartesianProduct" not in plan


def test_knn_eval_streams_corpus(spark, sf_dir):
    # corpus streams through ONE Arrow pass; votes/accuracy run on
    # (query, label)-grain frames — no all-pairs join anywhere
    plan = _plan(spark, sf_dir, "knn_label_eval")
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan or "mapInPandas" in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session_path_dimension_scale(spark, sf_dir):
    # sessionize's one (user,time) shuffle + one session groupBy; the
    # share window and top-k run on the pattern-vocabulary table
    plan = _plan(spark, sf_dir, "session_path_analysis")
    assert "TakeOrderedAndProject" in plan
    assert _scan_count(plan, "events") == 1
    assert "Join" not in plan


def test_contrastive_mining_streams_corpus(spark, sf_dir):
    plan = _plan(spark, sf_dir, "contrastive_pair_mining")
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or "PythonMapInArrow" in plan or "mapInPandas" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mlm_masking_pure_map(spark, sf_dir):
    # corruption must be a single map pass: no shuffle, no join, no
    # Python — reproducible under resharding by construction
    plan = _plan(spark, sf_dir, "mlm_masking")
    assert "Exchange" not in plan.replace("Exchange rangepartitioning", "")  or "Join" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_equidepth_histogram_broadcast_cuts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "chars_equidepth_histogram")
    assert "CartesianProduct" not in plan
    assert _scan_count(plan, "documents") == 2  # cuts pass + bucket pass


def test_mutual_information_contingency_scale(spark, sf_dir):
    # fact join reduces to the |X|x|Y| table in one aggregate with a
    # broadcast customer dim; windows run on the tiny table
    plan = _plan(spark, sf_dir, "mutual_information_features")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _scan_count(plan, "orders") == 1


def test_kneser_ney_vocab_scale(spark, sf_dir):
    # one corpus shuffle to (w1,w2) counts; smoothing terms are
    # aggregates of the persisted type table joined back broadcast
    plan = _plan(spark, sf_dir, "kneser_ney_bigram")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_asof_nearest_single_shuffle(spark, sf_dir):
    # both direction carries evaluate over ONE sorted key partition —
    # no join of two as-of results, no range join
    plan = _plan(spark, sf_dir, "as_of_join_nearest")
    assert "Window" in plan
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_rerank_cuts_before_scoring(spark, sf_dir):
    # the candidate top-k (WindowGroupLimit) must run BEFORE the
    # cross-encoder projection: rerank cost is O(candidates)
    plan = _plan(spark, sf_dir, "rerank_stub")
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_int8_quantize_mapside(spark, sf_dir):
    # calibration is a |dim|-row aggregate collected once (codebook
    # shape); encode+error is one map pass — no join, no second shuffle
    plan = _plan(spark, sf_dir, "embedding_quantize_int8")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_data_profile_single_scan(spark, sf_dir):
    # all profiled columns from ONE scan: map-side unpivot (stack) to
    # (col, value) pairs, one combined count aggregate
    plan = _plan(spark, sf_dir, "data_profile_report")
    assert _scan_count(plan, "orders") == 1
    assert "SortMergeJoin" not in plan


def test_robust_scaling_broadcast_stats(spark, sf_dir):
    plan = _plan(spark, sf_dir, "robust_scaling")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_recall_no_cartesian(spark, sf_dir):
    # ground truth is the distributed prefix-filter path, never a
    # quadratic join; the found set broadcasts onto truth
    plan = _plan(spark, sf_dir, "dedup_recall_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_assignment_pure_map(spark, sf_dir):
    # assignment is join-free per row; report windows run on the
    # (lang, split)-grain frame
    plan = _plan(spark, sf_dir, "train_val_test_split")
    assert "Join" not in plan
    assert _scan_count(plan, "documents") == 1


def test_variant_extract_single_parse(spark, sf_dir):
    # props parses once into a variant; the aggregate is one
    # map-side-combined pass — no Python, no join
    plan = _plan(spark, sf_dir, "props_variant_extract")
    assert "parse_json" in plan or "variant_get" in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_udtf_is_arrow_optimized(spark, sf_dir):
    # the UDTF twin must run arrow-optimized, never row-pickled
    plan = _plan(spark, sf_dir, "rag_chunking_udtf")
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan


def test_per_group_regression_no_python(spark, sf_dir):
    # sufficient statistics are map-side-combined aggregates; a
    # million-group fit is one shuffle of 5 doubles per group
    plan = _plan(spark, sf_dir, "per_group_regression")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_correlation_matrix_single_scan(spark, sf_dir):
    # all pairwise coefficients from ONE aggregation pass
    plan = _plan(spark, sf_dir, "correlation_matrix")
    assert _scan_count(plan, "lineitem") == 1
    assert "Join" not in plan


def test_trend_forecast_dimension_scale(spark, sf_dir):
    plan = _plan(spark, sf_dir, "linear_trend_forecast")
    assert _scan_count(plan, "orders") == 1
    assert "Join" not in plan


def test_readability_pure_map(spark, sf_dir):
    plan = _plan(spark, sf_dir, "readability_scores")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chi_square_contingency_scale(spark, sf_dir):
    plan = _plan(spark, sf_dir, "chi_square_independence")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _scan_count(plan, "orders") == 1


def test_phash_dedup_banding_no_cartesian(spark, sf_dir):
    # fingerprints from ONE Arrow kernel pass; candidates from band
    # buckets with map-side pair expansion; hamming verify broadcast
    plan = _plan(spark, sf_dir, "media_dedup_phash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_distinct_single_combined_aggregate(spark, sf_dir):
    # bitmaps fold map-side per bucket and merge associatively —
    # no raw-value re-shuffle, no expand
    plan = _plan(spark, sf_dir, "bitmap_distinct_users")
    assert _scan_count(plan, "events") == 1
    assert "Join" not in plan


def test_sequence_mining_no_events_self_join(spark, sf_dir):
    # ordered pairs expand map-side from each user's <=|types| firsts;
    # never an events-grain self-join
    plan = _plan(spark, sf_dir, "sequence_mining_2seq")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _scan_count(plan, "events") <= 2  # firsts pass + user-count scalar


def test_weighted_sample_topk_no_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "weighted_sample_es")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_ab_test_single_fact_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ab_test_analysis")
    assert _scan_count(plan, "events") == 1
    assert "Join" not in plan


def test_conversion_latency_one_conditional_min(spark, sf_dir):
    plan = _plan(spark, sf_dir, "conversion_latency_quantiles")
    assert _scan_count(plan, "events") == 1
    assert "Join" not in plan


def test_period_over_period_dimension_scale(spark, sf_dir):
    plan = _plan(spark, sf_dir, "period_over_period")
    assert _scan_count(plan, "orders") == 1
    assert "Window" in plan


def test_doc_embedding_chain_one_shuffle(spark, sf_dir):
    # chunk + embed are map expressions; the only shuffle is the final
    # (doc, dim)-grain mean
    plan = _plan(spark, sf_dir, "doc_embedding_from_chunks")
    assert _scan_count(plan, "documents") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
