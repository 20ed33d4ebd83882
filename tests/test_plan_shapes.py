"""Physical-plan regression tests: the 100 TB design claims in
SCALE.md, asserted against `.explain` output so a refactor cannot
silently regress pushdown, broadcast choices, or top-k strategy.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE


def _plan(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_SMOKE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # ReadSchema must not include unused lineitem columns.
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q7_range_filter_pushed(spark):
    plan = _plan(spark, "q7_nation_volume")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_topk_uses_partial_heaps_not_global_sort(spark):
    plan = _plan(spark, "q_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_q5_broadcasts_only_bounded_dims(spark):
    """Only the three HINTED sides (supplier/nation/region) broadcast
    when size-based auto-broadcast is disabled — i.e. at a scale where
    nothing is "small", the fact-side joins (customer<->orders,
    orders<->lineitem) degrade to shuffle joins instead of OOMing the
    driver. At tiny SF the optimizer would otherwise broadcast
    everything on size estimates, which proves nothing about 100 TB."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q5_local_supplier_volume")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Exactly the three explicit broadcasts (supplier, nation, region) —
    # counted as tree nodes; the formatted output repeats each node in
    # the detail section.
    import re

    assert len(re.findall(r"\+- BroadcastExchange \(\d+\)", plan)) == 3
    # ...and the two fact-side joins shuffle.
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_exact_dedup_single_shuffle(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, "q_exact_dedup")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # One exchange total: the md5 groupBy hash partitioning (the
    # formatted tree names the node 'Exchange'; its arguments carry the
    # partitioning kind).
    assert plan.count("hashpartitioning") >= 1
    assert plan.count("Exchange (") == 1


def test_no_cartesian_products_outside_documented_paths(spark):
    """Broadcast scalar crossJoins are fine; a CartesianProduct node
    (shuffle cross product) must never appear in the relational plans."""
    for name in (
        "q_scalar_subquery",
        "q11_important_parts",
        "q22_idle_customers",
        "q17_small_quantity_revenue",
        "q_range_join",
    ):
        assert "CartesianProduct" not in _plan(spark, name), name


def test_hash_sample_is_shuffle_free(spark):
    """Deterministic sampling must stay a scan->filter->project plan —
    no Exchange anywhere (SCALE.md: sampling 100 TB costs one pass)."""
    plan = _plan(spark, "q_hash_sample")
    assert "Exchange" not in plan


def test_hash_bucket_engine_stable(spark):
    """The bucket is a pure function of (salt, key) — pin a few values
    so a refactor (different hash, different nibble order) cannot
    silently resample every corpus."""
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.plans.sampling import hash_bucket

    import hashlib

    df = spark.range(5).select(
        "id", hash_bucket("sample", F.col("id")).alias("b")
    )
    got = {r["id"]: r["b"] for r in df.collect()}
    for k in range(5):
        h = hashlib.md5(f"sample:{k}".encode()).hexdigest()
        assert got[k] == int(h[:4], 16) % 1000


def test_q2_broadcasts_bounded_dims_only(spark):
    """Q2's supplier/nation/region/part are broadcast; the
    (partkey, suppkey) cost agg is the only fact-side shuffle."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 3
    # the min-cost join-back must NOT be a broadcast of the fact side
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_edit_distance_hot_bucket_prune_in_plan(spark):
    """The 100 TB guard on the pair-generation family: hot (lang,
    len-bucket) groups are removed via a broadcast anti-join BEFORE the
    quadratic intra-bucket join — the prune must be visible in the
    physical plan (VERDICT r03 fix)."""
    plan = _plan(spark, "q_edit_distance_pairs")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_simhash_hot_band_prune_in_plan(spark):
    """Same guard for simhash band blocking: each band's hot values are
    anti-joined out before that band's self-join (4 bands -> 4 anti
    joins)."""
    plan = _plan(spark, "q_simhash_pairs")
    assert plan.count("LeftAnti") >= 4
    assert "CartesianProduct" not in plan


def test_q21_single_fact_pass(spark):
    """Q21 computes EXISTS/NOT-EXISTS via per-order stats — lineitem
    must be scanned at most twice (lines + stats reuse), never the
    textbook triple self-join."""
    plan = _plan(spark, "q21_waiting_supplier")
    # formatted explain lists each node in the tree ("Scan parquet  (n)")
    # and again in the details section — count tree nodes only.
    assert plan.count("Scan parquet  (") <= 5  # 2x lineitem, 2x orders, supplier
    assert "CartesianProduct" not in plan


def test_hll_sketch_has_partial_aggregation(spark):
    """The HLL register build must be a two-level hash aggregate
    (map-side partial MAX per scan task -> final MAX after a
    register-keyed shuffle) — the property that keeps the shuffle
    kilobyte-scale at any corpus size."""
    plan = _plan(spark, "q_hll_vocab")
    assert "partial_max" in plan, plan
    assert "BatchEvalPython" not in plan


def test_cms_probe_joins_broadcast_cells(spark):
    """The CMS probe side must join the (<= 2048-row) cell table as a
    broadcast — probing must never shuffle the sketch."""
    plan = _plan(spark, "q_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_bloom_bits_join_is_broadcast(spark):
    """The 4096-bit relation broadcasts to the probe scan; the probe
    table itself must not be exchanged before the bit join."""
    plan = _plan(spark, "q_bloom_semijoin")
    assert "BroadcastHashJoin" in plan


def test_zorder_locality_single_aggregate_no_python(spark):
    """The z-value is a pure bit-op expression: one hash aggregate,
    nothing Python, nothing exploded."""
    plan = _plan(spark, "q_zorder_locality")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # no explode in the z-value path


def test_semantic_dedup_pairwise_is_cluster_keyed(spark):
    """The SemDeDup pairwise stage joins on the cluster id (cid) —
    quadratic only within a cell, never a cartesian across the
    corpus."""
    plan = _plan(spark, "q_semantic_dedup")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the bounded 16-row centroid
    # broadcasts; the member-member join must be a hash join on cid
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


# --- round-5 depth additions -------------------------------------------------


def test_skyline_no_self_join(spark):
    """The skyline plan must be aggregate + broadcast equi-join back —
    never the O(n^2) dominance self-join the oracle uses."""
    plan = _plan(spark, "q_skyline")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_random_projection_zero_shuffle(spark):
    """The JL projection is a map-only pass: no Exchange anywhere."""
    plan = _plan(spark, "q_random_projection")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan  # JVM higher-order fns only


def test_pii_redact_zero_shuffle(spark):
    plan = _plan(spark, "q_pii_redact")
    assert "Exchange" not in plan


def test_feature_hashing_partial_agg(spark):
    """Map-side combine before the (doc_id, bucket) shuffle."""
    plan = _plan(spark, "q_feature_hashing")
    assert "partial_count" in plan or "Partial" in plan


def test_char_entropy_partial_agg(spark):
    plan = _plan(spark, "q_char_entropy")
    assert "partial_count" in plan or "Partial" in plan


def test_mahalanobis_broadcast_stats(spark):
    """Sufficient statistics broadcast back for a zero-shuffle scoring
    pass — the scoring side must not shuffle the vectors."""
    plan = _plan(spark, "q_mahalanobis_outliers")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats crossJoin
    assert plan.count("Exchange hashpartitioning") == 0


def test_weighted_median_no_single_task_window(spark):
    """The ECDF must ride the range-partitioned two-phase prefix sum:
    any Window node present must be partitioned (no empty PARTITION
    BY over the whole relation)."""
    plan = _plan(spark, "q_weighted_median")
    # The prefix-sum module range-partitions then localCheckpoints, so
    # the final plan shows the checkpointed frame + its pid column.
    assert "Scan ExistingRDD" in plan
    assert "__prefix_pid" in plan


def test_audio_decode_arrow_batched(spark):
    """Both codec halves run as Arrow mapInPandas stages, never
    row-at-a-time Python."""
    plan = _plan(spark, "q_audio_decode_real")
    assert plan.count("MapInPandas") >= 2  # encode + decode stages
    assert "BatchEvalPython" not in plan


def test_rfm_no_single_task_window(spark):
    """Round-5 defect class: the three quartile dimensions must ride
    the distributed row_number (range-partition + pid-keyed window),
    never ntile's single-task global sort."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_rfm_segments")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan  # ranks come from the two-phase scan
    assert "ntile" not in plan


def test_conversion_lag_no_global_percentile_buffer(spark):
    """percentile() buffers the whole relation in ONE aggregation
    buffer; the rewrite picks order statistics off the distributed
    row_number instead."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_conversion_lag")
    assert not single_partition_windows(plan)
    assert "percentile(" not in plan
    assert "__prefix_pid" in plan


def test_value_anomaly_window_is_chunked(spark):
    """The trailing-100 window must partition by (event_type, chunk) —
    parallelism scales with rows, not with |event_type|."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_value_anomaly")
    assert not single_partition_windows(plan)
    assert "chunk" in plan  # the window key includes the chunk id


def test_ks_test_ecdf_rides_prefix_sum(spark):
    """Both sample ECDFs must come from the two-phase distributed
    prefix sum (pid-partitioned window over the checkpointed
    range-partitioned frame) — red if someone swaps back to a global
    cumulative window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_ks_test")
    assert "__prefix_pid" in plan
    assert not single_partition_windows(plan)


def test_naive_bayes_partial_aggregation(spark):
    """The class-conditional token counts must partial-aggregate
    map-side (partial_sum/partial_count before every exchange) — the
    shape that bounds the shuffle at corpus scale."""
    plan = _plan(spark, "q_naive_bayes")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_dbscan_neighbors_are_grid_equijoin(spark):
    """DBSCAN's neighbor step must stay a (cell, probe-cell) equi-join
    — 9 cells per point, never an all-pairs product. Red if the grid
    key is dropped and the join degenerates to a nested-loop or
    cartesian plan."""
    plan = _plan(spark, "q_dbscan")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_copurchase_bfs_frontier_is_checkpointed(spark):
    """Each BFS round must expand from a localCheckpoint()ed frontier
    (Scan ExistingRDD in the final plan) so lineage doesn't re-derive
    all prior rounds; the final plan stays a bounded union + aggregate,
    not a round-count-deep join tree."""
    plan = _plan(spark, "q_copurchase_bfs")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # The whole-query tree must stay shallow: every expansion round ran
    # eagerly at checkpoint time, so at most a handful of exchanges
    # survive into the final plan.
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 4


def test_kcore_final_plan_is_checkpoint_shallow(spark):
    """Every peel round ran eagerly at checkpoint time, so the final
    plan must read checkpointed RDDs and stay shallow — not a
    rounds-deep join tree."""
    plan = _plan(spark, "q_kcore")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 6


def test_label_propagation_argmax_is_partial_agg_no_window(spark):
    """LPA's per-vertex argmax must stay a partial-aggregable
    max(struct(c, -lbl)) — never a per-vertex window sort — and the
    edge relation is checkpoint-shallow (per-round lineage cut)."""
    plan = _plan(spark, "q_label_propagation")
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan  # checkpointed labels


def test_link_prediction_wedges_are_equijoin(spark):
    """The RA wedge generation must be an equi-join on the common
    neighbor z (hub-capped), never a cartesian pair enumeration."""
    plan = _plan(spark, "q_link_prediction")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 via partial heaps


def test_item_cf_topk_window_is_item_partitioned(spark):
    """The per-item top-3 window must hash-partition on the item key
    (parallelism follows items), never SinglePartition."""
    plan = _plan(spark, "q_item_cf")
    assert "Window" in plan
    assert "hashpartitioning(item" in plan
    assert "CartesianProduct" not in plan
    # (the engine-wide sweep in test_no_antipatterns additionally
    # proves no SinglePartition exchange feeds this window)


def test_kmv_merged_tier_is_take_ordered(spark):
    """KMV's merged-union k-smallest must compile to
    TakeOrderedAndProject (bounded partial heaps), and the per-source
    ranks must ride the checkpointed range-partitioned rank relation
    (no |source|-capped window over the raw hash relation)."""
    plan = _plan(spark, "q_kmv_distinct")
    assert "TakeOrderedAndProject" in plan


def test_pca_iterations_have_no_shuffle(spark):
    """After the sufficient-statistics aggregate, the squaring chain
    runs on a single-row relation: the plan must contain no join and
    no shuffle beyond the stats aggregation's own exchange and the
    final bounded dim broadcast."""
    plan = _plan(spark, "q_pca_power")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kaplan_meier_fold_is_bounded_aggregate(spark):
    """The survival recurrence must run inside a bounded
    collect_list/aggregate fold — never a fact-scale unpartitioned
    window or a percentile-style buffering aggregate."""
    plan = _plan(spark, "q_kaplan_meier")
    assert "Window" not in plan
    assert "percentile" not in plan.lower()


def test_holt_fold_is_bounded_aggregate(spark):
    plan = _plan(spark, "q_holt_forecast")
    assert "Window" not in plan
    assert "collect_list" in plan


# --- round-6 late additions --------------------------------------------------


def test_hits_rounds_are_equijoins_no_wedges(spark):
    """The visible q_hits plan (post-checkpoint segment) must take its
    top-10s as partial heaps and keep the only nested-loop joins as
    the 1-row broadcast max-normalizers; the per-round edge joins are
    behind materialize barriers, so the half-round shape is pinned
    separately on the un-checkpointed inner relation."""
    plan = _plan(spark, "q_hits")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # The half-round inflow (edges ⋈ scores → per-vertex sum) must be a
    # hash equi-join feeding a partial aggregate — the kernel's inflow,
    # built here without the checkpoints so the shape is visible.
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.functions.graph import _inflow
    from mapreduce_server_development_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    bought = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    h = bought.select("c").distinct().select(
        "c", F.lit(1_000_000).cast("long").alias("score")
    )
    half = _inflow(bought, h, "c", "p", None)
    p2 = half._sc._jvm.PythonSQLUtils.explainString(
        half._jdf.queryExecution(), "formatted"
    )
    assert "partial_sum" in p2
    assert "CartesianProduct" not in p2
    assert (
        "SortMergeJoin" in p2 or "ShuffledHashJoin" in p2
        or "BroadcastHashJoin" in p2
    )


def test_assoc_rules_topn_is_take_ordered(spark):
    """The global top-20 rules must compile to TakeOrderedAndProject,
    never a global sort of the pair relation."""
    plan = _plan(spark, "q_assoc_rules")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_acf_lag_pairing_is_equijoin_no_window(spark):
    """The ACF lag product must be a day-key equi-join of the bounded
    daily series against its shifted self — no window anywhere, and
    the daily aggregation partial-aggregates before its shuffle."""
    plan = _plan(spark, "q_acf")
    assert "Window" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_theil_sen_median_rides_global_row_number(spark):
    """The pairwise-slope median must pick order statistics via the
    two-phase global_row_number scan (range repartition + bounded
    offsets) — never an interpolating percentile buffer."""
    plan = _plan(spark, "q_theil_sen")
    assert "percentile" not in plan.lower()


def test_mlm_masking_zero_shuffle_jvm_only(spark):
    """Masking must stay a scan -> project plan: no exchange other
    than the output ordering sort, and no Python evaluation at all."""
    plan = _plan(spark, "q_mlm_masking")
    assert "EvalPython" not in plan
    assert "HashAggregate" not in plan
    main = plan.split("===== Subqueries")[0]
    # Only the final presentation sort's range exchange is allowed.
    import re

    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: (\w+)", main)
    assert all(a == "rangepartitioning" for a in exchanges), exchanges


def test_rolling_corr_frame_is_range_join_no_window(spark):
    """The trailing-30-day frame must be a bounded broadcast range
    join over the calendar-bounded daily series — no WindowExec, and
    the lineitem collapse partial-aggregates before its shuffle."""
    plan = _plan(spark, "q_rolling_corr")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_cumulative_users_no_window_single_user_shuffle(spark):
    """The growth curve must resolve distinct-ness once (user_id
    shuffle) and run the cumsum as a bounded broadcast range join —
    no WindowExec, no count-distinct-per-day re-expansion."""
    plan = _plan(spark, "q_cumulative_users")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonality_grand_total_is_broadcast_scalar(spark):
    """The 7-row dow relation joins its grand total as a broadcast —
    no window, no single-partition exchange over the daily series."""
    plan = _plan(spark, "q_seasonality")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_quantile_sketch_bounded_state_no_global_window(spark):
    """The sketch must be an ordinary partial-aggregable groupBy (its
    cumulative pass a bounded broadcast self-join) and the exact audit
    the two-phase ECDF — no single-task window anywhere, and no
    cartesian product."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_quantile_sketch")
    assert not single_partition_windows(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_containment_pairs_is_pruned_equi_join(spark):
    """Candidate generation must be the hot-shingle-pruned shingle
    equi-join (broadcast anti-join prune visible), never an all-pairs
    product, and no single-task window exists."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_containment_dups")
    assert "CartesianProduct" not in plan
    assert not single_partition_windows(plan)
    assert "LeftAnti, BuildRight" in plan or "LeftAnti" in plan


def test_pareto_share_ranks_are_two_phase(spark):
    """Descending revenue ranks must ride the distributed prefix scan
    (range partitioning visible), never a single-task global window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_pareto_share")
    assert not single_partition_windows(plan)
    # The rank relation is the checkpointed two-phase prefix frame
    # (its range exchange sits above the checkpoint cut, so the plan
    # shows the internal partition-id column of the offset join).
    assert "__prefix_pid" in plan


def test_cohens_kappa_zero_shuffle_flags(spark):
    """The 2x2 contingency must be one global partial aggregate over
    zero-shuffle per-document flags — no window, no join."""
    plan = _plan(spark, "q_cohens_kappa")
    assert "Window" not in plan
    assert "Join" not in plan


def test_trimmed_mean_no_single_task_window(spark):
    """Tail membership must ride the two-phase distributed rank, not
    a global-sort window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_trimmed_mean")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_source_overlap_fanout_is_catalog_bounded(spark):
    """The pair generator is a token-keyed equi-join (SortMergeJoin /
    ShuffledHashJoin on tok), never a cartesian product."""
    plan = _plan(spark, "q_source_overlap")
    assert "CartesianProduct" not in plan
    assert "tok" in plan


def test_centroid_similarity_exact_integer_sums(spark):
    """Component sums must partial-aggregate (map-side combine) and
    the pair join be dim-keyed — no product, no window."""
    plan = _plan(spark, "q_centroid_similarity")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_wilson_top20_uses_partial_heaps(spark):
    """The ranked selection must compile to TakeOrderedAndProject
    (bounded per-partition heaps), not a global sort."""
    plan = _plan(spark, "q_wilson_returns")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_ewma_is_bounded_convolution_no_window(spark):
    """The EWMA must be the literal-weight convolution over the
    calendar-bounded series — a broadcast range join, no WindowExec
    and no sequential state."""
    plan = _plan(spark, "q_ewma")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ohlc_is_single_partial_aggregate(spark):
    """The candle is one map-side-combined hash aggregate on the hour
    key — struct min/max, no window, no join."""
    plan = _plan(spark, "q_ohlc")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_fightin_words_topk_window_is_source_partitioned(spark):
    """The top-10 window partitions by source (|sources|-parallel) and
    the vocabulary joins stay token-keyed — no single-task window, no
    vocabulary broadcast."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_fightin_words")
    assert not single_partition_windows(plan)
    assert "CartesianProduct" not in plan


def test_zipf_ranks_are_two_phase(spark):
    """Frequency ranks must ride the distributed prefix scan."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_zipf_fit")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_rolling_distinct_merges_registers_not_users(spark):
    """The sliding-window merge must join the (anchor, day) calendar
    mapping to the REGISTER table (bounded), never re-shuffle raw
    users per window; register build partial-aggregates."""
    plan = _plan(spark, "q_rolling_distinct")
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_knn_eval_broadcasts_query_sample_no_dim_explosion(spark):
    """The pair tier must broadcast the bounded query sample and keep
    dots as JVM array folds — no Generate (posexplode) feeding a
    pair shuffle, no CartesianProduct node."""
    plan = _plan(spark, "q_knn_eval")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_psi_bins_partial_aggregate(spark):
    """Both eras bin in ONE scan (conditional sums, map-side combine);
    the totals join back as a broadcast scalar."""
    plan = _plan(spark, "q_psi")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_tfidf_cosine_join_is_df_capped_token_join(spark):
    """The pair generator joins on the token key after the df cap —
    no cartesian, no single-task window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert not single_partition_windows(plan)


def test_churn_is_user_keyed_full_outer(spark):
    """Week-over-week flows ride a user-keyed FULL OUTER join of the
    distinct (week, user) relation — no window, no per-user state."""
    plan = _plan(spark, "q_churn_rate")
    assert "FullOuter" in plan
    assert "Window" not in plan


def test_welch_is_single_partial_aggregate(spark):
    """All six sufficient statistics must reduce in ONE partial-agg'd
    hash aggregate — no window, no join, no product."""
    plan = _plan(spark, "q_welch_ttest")
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_lorenz_ranks_are_two_phase(spark):
    """Customer revenue ranks must ride the distributed prefix scan
    (range partition + per-partition offsets), never a global-sort
    window; the 10-row cumulative must not reintroduce one either."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_lorenz_deciles")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_mann_whitney_midranks_are_two_phase(spark):
    """The cumulative value-histogram counts must come from the
    distributed running sum, not a single-task ordered window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_mann_whitney")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_spearman_rank_maps_broadcast(spark):
    """Row-level rank pickup must be broadcast joins on the tiny
    value-domain maps — the data-scale relation is never shuffled on
    the rank key."""
    plan = _plan(spark, "q_spearman_corr")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_kendall_pairs_confined_to_cells(spark):
    """The quadratic concordance scan must run on the bounded
    contingency-cell relation via a broadcast nested-loop join —
    never a row-level product; cells must partial-aggregate."""
    plan = _plan(spark, "q_kendall_tau")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_js_divergence_rides_vocab_histogram(spark):
    """The pair fan-out must join the broadcast pair list against the
    (source, token) HISTOGRAM (post partial-agg), and per-pair terms
    must integer-sum via hash aggregate — no window, no product."""
    plan = _plan(spark, "q_js_divergence")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_clustering_coefficient_no_window_no_product(spark):
    """The triangle engine is equi-joins under degree orientation;
    the per-node average is an exact integer sum — no window, no
    cartesian product anywhere."""
    plan = _plan(spark, "q_clustering_coefficient")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cuped_is_user_keyed_agg_then_scalar_rollup(spark):
    """Per-user covariate/metric pairs come from one user-keyed join +
    hash aggregate; moments reduce in one partial-agg'd rollup — no
    window, no product."""
    plan = _plan(spark, "q_cuped")
    assert "partial_sum" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hhi_partial_aggregates_per_supplier(spark):
    """Supplier revenue must partial-aggregate before the per-nation
    rollup, and the nation-name join must broadcast."""
    plan = _plan(spark, "q_hhi_concentration")
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_kruskal_midranks_are_two_phase(spark):
    """KW shares the Mann–Whitney histogram machinery: cumulative
    counts via the distributed prefix scan, no single-task window."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_kruskal_wallis")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_nb_auc_ranks_are_two_phase(spark):
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_nb_auc")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_bh_pvalue_ranks_are_two_phase(spark):
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_bh_discoveries")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_hill_topk_uses_partial_heaps(spark):
    """The k+1 order statistics must come from TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    plan = _plan(spark, "q_hill_tail")
    assert "TakeOrderedAndProject" in plan


def test_rake_window_is_doc_partitioned(spark):
    """Phrase segmentation must window per document (hash-partitioned
    on doc_id), and the top-k must be partial heaps."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_keyword_rake")
    assert not single_partition_windows(plan)
    assert "TakeOrderedAndProject" in plan


def test_eccentricity_no_window_no_product(spark):
    plan = _plan(spark, "q_eccentricity")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ipf_no_single_partition_window(spark):
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_ipf_raking")
    assert not single_partition_windows(plan)
    assert "Window" not in plan


def test_gmm_em_runs_on_histogram_cells(spark):
    """The iterations already ran on the driver-held parameters
    (``session.one_row``), so the returned frame is a one-row readout
    of literals: assert it stays that way (no window, no product
    smuggled into the final projection)."""
    plan = _plan(spark, "q_gmm_em")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_shapley_lattice_is_bounded_joins(spark):
    """All data-scale work is the user-keyed bitmask aggregate; the
    16-mask lattice joins broadcast — no product, no window."""
    plan = _plan(spark, "q_attribution_shapley")
    assert "partial_max" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_modularity_no_window_no_product(spark):
    plan = _plan(spark, "q_modularity")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_crosscorr_lag_join_is_calendar_keyed(spark):
    """The lag fan-out must be a broadcast literal join against the
    bounded hourly grid, then partial-agg'd moments per lag."""
    plan = _plan(spark, "q_crosscorr")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_wilcoxon_midranks_are_two_phase(spark):
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_wilcoxon")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_audience_overlap_pairs_keyed_by_user(spark):
    """Exact overlap: pair counts come from a USER-keyed equi-join
    (fan-out bounded by the segment domain), partial-agg'd; segment
    sizes and the distinct-user total join back by broadcast. No
    window, no product anywhere."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_audience_overlap")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not single_partition_windows(plan)


def test_audience_kmv_bottomk_is_chunked(spark):
    """KMV sketch: the per-segment bottom-k must be the two-phase
    chunked shape — stage-1 windows keyed by (segment, hash-bucket)
    so parallelism is |segments|x64, never a bare low-cardinality
    segment sort over the data-scale audience; all pairwise work
    happens on the bounded |segments|*k sketch relation."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_audience_kmv")
    assert not single_partition_windows(plan)
    assert "CartesianProduct" not in plan
    # Stage-1 chunk key: hash-bucket term next to the segment key in a
    # window partition spec ((h % 64) appears as the pmod expression).
    assert "pmod" in plan or "% 64" in plan


def test_changepoint_has_no_per_type_window(spark):
    """CUSUM runs on two-phase global scans + struct-MAX argmax — the
    per-type running-sum/rank windows (parallelism capped at
    |event_type|) must not reappear."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_changepoint")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan
    assert "partial_max" in plan  # the argmax is a partial-agg'd MAX


def test_stratified_sample_rank_is_two_phase(spark):
    """In-stratum ranks come from the two-phase global row_number
    (strata contiguous, broadcast MIN offsets) — never a window
    partitioned by the |lang|-value key over the corpus."""
    from .test_no_antipatterns import single_partition_windows

    plan = _plan(spark, "q_stratified_sample")
    assert not single_partition_windows(plan)
    assert "__prefix_pid" in plan


def test_boilerplate_df_agg_is_hash_keyed_no_window(spark):
    """The (source, gram-hash) df aggregate must be a hash aggregate
    over the exploded shingles — no window, no cartesian; gram text
    must travel as the 16-hex md5 prefix, not the raw gram."""
    plan = _plan(spark, "q_boilerplate_ngrams")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "md5" in plan and "substring" in plan


def test_knn_graph_readout_is_checkpoint_shallow(spark):
    """The k-NN edge relation is localCheckpoint()ed (it feeds both
    the node and the undirected-pair aggregates), so the final plan
    must be the shallow readout: two hash aggregates over the RDD
    scan joined by one bounded broadcast — no window, no cartesian,
    node counting hash-partitioned on the vector id."""
    plan = _plan(spark, "q_knn_graph")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed edges
    assert "Window" not in plan  # ranking happened pre-checkpoint
    assert "hashpartitioning(vid" in plan


def test_matryoshka_single_corpus_pass_broadcast_queries(spark):
    """All four truncation cosines ride ONE corpus scan with the
    bounded query side broadcast (the sanctioned cosine_topk tier);
    the scan of embeddings must appear exactly once pre-checkpoint in
    the pairs subplan (checkpointed), and no CartesianProduct."""
    plan = _plan(spark, "q_matryoshka_audit")
    assert "CartesianProduct" not in plan
    # post-checkpoint plan: the heavy pairs relation is an RDD scan
    assert "Scan ExistingRDD" in plan


def test_dsir_cells_broadcast_per_doc_agg_keyed(spark):
    """The 256-bucket log-ratio panel must broadcast into the per-doc
    weight join (BroadcastHashJoin on the bucket key), the per-doc
    weight must be a doc-keyed hash aggregate, and nothing may be a
    cartesian or a window."""
    plan = _plan(spark, "q_dsir_weights")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, no global sort


def test_pq_ann_codebook_and_lut_broadcast(spark):
    """PQ encode/ADC must ride broadcast codebook + LUT hash joins;
    the only nested-loop is the sanctioned bounded-query exact tier;
    the encode rank is keyed by the high-cardinality (vid, m)."""
    plan = _plan(spark, "q_pq_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(vid" in plan


def test_hard_negatives_pairs_are_cell_keyed(spark):
    """Hard-negative candidates must come from the cid equi-join
    (never all-pairs); the per-anchor reduction is a vid-keyed hash
    aggregate."""
    plan = _plan(spark, "q_hard_negatives")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan
    assert "hashpartitioning(vid" in plan


def test_semantic_decontaminate_pairs_are_cell_keyed(spark):
    plan = _plan(spark, "q_semantic_decontaminate")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan


def test_cluster_balanced_rank_is_cell_partitioned(spark):
    """The per-cell md5 rank must be a window partitioned by the
    sqrt(n)-cardinality cell id — never a single global sort."""
    plan = _plan(spark, "q_cluster_balanced_sample")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan
    # the Window itself must be cid-keyed
    import re

    windows = re.findall(r"Arguments: \[row_number\(\).*", plan)
    assert windows
    for w in windows:
        assert "cid" in w


def test_perplexity_terciles_are_two_phase(spark):
    """Per-lang tercile ranks must ride the two-phase global
    row_number (checkpointed range-partitioned scan), not a
    lang-partitioned window that funnels a corpus-scale language
    through one task."""
    plan = _plan(spark, "q_perplexity_filter")
    assert "Scan ExistingRDD" in plan  # global_row_number checkpoint
    assert "CartesianProduct" not in plan


def test_epoch_plan_is_bounded_panel_arithmetic(spark):
    """One per-source token aggregate; the plan itself is arithmetic
    over the bounded source panel — no window, no cartesian beyond
    the broadcast 1-row totals."""
    plan = _plan(spark, "q_epoch_plan")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_toxicity_lexicon_broadcasts_wordlist(spark):
    plan = _plan(spark, "q_toxicity_lexicon")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_coverage_ranks_are_two_phase(spark):
    """Type ranks must ride the two-phase global row_number
    (checkpointed range-partitioned scan), never a single-task global
    sort window."""
    plan = _plan(spark, "q_vocab_coverage")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_deletion_audit_cascades_via_semi_joins(spark):
    """Every propagation step must be a key-partitioned semi-join —
    no cartesian, no window; the delete cohort scales with customers
    so it must never be collected driver-side."""
    plan = _plan(spark, "q_deletion_audit")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "LeftSemi" in plan


def test_ivfpq_candidates_cell_keyed_lut_broadcast(spark):
    """IVF-PQ serving shape: candidates come from the cid equi-join,
    ADC rides a broadcast LUT hash join over integer codes — no
    cartesian anywhere (the exact tiers are bounded-panel
    broadcasts)."""
    plan = _plan(spark, "q_ivfpq_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(vid" in plan


def test_cross_source_dups_pairs_bounded_by_source_domain(spark):
    """Only 32-char digests shuffle; the pair join is hash-keyed and
    per-cluster fan-out is bounded by the source domain (doc
    multiplicity pre-aggregated) — no cartesian, no window."""
    plan = _plan(spark, "q_cross_source_dups")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_incremental_ivf_is_one_assignment_scan(spark):
    """The only corpus-scale work is the broadcast-centroid assignment
    (max_by aggregate keyed by the vector id) — no window, no
    cartesian; the ledger is a cid-keyed hash aggregate."""
    plan = _plan(spark, "q_incremental_ivf")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "hashpartitioning(vid" in plan
    assert "hashpartitioning(cid" in plan


def test_quality_token_curve_ranks_two_phase(spark):
    """Document quality ranks ride the two-phase global row_number;
    the cumulative rollup is a bounded decile-panel self-join — no
    cartesian, no single-task sort of the corpus."""
    plan = _plan(spark, "q_quality_token_curve")
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Session-5 robust-eval wave
# ---------------------------------------------------------------------------


def test_hbos_top20_is_take_ordered(spark):
    plan = _plan(spark, "q_hbos_outliers")
    assert "TakeOrderedAndProject" in plan


def test_hbos_bin_maps_broadcast(spark):
    # The three 10-row bin-score panels must join broadcast-side, not
    # shuffle the scored relation.
    plan = _plan(spark, "q_hbos_outliers")
    assert plan.count("BroadcastHashJoin") >= 3


def test_permutation_fanout_partial_aggregates(spark):
    # The 99-replicate fan-out must map-side combine (partial_sum
    # before the exchange) so the shuffle carries replicate rows, not
    # row-scale data.
    plan = _plan(spark, "q_permutation_test")
    assert "partial_sum" in plan or "partial_count" in plan


def test_ransac_anchor_panel_is_take_ordered(spark):
    plan = _plan(spark, "q_ransac_trend")
    assert "TakeOrderedAndProject" in plan


def test_adaboost_candidate_panel_broadcasts(spark):
    # The 54-candidate stump grid and every pattern-weight panel join
    # as broadcasts; the fan-out aggregate partial-combines.
    plan = _plan(spark, "q_adaboost_stumps")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_als_scoring_panel_broadcasts(spark):
    # The 5-customer readout panel is the broadcast side of the
    # |parts|-scale scoring join; ownership exclusion is an anti-join.
    plan = _plan(spark, "q_als_rank1")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_kneser_ney_model_joins_stay_on_token_key(spark):
    """With size-based auto-broadcast off (i.e. at a scale where the
    vocabulary is not "small"), the model joins degrade to shuffle
    joins on the token key — the model is never forced through the
    driver — while the EXPLICITLY hinted 1-row type-total panel still
    broadcasts (the q5 broadcast-discipline pattern)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q_kneser_ney")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "BroadcastNestedLoopJoin" in plan  # the hinted 1-row T panel
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_lsa_top_terms_take_ordered(spark):
    plan = _plan(spark, "q_lsa_topic")
    assert "TakeOrderedAndProject" in plan
