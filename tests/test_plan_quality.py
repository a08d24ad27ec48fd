"""Physical-plan assertions: the scale properties the engine claims
(pushdown, pruning, broadcast selection, no accidental recompute) are
checked against the optimizer's actual output, not just documented."""

from __future__ import annotations

from hse_etl_ochirov_aldar_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # the shipdate filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in plan
    # the 16-column lineitem scan is pruned to the 7 referenced columns
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_topk_extremes_single_daily_subtree(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_extremes")
    # one scan per pipeline stage (percentile pass + clean pass), not
    # re-executed per hot/cold direction (was 4 scans before the
    # single-pass rewrite)
    assert plan.count("events.parquet") == 2


def test_percentile_bounds_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "clean_percentile_trim")
    # the 1-row global-bounds side rides a broadcast, never a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_cutoff_is_literal_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "incremental_window_rebuild")
    # the day >= cutoff predicate is inlined as a literal (scan-level
    # DataFilter), not a cross-joined 1-row dataframe
    assert plan.count("BroadcastNestedLoopJoin") == 1  # only the pctl bounds


def test_ivf_topk_is_equi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_ivf_topk")
    # cell blocking must plan as a hash equi-join, not a cartesian product
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_mart_user_activity_broadcasts_mode_sides(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mart_user_activity")
    # at least one of the small mode-result sides is broadcast
    assert "BroadcastHashJoin" in plan


def test_latest_event_has_no_window_or_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "latest_event_per_user")
    # max_by formulation: one partial-aggregated shuffle, no window
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """S12: a month-partitioned clean layer read with a month predicate
    scans only the matching partition directories (PartitionFilters in
    the plan, not a post-scan filter)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.sources.readers import load_table
    from hse_etl_ochirov_aldar_spark.sources.sinks import write_partitioned

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .withColumn("month", F.date_format("ts", "yyyy-MM"))
    )
    path = str(tmp_path / "clean_events")
    write_partitioned(ev, path, "month")

    months = [r.month for r in ev.select("month").distinct().collect()]
    target = sorted(months)[0]
    pruned = spark.read.parquet(path).where(F.col("month") == target)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan
    # count matches the unpartitioned filter
    assert pruned.count() == ev.where(F.col("month") == target).count()


def test_asof_join_rejects_colliding_attrs(spark):
    import pytest
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.asof import asof_join

    probes = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0)], ["k", "ts_s", "price"]
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "price")
    builds = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 7.0)], ["k", "bts_s", "price"]
    ).select("k", F.to_timestamp("bts_s").alias("bts"), "price")
    with pytest.raises(ValueError, match="collide"):
        asof_join(probes, builds, "k", "ts", "bts", ["price"])


def test_range_join_left_keeps_unmatched_probes(spark):
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.range_join import (
        range_join_bucketed,
    )

    probes = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-03-01 10:00:00"),
         (2, "2024-01-01 10:00:00")],
        ["k", "ts_s"],
    ).select("k", F.to_timestamp("ts_s").alias("ts"))
    builds = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", "2024-01-01 11:00:00", "w1")],
        ["k", "s_s", "e_s", "tag"],
    ).select(
        "k",
        F.to_timestamp("s_s").alias("s"),
        F.to_timestamp("e_s").alias("e"),
        "tag",
    )
    out = range_join_bucketed(
        probes, builds, "k", "ts", "s", "e", bucket_seconds=7200, how="left"
    )
    rows = {(r.k, str(r.ts), r.tag) for r in out.collect()}
    assert rows == {
        (1, "2024-01-01 10:00:00", "w1"),
        (1, "2024-03-01 10:00:00", None),
        (2, "2024-01-01 10:00:00", None),
    }


def test_line_dedup_no_cartesian_partial_census(spark, sf_dir):
    plan = _plan(spark, sf_dir, "line_dedup_docs")
    # boilerplate census and reassembly are hash joins/aggregates on
    # compact keys -- never a cartesian pair space
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # count_distinct census plans as two-phase (partial_count before the
    # exchange), i.e. map-side combine happens
    assert "partial_count" in plan


def test_unigram_logprob_totals_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "unigram_logprob_quality")
    # 1-row corpus totals ride a broadcast; token join is an equi-join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_chunk_documents_plan_has_no_shuffle(spark, sf_dir):
    """Chunking is per-row array math below one Generate — the plan
    must contain no Exchange at all (parallelizes with the scan)."""
    plan = _plan(spark, sf_dir, "chunk_documents")
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_dsir_plan_broadcasts_model_totals_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dsir_importance_select")
    # the 1-row corpus-totals frames attach via broadcast, and nothing
    # in the two-model composition degenerates into a cartesian product
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_perplexity_buckets_bounds_are_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "perplexity_buckets")
    # per-language threshold frame joins back as a broadcast hash join
    # on lang — never a shuffle of the scored corpus against bounds
    assert "BroadcastHashJoin [lang" in plan
    assert "CartesianProduct" not in plan


def test_incremental_minhash_corpus_probe_is_semi_join(spark, sf_dir):
    """The corpus side is probed with a LEFT SEMI on the batch's banded
    keys; corpus text must never reach an exchange."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        banded_minhash_keys,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 50 == 0)
    bkeys = banded_minhash_keys(batch)
    ckeys = banded_minhash_keys(docs)
    probe = bkeys.select("band", "bucket").distinct()
    hits = ckeys.join(F.broadcast(probe), ["band", "bucket"], "left_semi")
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


def test_shipping_priority_semi_join_and_topk(spark, sf_dir):
    """Q3 shape: segment-filtered customer keys ride a broadcast LEFT
    SEMI (no customer payload in the fact join), both date filters are
    pushed to the scans, and the top-10 is a per-partition heap
    (TakeOrderedAndProject), never a global sort."""
    plan = _plan(spark, sf_dir, "shipping_priority")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_order_priority_count_exists_is_semi_join(spark, sf_dir):
    """Q4 shape: EXISTS compiles to one LEFT SEMI hash join carrying
    the non-equi ship-date predicate; lineitem is never aggregated
    before the probe and no extra distinct/shuffle appears."""
    plan = _plan(spark, sf_dir, "order_priority_count")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the quarter filter reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan


def test_returned_items_aggregates_before_customer_join(spark, sf_dir):
    """Q10 shape: revenue must collapse to one row per customer BEFORE
    the customer table joins in (the grouped side is what shuffles at
    100 TB, not the raw line items). The returnflag filter is pushed."""
    plan = _plan(spark, sf_dir, "returned_items_report")
    assert "EqualTo(l_returnflag,R)" in plan
    # HashAggregate on o_custkey appears below the join with customer:
    # customer's scan must not feed the same subtree as lineitem's agg
    agg_pos = plan.find("HashAggregate")
    cust_pos = plan.find("customer.parquet")
    assert 0 <= agg_pos < cust_pos
    assert "TakeOrderedAndProject" in plan


def test_large_volume_customer_having_no_second_fact_shuffle(spark, sf_dir):
    """Q18 shape: the HAVING subquery rolls lineitem up once; the
    filtered (tiny) result joins back via broadcast/AQE, so the plan
    never shuffles two fact tables against each other."""
    plan = _plan(spark, sf_dir, "large_volume_customer")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("lineitem.parquet") == 1


def test_semantic_dedup_pairs_are_equi_join(spark, sf_dir):
    """SemDeDup's candidate pairs come from a hash equi-join on
    cluster_id over (cluster, id) rows — never a cartesian product,
    and the embedding payload stays out of the pair shuffle."""
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_forecast_revenue_pushdown_and_pruning(spark, sf_dir):
    """Q6 is the pushdown proof: the shipdate range reaches the parquet
    scan as pushed filters and the 11-column lineitem scan prunes to
    the 4 referenced columns (quantity/discount compare post-scan in
    exact units, but their IsNotNull guards still push)."""
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    # pushed filter list renders truncated; the first range bound and
    # the pruned ReadSchema are the stable signals
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate" in plan
    )
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in plan


def test_nation_volume_dims_broadcast_one_fact_shuffle(spark, sf_dir):
    """Q7's only fact-fact join is lineitem⋈orders; both nation-pruned
    dimension sides ride broadcasts, so the plan carries exactly one
    shuffle-side join over fact keys (plus AQE may broadcast orders at
    test scale — assert no cartesian and >= 2 broadcasts instead of
    pinning the orders join kind)."""
    plan = _plan(spark, sf_dir, "nation_volume_shipping")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_promo_revenue_single_scan_conditional_sum(spark, sf_dir):
    """Q14 computes promo and total revenue in ONE aggregate over one
    lineitem scan (conditional sum) — a second scan would double the
    100 TB read."""
    plan = _plan(spark, sf_dir, "promo_revenue_share")
    assert plan.count("lineitem.parquet") == 1


def test_idle_customer_never_ordered_is_anti_join(spark, sf_dir):
    """Q22's NOT EXISTS plans as a left anti join on custkey, and the
    scalar average threshold rides a broadcast — no cartesian blowup."""
    plan = _plan(spark, sf_dir, "idle_customer_balance")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_min_cost_supplier_window_not_self_join(spark, sf_dir):
    """Q2's correlated MIN-per-part is a window over the candidate
    relation — ONE lineitem scan (the derived part-supplier DISTINCT),
    not an aggregate-plus-self-join that would scan facts twice; both
    dims ride broadcasts."""
    plan = _plan(spark, sf_dir, "min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_national_market_share_single_scan_conditional_sum(spark, sf_dir):
    """Q8's numerator and denominator come from ONE conditional
    aggregate over one lineitem scan; part/supplier/customer dims all
    broadcast."""
    plan = _plan(spark, sf_dir, "national_market_share")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_important_part_value_scalar_threshold_broadcast(spark, sf_dir):
    """Q11's global (total, count) is a 1-row aggregate joined back as
    a broadcast nested loop — the sanctioned scalar pattern — and the
    part-sized rollup is persisted so BOTH branches read the cache
    (two InMemoryTableScan nodes) instead of re-scanning facts."""
    plan = _plan(spark, sf_dir, "important_part_value")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("InMemoryTableScan") >= 2


def test_late_shipment_priority_filter_pushdown(spark, sf_dir):
    """Q12's ship-year range reaches the parquet scan as PushedFilters
    so a year of facts is all that leaves storage."""
    plan = _plan(spark, sf_dir, "late_shipment_priority")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_top_revenue_supplier_max_broadcast_single_scan(spark, sf_dir):
    """Q15's WHERE total = (SELECT max(...)) reuses the PERSISTED
    per-supplier rollup in both branches (two InMemoryTableScan nodes,
    facts scanned once at execution); the 1-row max rides a broadcast
    and the supplier dim broadcasts for the name."""
    plan = _plan(spark, sf_dir, "top_revenue_supplier")
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_supplier_part_counts_anti_join_two_col_scan(spark, sf_dir):
    """Q16's NOT IN blacklist plans as a (broadcast) left anti join and
    the fact scan reads ONLY the two join keys — the derived
    part-supplier relation never drags other lineitem columns through
    its DISTINCT shuffle."""
    plan = _plan(spark, sf_dir, "supplier_part_counts")
    assert "LeftAnti" in plan
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>" in plan


def test_excess_volume_suppliers_semi_join_window_total(spark, sf_dir):
    """Q20's nested chain ends in a LEFT SEMI against the flagged
    pairs; the per-part total is a window over the already-aggregated
    (suppkey, partkey) relation, so facts shuffle exactly once."""
    plan = _plan(spark, sf_dir, "excess_volume_suppliers")
    assert "LeftSemi" in plan
    assert "Window" in plan
    assert plan.count("lineitem.parquet") == 1


def test_waiting_orders_blame_no_fact_rescan(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is per-order window aggregates over
    the (orderkey, suppkey) lateness rollup — one lineitem scan, one
    orders scan, no correlated re-scans, no cartesian."""
    plan = _plan(spark, sf_dir, "waiting_orders_blame")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_funnel_filters_before_shuffle(spark, sf_dir):
    """The funnel scans push the event-type filter into the parquet
    scan (only funnel types leave storage) and build no full-stream
    window — each step is aggregate + key join."""
    plan = _plan(spark, sf_dir, "funnel_conversion")
    assert "Window" not in plan
    assert "PushedFilters: [IsNotNull(ts), In(event_type" in plan or (
        "In(event_type" in plan
    )


def test_scd2_single_window_single_shuffle(spark, sf_dir):
    """SCD2 is one lead window over one key shuffle — no join, no
    second sort of the dimension."""
    plan = _plan(spark, sf_dir, "scd2_user_history")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_event_transitions_one_window_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "event_transitions")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_mad_screen_no_per_group_sort_bounds_broadcast(spark, sf_dir):
    """Exact grouped medians run as ordered-set AGGREGATES (percentile
    digests with map-side partials), never a per-group global sort;
    both bounds frames come back as broadcasts."""
    plan = _plan(spark, sf_dir, "mad_outlier_screen")
    assert "Window" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "percentile" in plan


def test_experiment_assignment_is_row_local(spark, sf_dir):
    """Arm assignment is a row-local md5 expression — the only
    exchange in the plan is the tiny per-arm aggregate (plus its
    map-side partial), no repartition by user."""
    plan = _plan(spark, sf_dir, "experiment_uplift")
    assert "Window" not in plan
    assert "md5" in plan


def test_url_dedup_single_window_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "url_canonical_dedup")
    # canonicalization is row-local expression work; the dedup is one
    # window over the canonical key — no join at all in the plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_domain_cap_row_local_then_one_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "domain_cap_sample")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no join of any kind needed
    assert "Window" in plan


def test_bitext_broadcast_side_and_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bitext_margin_mining")
    # side B rides a broadcast (nested-loop is fine for the scoring
    # cross product — that is the exact baseline); ranking/margins are
    # window work, never a shuffled join of the scored relation
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_sql_passthrough_pushes_down_through_views(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sql_passthrough_revenue")
    # temp views are lazy aliases: the shipdate range still reaches the
    # parquet scan, and the 100-row dims broadcast
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_recount_is_semi_join_not_full_census(spark, sf_dir):
    plan = _plan(spark, sf_dir, "heavy_hitters_tokens")
    # the exact pass recounts ONLY sketch candidates: a broadcast
    # LEFT SEMI prune before the aggregate, never a full-domain groupBy
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan
    # total N rides the tiny sketch output, not a row-scale aggregate
    # through a shuffle of the key domain
    assert "CartesianProduct" not in plan


def test_rrf_legs_broadcast_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rrf_hybrid_retrieval")
    # both legs stream the corpus against broadcast query sets; no
    # corpus-vs-corpus cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_trending_single_shuffle_and_broadcast_ref(spark, sf_dir):
    plan = _plan(spark, sf_dir, "trending_decay_items")
    # the max-ts reference is a broadcast 1-row aggregate; items
    # aggregate with map-side partials (partial_sum in the plan)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_sum" in plan


def test_ppjoin_has_no_cartesian_product(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ppjoin_jaccard_pairs")
    # candidates come from a hash equi-join on rare shingles, never a
    # corpus x corpus cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_daily_ohlc_is_sort_free(spark, sf_dir):
    """Open/close come from min/max over (us, event_id, value) structs:
    one map-side-combined HashAggregate, zero Window/Sort operators."""
    plan = _plan(spark, sf_dir, "daily_ohlc")
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_revenue_rollup_single_expand_aggregate(spark, sf_dir):
    """df.rollup computes all three grouping levels in ONE Expand +
    aggregate pipeline (not three scans); the nation dim broadcasts."""
    plan = _plan(spark, sf_dir, "revenue_rollup")
    assert "Expand" in plan
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_rfm_ranks_are_range_partitioned(spark, sf_dir):
    """The three NTILE scores ride distributed global_rank: range
    repartitions + partition-local windows, never a single-partition
    ORDER BY window over the customer rollup."""
    plan = _plan(spark, sf_dir, "rfm_segments")
    assert "rangepartitioning" in plan.lower()


def test_cusum_is_pure_window_no_python(spark, sf_dir):
    """The CUSUM recursion's closed form runs entirely in codegen'd
    windows — no Arrow/pandas stage anywhere in the plan."""
    plan = _plan(spark, sf_dir, "cusum_changepoints")
    assert "Window" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_ks_drift_no_cartesian_census_shuffle(spark, sf_dir):
    """ECDFs accumulate over the value census; totals ride broadcasts;
    no cross product anywhere."""
    plan = _plan(spark, sf_dir, "ks_value_drift")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_conversion_lag_asof_is_union_carry_not_range_join(spark, sf_dir):
    """The as-of join is the union+last-carry window — no inequality
    join blowup (BroadcastNestedLoop/Cartesian) in the plan."""
    plan = _plan(spark, sf_dir, "conversion_lag_percentiles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_debounce_single_window_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "debounce_duplicate_events")
    assert "Join" not in plan
    assert plan.count("events.parquet") == 1


def test_abc_classification_uses_range_partitioned_cumsum(spark, sf_dir):
    """The cumulative revenue share rides global_cumsum's range
    shuffle, never a single-partition ORDER BY window."""
    plan = _plan(spark, sf_dir, "abc_part_classification")
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_top_supplier_margin_is_window_free(spark, sf_dir):
    """Winner and runner-up come from extremum aggregates + broadcast
    joins — no rank window."""
    plan = _plan(spark, sf_dir, "nation_top_supplier_margin")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_activity_streaks_single_scan_one_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "activity_streaks")
    assert plan.count("events.parquet") == 1
    assert "Window" in plan


def test_monthly_pivot_no_distinct_prescan(spark, sf_dir):
    """Declared pivot values: exactly one orders scan (pivot without
    declared values adds a distinct-values collect scan)."""
    plan = _plan(spark, sf_dir, "monthly_revenue_pivot")
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_hhi_and_order_histogram_map_side_combined(spark, sf_dir):
    for name in ("part_supplier_hhi", "order_size_histogram"):
        plan = _plan(spark, sf_dir, name)
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "CartesianProduct" not in plan, name


def test_srp_verify_is_broadcast_and_bands_signed_once(spark, sf_dir):
    """srp_lsh_near_pairs (PERF finding 23): both self-join sides read
    ONE band-row exchange, so the executed plan runs the signature
    kernel once; the verify lookups broadcast, and no cartesian product
    anywhere."""
    df = QUERIES["srp_lsh_near_pairs"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    assert "ReusedExchange" in final
    assert "BroadcastHashJoin" in final
    assert "CartesianProduct" not in final


def test_vector_hot_loops_use_one_kernel_stage(spark):
    """Quantizer labeling and SRP signing each have one kernel, the
    Arrow one: every MapInPandas node in the optimized plan is the
    same labeling/signing node. Consumers that re-read the labeled
    corpus repeat that node, and a self-join re-aliases it, so exprIds
    are stripped before comparing."""
    import re

    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        cluster_balanced_sample,
    )
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        ivf_kmeans_exact_topk,
        semantic_dedup_flags,
        srp_lsh_pairs,
    )

    vecs = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id"), i), 1001) - 500) / 500.0
            ).cast("float"),
        ).alias("embedding"),
    )
    queries = vecs.where(F.col("vec_id") < 3).withColumnRenamed(
        "vec_id", "query_id"
    )
    frames = {
        "ivf_kmeans_exact_topk": ivf_kmeans_exact_topk(
            vecs, queries, k=3, n_cells=4, iters=1
        ),
        "semantic_dedup_flags": semantic_dedup_flags(vecs, n_cells=4, iters=1),
        "cluster_balanced_sample": cluster_balanced_sample(
            vecs, total=40, n_cells=4, iters=1
        ),
        "srp_lsh_pairs": srp_lsh_pairs(vecs, threshold=0.9),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        nodes = {
            re.sub(r"#\d+L?", "", line[line.index("MapInPandas"):])
            for line in plan.splitlines()
            if "MapInPandas" in line
        }
        assert len(nodes) == 1, (name, nodes)


def test_word_shingles_tokenizes_once(spark):
    """The token array is bound once per row, so one word_shingles call
    splits the text once — not once per shingle position (the free
    token expression inside the slice lambda made shingling
    O(tokens^2))."""
    from hse_etl_ochirov_aldar_spark.functions.text import word_shingles

    df = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    plan = (
        df.select(word_shingles("text", 3).alias("sh"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1


def test_minhash_dedup_small_graph_drops_losers_in_the_scan(spark):
    """A small verified pair graph is clustered on the driver, and its
    losers reach the output as one isin filter over the input scan:
    no join, no exchange in the deduped frame's plan."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.text_dedup import minhash_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 3, F.concat(F.lit(base + " "), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("other words "), F.col("id").cast("string")))
        .alias("text"),
    )
    kept = minhash_dedup(docs, threshold=0.7)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    assert sorted(r.doc_id for r in kept.collect()) == [0, 3, 4, 5]
