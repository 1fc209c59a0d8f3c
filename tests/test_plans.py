"""Plan hygiene: the 100 TB-scale properties, pinned
(predicate pushdown, broadcast dimension joins, codegen)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.operators import joins, relational
from real_time_big_data_analytics_spark.plans.inspect import (
    codegen_stages,
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
)
from real_time_big_data_analytics_spark.sources.tables import load_table


def test_filter_pushes_to_parquet_scan(spark, sf_dir):
    df = relational.pricing_summary(spark, sf_dir)
    assert has_pushed_filters(df), explain_str(df)


def test_dimension_joins_are_broadcast(spark, sf_dir):
    df = joins.revenue_by_nation_region(spark, sf_dir)
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = explain_str(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = relational.top_orders_by_price(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_aggregations_stay_in_codegen(spark, sf_dir):
    df = relational.pricing_summary(spark, sf_dir)
    assert codegen_stages(df) >= 1


def test_shingle_pairs_single_shuffle_no_join(spark, sf_dir):
    """The pair generator groups postings by shingle — exactly one
    exchange of the shingle stream, no self-join (a join shape shuffles
    the stream twice and runs the shingle transform once per branch)."""
    from real_time_big_data_analytics_spark.operators import text

    plan = explain_str(text.ngram_jaccard_pairs(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning(shingle") == 1, plan


def test_disjunctive_predicate_splits_and_pushes_to_both_scans(spark, sf_dir):
    """Q19 shape: the OR-of-ANDs must weaken into per-table pushed
    filters — quantity ranges at the lineitem scan, brand/size at the
    part scan — instead of evaluating entirely post-join."""
    df = joins.discounted_revenue_disjunctive(spark, sf_dir)
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(l_partkey), Or(And(GreaterThanOrEqual(l_quantity" in plan, plan
    assert "Or(And(EqualTo(p_brand,Brand#1)" in plan, plan


def test_udaf_and_udtf_stay_arrow_vectorized(spark, sf_dir):
    """The sanctioned Python surfaces must plan as Arrow-batched
    nodes, never row-at-a-time BatchEvalPython."""
    from real_time_big_data_analytics_spark.operators import udx

    agg_plan = explain_str(udx.median_value_by_event_type(spark, sf_dir))
    assert "ArrowAggregatePython" in agg_plan, agg_plan
    udtf_plan = explain_str(udx.token_length_histogram(spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in udtf_plan, udtf_plan


@pytest.fixture(scope="module")
def batch_plans(spark, sf_dir) -> dict[str, tuple[str, str]]:
    """Every batch query built ONCE for the two sweeps below (each
    build runs the query's eager jobs): name -> (formatted explain,
    executed-plan string). Only the strings are kept."""
    from real_time_big_data_analytics_spark.registry import all_queries

    plans = {}
    for name, q in sorted(all_queries().items()):
        if "streaming" in q.tags:  # replay runners, not lazy plans
            continue
        df = q.fn(spark, sf_dir)
        plans[name] = (
            explain_str(df),
            df._jdf.queryExecution().executedPlan().toString(),
        )
    return plans


def test_no_rowwise_python_or_cartesian_anywhere(batch_plans):
    """Sweep every batch query's physical plan: no row-at-a-time
    Python UDFs (BatchEvalPython) and no unintended cartesian products.
    The brute-force kNN family intentionally scans query × corpus via
    a broadcast nested-loop (that IS the operator); everything else
    must be hash/sort/broadcast joins and codegen'd expressions.
    """
    # knn: query × corpus broadcast scan IS the operator;
    # a5 / theta / histogram: 1-row scalar broadcasts (max(ts),
    # sketch blobs, min/max bounds);
    # j6: non-equi band join against a 4-row broadcast tier table.
    NESTED_LOOP_OK = {
        "j6_range_join_price_tiers",
        "sf_value_histogram",
        "l3_knn_bruteforce",
        "l3_range_search",  # same broadcast-query != join as bruteforce
        "l3_knn_lsh",
        "l3_knn_ivf",
        "l3_knn_ivf_indexed",
        "l3_knn_hnsw",  # invariant twin: broadcast-query != exact pass
        "l3_knn_hnsw_indexed",  # same twin over the persisted graphs
        "l3_hnsw_recall_sweep",  # brute-force truth: broadcast != scan
        "l3_knn_pq_rerank",  # exact-twin broadcast + 1-row recall flag
        "l2_minhash_lsh_pairs",  # checked form: five 1-row assertion-scalar broadcasts
        "a5_recent_window_counts",
        "sketch_theta_user_overlap",
        "q22_inactive_high_balance",
        "l4_tfidf_top_terms",  # 1-row corpus-size scalar broadcast
        "sf_chi2_lang_source",  # margin-product grid: |langs|x|sources| cross join
        "sf_ks_test_chars",  # 1-row sample-totals broadcast cross join
        "sf_mann_whitney_chars",  # same 1-row sample-totals broadcast
        "wf_km_survival",  # 1-row horizon (max day) broadcast
        "sf_bootstrap_mean_orders",  # 1-row point-estimate broadcast
        "sf_cuped_adjusted_diff",  # 1-row theta/moments broadcast
        "sf_fdr_bh_nations",  # 1-row global-moments broadcast
        "ts_cusum_changepoint",  # 1-row chosen-changepoint broadcast
        "dq_bloom_semijoin_prune",  # 1-row bloom word-map broadcast
        "graph_trade_kcore",  # 1-row median-threshold broadcast
        "l5_embedding_pca_power",  # 1-row direction/norm broadcasts per power step
        "m9_target_encode_kfold",  # 1-row global-mean label-threshold broadcast
        "dq_hbos_outliers",  # 1-row min/max bin-edge broadcast
        "sf_gini_topshare_revenue",  # 1-row totals + 3-row p-grid broadcasts
        "l4_pmi_collocations",  # 1-row bigram/unigram-totals broadcast
        "m10_conformal_interval",  # 1-row coef/q-hat/n-cal broadcasts
        "l4_retrieval_metrics",  # inherits bm25's 1-row N/avgdl broadcast
        "l4_quantile_align_audit",  # 5-row q-grid + 1-row pool-total broadcasts
        "wf_conversion_lag",  # 1-row signup-total broadcast
        "l4_importance_weights",  # 1-row token-totals/vocab-size broadcast
        "m11_auc_logreg",  # m5's 1-row weight broadcasts per GD step
        "ts_holt_anomaly_days",  # 1-row median/MAD threshold broadcasts
        "er_blocking_quality",  # four 1-row scorecard-count broadcasts
        "m12_adaboost_stumps",  # 60-row stump grid + 1-row argmin/Z broadcasts
        "m13_calibration_bins",  # m5's 1-row weight broadcasts per GD step
        "l6_training_mix_v2",  # DSIR's 1-row token-totals broadcast, composed
        "sf_brown_forsythe_value",  # 5-row group-median broadcast
        "l4_heaps_law_fit",  # 1-row max-doc-id broadcast
        "ts_max_drawdown",  # 1-row trough/peak-day broadcasts
        "m14_cohens_kappa",  # m5's 1-row weight broadcasts per GD step
        "ts_acf_daily_value",  # 7-row lag table onto the daily series
        "m5_logreg_gd",  # 1-row weight vector broadcast per GD step
        "l3_ivf_recall_sweep",  # bruteforce's 5-row query != broadcast
        "m7_kmeans_lloyd",  # 1-row centroid vector broadcast per Lloyd step
        "dq_zorder_pruning_audit",  # 1-row dimension-bounds broadcast
        "l4_rrf_hybrid_search",  # 3-row seed-vector broadcast (knn shape)
        "wf_rfm_segments",  # 1-row horizon (max day) broadcast
        "sf_ab_power_analysis",  # 3-row MDE grid onto 1-row moments
        "m6_gaussian_nb",  # 1-row class-parameters broadcast
        "l4_bm25_search",  # 1-row N/avgdl scalar broadcast
        "l3_ivf_append_invariants",  # 1-row truth-counts broadcast
        "l3_hnsw_index_append",  # 1-row truth/recall-flag broadcasts
        "l3_hnsw_index_delete",  # 1-row audit-flag broadcasts (counts,
        # reachability, serve-clean, no-refs, recall) crossJoined
        "q11_important_part_values",  # 1-row grand-total threshold broadcast
        # m1/m3: 1-row bound-assertion flag broadcast onto the counts
        "m1_train_score_users",
        "m3_holdout_eval",
        "l7_group_split_audit",  # 1-row leakage flag broadcast
    }
    for name, (plan, _) in batch_plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses row-wise Python"
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if name not in NESTED_LOOP_OK:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name} nested-loop joins"


def test_stream_static_join_broadcasts_static_side(spark, sf_dir):
    from real_time_big_data_analytics_spark.streaming.runner import events_stream

    customer = load_table(spark, sf_dir, "customer")
    stream = events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(customer), stream.user_id == customer.c_custkey)
    plan = explain_str(joined, "extended").lower()
    assert "broadcast" in plan, plan


def test_stream_anti_join_broadcasts_suppression_side(spark, sf_dir):
    """T10's suppression table must broadcast: micro-batches filter
    against a broadcast hash, never shuffling the stream."""
    from real_time_big_data_analytics_spark.streaming.runner import events_stream

    suppressed = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("user_id"))
    )
    stream = events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(suppressed), "user_id", "left_anti")
    plan = explain_str(joined, "extended").lower()
    assert "broadcast" in plan, plan


def test_no_heavy_exprs_in_scan_filters(batch_plans):
    """Regression guard for the inferred-explode-predicate trap
    (SCALE.md): `explode` over an expensive computed array lets
    Catalyst infer a non-empty-array predicate that sinks below the
    spread() exchange, re-running the whole expression per row on the
    single pre-shuffle scan partition. Pinned on every batch query:
    no scan DataFilter may contain a shingle/trigram transform or
    array_distinct.
    """
    import re

    for name, (_, plan) in batch_plans.items():
        for m in re.finditer(r"FileScan parquet [^\n]*DataFilters: \[([^\]]*)\]", plan):
            f = m.group(1)
            assert "transform(" not in f and "array_distinct(" not in f, (
                f"{name}: heavy expression in scan filter: {f[:160]}"
            )


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective dimension side
    of a shuffle join injects a bloom filter (built by a mergeable
    bloom_filter_agg) as a might_contain() predicate on the FACT scan
    — at 100 TB this drops non-matching fact rows before the shuffle.
    Thresholds are lowered here because the harness tables sit under
    the production defaults; the mechanism is what's pinned."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # shuffle join: bloom applies
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys, "bloom predicate missing from fact side"
        assert "bloom_filter_agg" in phys, "bloom build missing from dim side"
        # and with the feature off, the predicate must disappear
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        j2 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" not in j2._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_join_decorrelates_to_window(spark, sf_dir):
    """The per-customer LIMIT 2 LATERAL must decorrelate into a
    ranked-window + join plan, not a per-row subquery loop."""
    from real_time_big_data_analytics_spark.operators.relational import (
        lateral_top_orders,
    )

    df = lateral_top_orders(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_new_family_plan_contracts(spark, sf_dir):
    """Pin the physical shapes the late-session operators claim."""
    from real_time_big_data_analytics_spark.operators import relational, text

    # weighted sampling: global top-k, never a full sort
    plan = explain_str(text.weighted_sample_no_replacement(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan

    # table profile: simultaneous exact NDVs via ONE Expand over one scan
    # (executedPlan, not formatted explain — the latter lists each scan
    # node twice, once in the tree and once in the detail section)
    exec_plan = (
        relational.dq_table_profile(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in exec_plan, exec_plan
    assert exec_plan.count("FileScan parquet") == 1, exec_plan

    # peak concurrency: the one unpartitioned window runs over the
    # day-offset table, AFTER day-level aggregation — never the stream
    plan = explain_str(relational.peak_session_concurrency(spark, sf_dir))
    assert "Window" in plan, plan

    # rolling distinct: present-day restriction is a broadcast semi join
    plan = explain_str(relational.rolling_distinct_users(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan

    # winsorize: threshold table broadcasts back onto the stream
    plan = explain_str(relational.winsorize_values(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
