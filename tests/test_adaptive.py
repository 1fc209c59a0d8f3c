"""Runtime re-planning safety nets: AQE skew-join splitting and
dynamic partition pruning (DPP).

Manual mitigations exist in the engine (salting for known-skewed
aggregations, hive partitioning for static pruning); these tests prove
the AUTOMATIC versions engage on this build of Spark, because at
100 TB they are the first line of defense against the skew/scan
patterns nobody predicted. Both assert on executed-plan evidence, not
configuration.
"""

from __future__ import annotations

import contextlib
import uuid

import pytest
from pyspark.sql import functions as F


@contextlib.contextmanager
def _confs(spark, **kv):
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """A 90%-hot-key join must show AQE's skew split (``isSkew=true``)
    in the final adaptive plan once the skew thresholds are sized to
    the data (they default to 256 MB — production scale)."""
    n = 200_000
    hot = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.range(50_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    with _confs(
        spark,
        **{
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            # keep it a sort-merge join so skew splitting applies
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        joined = hot.join(dim, "k").select(F.sum(F.col("v") + F.col("w")).alias("s"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isSkew=true" in plan or "skew=true" in plan, plan


def test_dynamic_partition_pruning_on_hive_layout(spark, sf_dir, tmp_path):
    """Joining a hive-partitioned fact on its partition key against a
    selectively filtered dim must inject a runtime pruning subquery
    (``dynamicpruning``) so only matching partitions are scanned."""
    from real_time_big_data_analytics_spark.sources.files import (
        write_partitioned_parquet,
    )
    from real_time_big_data_analytics_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / f"events_{uuid.uuid4().hex[:8]}")
    write_partitioned_parquet(events, out, partition_by=["event_type"])

    fact = spark.read.parquet(out)
    # the filter must be on a NON-join column: a literal predicate on
    # the join key would be inferred across the join and pushed as a
    # static filter, making DPP unnecessary
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.0), ("purchase", 0.0)],
        "event_type string, weight double",
    ).filter(F.col("weight") > 0.5)
    with _confs(
        spark,
        **{
            "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
            # force the reuse-broadcast DPP path even for a tiny dim
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly": "false",
        },
    ):
        joined = fact.join(dim, "event_type").groupBy("event_type").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        rows = joined.collect()
    assert "dynamicpruning" in plan.lower(), plan
    assert len(rows) == 1 and rows[0]["event_type"] == "click"


def test_results_invariant_to_shuffle_partitioning(spark, sf_dir):
    """Partitioning must never change answers: every tie-break-sensitive
    family (windows, top-k, sampling, sweep-line, dedup pairs) returns
    identical rows at 5 and 32 shuffle partitions."""
    from real_time_big_data_analytics_spark.registry import all_queries

    names = [
        "wf_peak_concurrency",
        "l4_weighted_sample",
        "l4_fixed_k_sample",
        "ts_ewma_daily_value",
        "l2_ppjoin_jaccard_pairs",
        "l4_pareto_frontier",
        "ts_watermark_lateness_profile",
        "wf_topk_events_per_type",
        # round 5: decode + per-row quarantine — the status rollup
        # crosses the metadata repartition, so pin that neither the
        # repartition count nor shuffle width changes the audit
        "l5_decode_quarantine_audit",
    ]
    qs = all_queries()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                rows = sorted(map(str, qs[n].fn(spark, sf_dir).collect()))
                assert rows, n
                if n in results:
                    assert results[n] == rows, f"{n}: differs at {parts} partitions"
                else:
                    results[n] = rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_results_invariant_to_aqe_toggle(spark, sf_dir):
    """AQE re-planning (join demotion, partition coalescing, skew
    splits) must never change answers — the property that lets us
    leave AQE on at any scale. Same tie-break-sensitive families as
    the shuffle-width test, plus a codec rollup."""
    from real_time_big_data_analytics_spark.registry import all_queries

    names = [
        "wf_peak_concurrency",
        "l4_weighted_sample",
        "l2_ppjoin_jaccard_pairs",
        "l4_pareto_frontier",
        "l5_decode_quarantine_audit",
        "q2_min_cost_supplier",
    ]
    qs = all_queries()
    before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        results = {}
        for flag in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.enabled", flag)
            for n in names:
                rows = sorted(map(str, qs[n].fn(spark, sf_dir).collect()))
                assert rows, n
                if n in results:
                    assert results[n] == rows, f"{n}: differs with AQE={flag}"
                else:
                    results[n] = rows
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
