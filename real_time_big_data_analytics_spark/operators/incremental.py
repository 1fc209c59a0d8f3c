"""Incremental-maintenance operators: CDC upsert (MERGE-style) and
SCD2 history build over the ``events`` changelog.

The reference pipeline is append-only (reference ProducerFinal.scala
streams records straight to a sink); a production lakehouse also
needs the *update* path: applying a batch of changes onto a standing
snapshot (MERGE INTO semantics) and keeping dimension history
(slowly-changing-dimension type 2).  Both are expressed as pure
DataFrame plans — window dedup + full-outer join — so they run
identically on a 1000-executor cluster: every shuffle is keyed by
``user_id`` and the join co-partitions with the two window passes.

At 100 TB the base side would be a bucketed table (bucket by
``user_id``) and only the delta would shuffle; the plan shape below
is unchanged by that — Catalyst drops the exchange on the bucketed
side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import round2
from ..sources.staging import scratch_dir
from ..sources.tables import load_table

# Mid-range snapshot cut: events span 2024-01-01 .. 2024-01-30.
DEFAULT_CUTOFF = "2024-01-16 00:00:00"


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Keep each user's most recent event (ts, then event_id ties)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def cdc_upsert_state(
    spark: SparkSession, sf_dir: str, cutoff: str = DEFAULT_CUTOFF
) -> DataFrame:
    """MERGE INTO pattern: apply a changelog delta onto a snapshot.

    Base = each user's latest event at/before ``cutoff``; delta =
    latest event after ``cutoff``.  The merge is a full-outer join on
    the key with ``coalesce`` column resolution — exactly what
    Delta/Iceberg MERGE compiles to when every source row is
    WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT.

    Both window passes and the join share the ``user_id`` hash
    partitioning; the ``updated`` flag records whether the delta
    replaced (or created) the row.
    """
    ev = load_table(spark, sf_dir, "events")
    base = _latest_per_user(ev.filter(F.col("ts") <= cutoff)).select(
        F.col("user_id").alias("b_user_id"),
        F.col("event_type").alias("b_type"),
        F.col("value").alias("b_value"),
        F.col("ts").alias("b_ts"),
    )
    delta = _latest_per_user(ev.filter(F.col("ts") > cutoff)).select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("d_type"),
        F.col("value").alias("d_value"),
        F.col("ts").alias("d_ts"),
    )
    return (
        base.join(delta, base.b_user_id == delta.d_user_id, "full_outer")
        .select(
            F.coalesce("b_user_id", "d_user_id").alias("user_id"),
            F.coalesce("d_type", "b_type").alias("state_event_type"),
            F.coalesce("d_value", "b_value").alias("state_value"),
            F.coalesce("d_ts", "b_ts").alias("state_ts"),
            F.col("d_user_id").isNotNull().alias("updated"),
        )
    )


def scd2_user_history(
    spark: SparkSession, sf_dir: str, user_mod: int = 20
) -> DataFrame:
    """SCD type-2 build: changelog rows → validity intervals.

    Each event becomes a dimension version valid from its own ``ts``
    until the user's next event (open-ended for the current row).
    One window shuffle on ``user_id``; the deterministic ``user_mod``
    sample bounds output size for the harness (at scale the operator
    runs unsampled — the sample is a plain pushed-down filter, not a
    structural change).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("user_id") % user_mod == 0)
        .select(
            "user_id",
            "event_type",
            "value",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def gdpr_forget_audit(
    spark: SparkSession, sf_dir: str, n_buckets: int = 20, forget_mod: int = 40
) -> DataFrame:
    """Right-to-be-forgotten as a partition-scoped rewrite: the events
    table is laid out partitioned by a user-hash bucket (the layout a
    lakehouse chooses precisely so deletion requests localize), a
    forget-set (user_id % forget_mod == 7 — half of bucket 7's users)
    is erased, and ONLY that bucket's partition is rewritten via
    dynamic partition overwrite — the other n-1 partitions' files are
    untouched (pinned by tests/test_incremental.py). A forget-set
    that empties a partition entirely needs an explicit
    partition-directory delete (dynamic overwrite writes only
    partitions PRESENT in the incoming frame); table formats
    (Delta/Iceberg) fold that into the same DELETE.

    At 100 TB this is the difference between rewriting ~1/n_buckets of
    the table per deletion batch and rewriting all of it. The audit
    output (per-bucket before/deleted/after/rewritten) is exactly
    SQL-derivable, so the oracle checks the deletion itself, not just
    plumbing.
    """
    events = load_table(spark, sf_dir, "events")
    bucketed = events.withColumn(
        "user_bucket", (F.col("user_id") % n_buckets).cast("int")
    )
    root = scratch_dir("rtba_gdpr_")
    bucketed.write.mode("overwrite").partitionBy("user_bucket").parquet(root)

    # the delete: rewrite ONLY the forget bucket's partition
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        affected_bucket = 7 % n_buckets
        kept = spark.read.parquet(root).filter(
            (F.col("user_bucket") == affected_bucket)
            & (F.col("user_id") % forget_mod != 7)
        ).localCheckpoint()  # materialize BEFORE overwriting what it reads
        if kept.count() > 0:
            kept.write.mode("overwrite").partitionBy("user_bucket").parquet(root)
        else:
            # emptied partition: dynamic overwrite writes only
            # partitions PRESENT in the frame, so the erase must drop
            # the directory itself (what a table format's DELETE does)
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(
                f"{root}/user_bucket={affected_bucket}"
            )
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(hpath, True)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    after = (
        spark.read.parquet(root)
        .groupBy("user_bucket")
        .agg(F.count("*").alias("n_after"))
    )
    before = bucketed.groupBy("user_bucket").agg(F.count("*").alias("n_before"))
    return (
        before.join(after, "user_bucket", "left")
        .select(
            "user_bucket",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias("n_deleted"),
            (F.col("user_bucket") == (7 % n_buckets)).alias("rewritten"),
        )
    )


def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for every purchase
    observation, attach the user's feature state STRICTLY BEFORE the
    observation timestamp (running event count and mean value) — the
    temporal-correctness pattern that prevents label leakage in
    training-set construction.

    Implemented as ONE window pass, not an interval join: the frame
    ``rows between unbounded preceding and 1 preceding`` over the
    (user, ts, event_id) order makes the strict-before cut structural
    — a feature computed AT the observation row cannot leak in by
    construction, not by a filter someone can forget. One shuffle on
    user_id at any scale; observations and features co-partition
    because they are the same stream.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # value is 2-decimal currency: accumulate EXACT integer cents so
    # both engines divide identical integers — a float running sum's
    # last-ulp order differences otherwise flip round() on the exact
    # .xx5 ties that 2-decimal averages constantly produce
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    scored = ev.withColumn("cents", cents).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.count("cents").over(w).alias("feat_n_events"),
        round2(
            F.sum("cents").over(w).cast("double") / F.count("cents").over(w) / 100.0, 4
        ).alias("feat_avg_value"),
    )
    return scored.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        round2(F.col("value")).alias("label_value"),
        F.col("feat_n_events"),
        "feat_avg_value",
    )


ROLLUP_CUTOFF = "2024-01-16 12:00:00"  # mid-day: the boundary day's
# groups receive contributions from BOTH sides, so the algebraic
# merge path (not just insert) is exercised and oracle-checked


def incremental_rollup_maintenance(
    spark: SparkSession, sf_dir: str, cutoff: str = ROLLUP_CUTOFF
) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance for an algebraic
    rollup: the daily (day × event_type) aggregate is first computed
    from the pre-cutoff corpus (the persisted view), then the
    post-cutoff arrivals are aggregated ALONE and merged in with a
    full-outer join + algebraic combine (count/sum add, max takes
    greatest). The DuckDB oracle recomputes the rollup from scratch
    over all rows — the hash match proves the incremental path is
    exactly equivalent to recomputation.

    This is the batch skeleton of what `t15_stream_cdc_materialize`
    does per micro-batch, isolated as its own operator because it is
    THE scale pattern for 100 TB fact tables: each maintenance cycle
    scans only the delta (new partitions), and the merge join touches
    one rollup row per active group — the corpus is never rescanned.
    Only algebraic aggregates (count/sum/min/max/avg-as-sum÷count)
    merge this way; holistic ones (exact distinct, exact percentile)
    need sketch state instead (`sketch_distinct_users`'s HLL is the
    mergeable stand-in).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date").alias("day")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "event_type").agg(
            F.count("*").alias("n"),
            F.sum("value").alias("v"),
            F.max("value").alias("mx"),
        )

    base = rollup(ev.filter(F.col("ts") <= cutoff)).select(
        F.col("day").alias("b_day"), F.col("event_type").alias("b_type"),
        F.col("n").alias("b_n"), F.col("v").alias("b_v"), F.col("mx").alias("b_mx"),
    )
    delta = rollup(ev.filter(F.col("ts") > cutoff)).select(
        F.col("day").alias("d_day"), F.col("event_type").alias("d_type"),
        F.col("n").alias("d_n"), F.col("v").alias("d_v"), F.col("mx").alias("d_mx"),
    )
    merged = base.join(
        delta,
        (base.b_day == delta.d_day) & (base.b_type == delta.d_type),
        "full_outer",
    )
    from ..functions.numeric import round2

    return merged.select(
        F.coalesce("b_day", "d_day").cast("timestamp").alias("day"),
        F.coalesce("b_type", "d_type").alias("event_type"),
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("bigint")
        .alias("n_events"),
        round2(
            F.coalesce("b_v", F.lit(0.0)) + F.coalesce("d_v", F.lit(0.0)), 2
        ).alias("total_value"),
        round2(
            F.greatest(
                F.coalesce("b_mx", "d_mx"), F.coalesce("d_mx", "b_mx")
            ),
            2,
        ).alias("max_value"),
        (F.col("b_day").isNotNull() & F.col("d_day").isNotNull()).alias(
            "was_merged"
        ),
    )
