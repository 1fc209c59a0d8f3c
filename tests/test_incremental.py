"""Semantic tests for the CDC-merge / SCD2 operators
(operators/incremental.py) beyond the registry oracle twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.operators import incremental
from real_time_big_data_analytics_spark.sources.tables import load_table

from tests.conftest import SF_CORRECT


def test_cdc_upsert_matches_latest_overall(spark):
    """Merging a pre-cutoff snapshot with a post-cutoff delta must
    equal the latest-event-per-user state computed in one pass."""
    merged = incremental.cdc_upsert_state(spark, SF_CORRECT)
    ev = load_table(spark, SF_CORRECT, "events")
    direct = (
        ev.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
        .select(
            "user_id",
            F.col("s.event_type").alias("state_event_type"),
            F.col("s.value").alias("state_value"),
            F.col("s.ts").alias("state_ts"),
        )
    )
    got = {r["user_id"]: r for r in merged.collect()}
    want = {r["user_id"]: r for r in direct.collect()}
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g["state_ts"] == w["state_ts"], uid
        assert g["state_event_type"] == w["state_event_type"], uid
        assert g["state_value"] == w["state_value"], uid


def test_cdc_updated_flag(spark):
    """``updated`` is exactly "user has an event after the cutoff"."""
    merged = incremental.cdc_upsert_state(spark, SF_CORRECT)
    ev = load_table(spark, SF_CORRECT, "events")
    after = {
        r["user_id"]
        for r in ev.filter(F.col("ts") > incremental.DEFAULT_CUTOFF)
        .select("user_id")
        .distinct()
        .collect()
    }
    for r in merged.collect():
        assert r["updated"] == (r["user_id"] in after), r["user_id"]


def test_scd2_intervals_chain_and_single_current(spark):
    """Per user: intervals chain exactly (valid_to == next valid_from),
    never overlap, and exactly one row is current."""
    hist = incremental.scd2_user_history(spark, SF_CORRECT).collect()
    by_user: dict[int, list] = {}
    for r in hist:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user, "sample produced no users"
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in rows) == 1, uid
        assert rows[-1]["is_current"], uid
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"], uid


def test_gdpr_delete_rewrites_only_the_forget_bucket(spark, sf_dir, monkeypatch, tmp_path):
    """The dynamic partition overwrite must leave every non-forget
    bucket's files byte-identical (same paths, same sizes) and must
    actually erase the forget users from the rewritten bucket."""
    import glob
    import os

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.incremental import (
        gdpr_forget_audit,
    )
    from real_time_big_data_analytics_spark.sources import staging

    monkeypatch.setattr(staging, "_ROOT", str(tmp_path))
    rows = gdpr_forget_audit(spark, sf_dir).collect()
    (root,) = glob.glob(str(tmp_path / "rtba_gdpr_*"))

    audited = {r.user_bucket: r for r in rows}
    assert audited[7].rewritten and audited[7].n_deleted > 0
    # sf0.001's bucket 7 is a single user: the forget-set empties the
    # partition, exercising the explicit directory-erase path
    assert audited[7].n_after == 0
    assert not os.path.isdir(os.path.join(root, "user_bucket=7"))
    for b, r in audited.items():
        if b != 7:
            assert not r.rewritten and r.n_deleted == 0

    final = spark.read.parquet(root)
    assert final.filter(F.col("user_id") % 40 == 7).count() == 0
    # untouched buckets keep their original single write's files
    for b in (0, 1, 2, 3):
        files = os.listdir(os.path.join(root, f"user_bucket={b}"))
        parts = [f for f in files if f.endswith(".parquet")]
        assert parts, files


def test_gdpr_partial_delete_rewrites_in_place(spark, monkeypatch, tmp_path):
    """At sf0.01 the forget-set is HALF of bucket 7's users: the
    partition survives with the other half — the dynamic-overwrite
    rewrite path."""
    import glob
    import os

    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators.incremental import (
        gdpr_forget_audit,
    )
    from real_time_big_data_analytics_spark.sources import staging
    from tests.conftest import SF_CORRECT

    monkeypatch.setattr(staging, "_ROOT", str(tmp_path))
    rows = gdpr_forget_audit(spark, SF_CORRECT).collect()
    (root,) = glob.glob(str(tmp_path / "rtba_gdpr_*"))
    audited = {r.user_bucket: r for r in rows}
    assert audited[7].rewritten and audited[7].n_deleted > 0 and audited[7].n_after > 0
    assert os.path.isdir(os.path.join(root, "user_bucket=7"))
    assert spark.read.parquet(root).filter(F.col("user_id") % 40 == 7).count() == 0


def test_point_in_time_features_never_leak(spark, sf_dir):
    """For every observation, the joined feature state must be
    computable from STRICTLY-earlier events only: recompute each
    user's timeline manually and compare counts."""
    from real_time_big_data_analytics_spark.operators.incremental import (
        point_in_time_features,
    )

    out = {r.event_id: r for r in point_in_time_features(spark, sf_dir).collect()}
    assert out
    ev = sorted(
        spark.read.parquet(f"{sf_dir}/events.parquet").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    seen: dict = {}
    for r in ev:
        prior = seen.get(r.user_id, 0)
        if r.event_type == "purchase" and r.event_id in out:
            assert out[r.event_id].feat_n_events == prior, r.event_id
        seen[r.user_id] = prior + 1


def test_rollup_maintenance_merge_path_exercised(spark, sf_dir):
    """The mid-day cutoff must produce at least one group merged from
    both sides, pure-base groups, and pure-delta groups — so the
    full-outer merge exercises all three MERGE branches; and the
    incremental result must equal a direct recompute."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.operators import incremental
    from real_time_big_data_analytics_spark.sources.tables import load_table

    inc = incremental.incremental_rollup_maintenance(spark, sf_dir)
    rows = inc.collect()
    merged = [r for r in rows if r.was_merged]
    assert merged, "boundary day should merge base+delta contributions"
    assert len(merged) < len(rows), "non-boundary groups should be single-side"

    direct = {
        (r.day, r.event_type): (r.n, round(r.v, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert len(rows) == len(direct)
    for r in rows:
        n, v = direct[(r.day, r.event_type)]
        assert r.n_events == n
        assert abs(r.total_value - v) < 0.011
