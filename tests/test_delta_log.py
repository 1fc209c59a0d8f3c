"""Delta transaction-log semantics (sources/delta_log.py).

The registry oracle binds whole-version aggregates to the data; these
tests pin the LOG semantics themselves: commit mutual exclusion, gap
refusal, last-action-wins replay, time travel, and the environment
probe showing no foreign delta reader exists in the sandbox (so the
validation pattern is spec-shaped bytes + oracle, like the kafka wire
path).
"""

from __future__ import annotations

import json
import os

import pytest

from real_time_big_data_analytics_spark.sources import delta_log as D


def _toy_table(tmp_path, spark):
    table = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    adds1 = D._write_version_files(spark, df1, table, "v0")
    meta = {
        "metaData": {
            "id": "toy",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df1.schema.json(),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, meta] + adds1)
    return table, adds1


def test_commit_refuses_overwrite(tmp_path, spark):
    table, _ = _toy_table(tmp_path, spark)
    with pytest.raises(FileExistsError):
        D.write_commit(table, 0, [])


def test_replay_refuses_gaps(tmp_path, spark):
    table, _ = _toy_table(tmp_path, spark)
    D.write_commit(table, 2, [])  # skipped version 1
    with pytest.raises(ValueError, match="gaps"):
        D.replay(table)


def test_remove_then_readd_last_action_wins(tmp_path, spark):
    table, adds1 = _toy_table(tmp_path, spark)
    path = adds1[0]["add"]["path"]
    D.write_commit(
        table,
        1,
        [{"remove": {"path": path, "deletionTimestamp": 0, "dataChange": True}}],
    )
    D.write_commit(table, 2, [adds1[0]])  # re-add the same file
    files_v1 = D.replay(table, 1)["files"]
    files_v2 = D.replay(table, 2)["files"]
    assert path not in files_v1
    assert path in files_v2


def test_time_travel_reads_version_content(tmp_path, spark):
    table, adds1 = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    D.write_commit(table, 1, D._write_version_files(spark, df2, table, "v1"))
    v0 = {r.id for r in D.read_snapshot(spark, table, 0).collect()}
    v1 = {r.id for r in D.read_snapshot(spark, table, 1).collect()}
    latest = {r.id for r in D.read_snapshot(spark, table).collect()}
    assert v0 == {1, 2} and v1 == {1, 2, 3} == latest


def test_empty_snapshot_keeps_schema(tmp_path, spark):
    table, adds1 = _toy_table(tmp_path, spark)
    removes = [
        {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                    "dataChange": True}}
        for a in adds1
    ]
    D.write_commit(table, 1, removes)
    df = D.read_snapshot(spark, table, 1)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "s"]


def test_commit_file_is_spec_shaped_ndjson(tmp_path, spark):
    """Each line one JSON action; v0 carries protocol + metaData with
    the PROTOCOL.md-required fields."""
    table, _ = _toy_table(tmp_path, spark)
    lines = open(
        os.path.join(table, "_delta_log", f"{0:020d}.json")
    ).read().splitlines()
    actions = [json.loads(ln) for ln in lines]
    assert set(actions[0]) == {"protocol"}
    assert actions[0]["protocol"]["minReaderVersion"] == 1
    md = actions[1]["metaData"]
    for field in ("id", "format", "schemaString", "partitionColumns"):
        assert field in md
    assert md["format"]["provider"] == "parquet"
    for a in actions[2:]:
        assert set(a) == {"add"}
        for field in ("path", "partitionValues", "size", "modificationTime",
                      "dataChange"):
            assert field in a["add"]


def test_no_foreign_delta_reader_in_sandbox(spark, tmp_path):
    """The environment gap this module fills, re-proven each round:
    neither spark's jars nor duckdb carry a delta reader here."""
    import duckdb
    import pyspark

    jars = os.listdir(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    assert not any("delta" in j.lower() for j in jars)
    df = spark.createDataFrame([(1,)], "a int")
    with pytest.raises(Exception):
        spark.read.format("delta").load(str(tmp_path / "x"))
    con = duckdb.connect()
    with pytest.raises(Exception):
        con.execute(
            "SELECT * FROM delta_scan('/nonexistent')"
        ).fetchall()


def test_staging_recovers_from_partial_build(spark):
    """Crash-idempotency (ADVICE r7): a prior run that died after some
    commits but before the FINAL one must not wedge the stager — the
    partial table_dir is discarded and rebuilt via atomic staging
    rename, and the rebuilt table replays identically."""
    sf = "/root/testdata/sf0.001"
    table_dir = D.stage_events_as_delta(spark, sf)
    before = {
        v: D.replay(table_dir, v)["files"] for v in (0, 1, 2)
    }
    n_before = D.read_snapshot(spark, table_dir, 2).count()
    # simulate the crash: completion marker absent, earlier state present
    os.remove(os.path.join(table_dir, "_staging_complete"))
    os.remove(D._commit_path(table_dir, 2))
    rebuilt = D.stage_events_as_delta(spark, sf)
    assert rebuilt == table_dir
    assert os.path.exists(D._commit_path(rebuilt, 2))
    after = {v: D.replay(rebuilt, v)["files"] for v in (0, 1, 2)}
    assert {v: len(f) for v, f in after.items()} == {
        v: len(f) for v, f in before.items()
    }
    assert D.read_snapshot(spark, rebuilt, 2).count() == n_before
    # no orphaned staging scratch dirs left behind
    parent = os.path.dirname(table_dir)
    base = os.path.basename(table_dir)
    assert not [
        d for d in os.listdir(parent) if d.startswith(f"{base}.staging-")
    ]


def test_checkpoint_replays_without_covered_commits(tmp_path, spark):
    """The checkpoint's reason to exist: after log cleanup (and even
    with a CORRUPTED leftover commit behind the checkpoint), replay of
    any version >= checkpoint works from the parquet state + tail
    alone, and is file-identical to the pre-cleanup replay."""
    table, adds1 = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    adds2 = D._write_version_files(spark, df2, table, "v1")
    D.write_commit(table, 1, adds2)
    before = {v: D.replay(table, v)["files"] for v in (0, 1)}
    D.write_checkpoint(table, 1)
    # corrupt commit 0 in place, then clean both covered commits
    with open(D._commit_path(table, 0), "w") as f:
        f.write("{not json")
    assert D.expire_commits_before_checkpoint(table) == [0, 1]
    assert D.replay(table, 1)["files"] == before[1]
    assert D.replay(table)["version"] == 1
    # a further commit replays as checkpoint + tail
    df3 = spark.createDataFrame([(4, "d")], "id bigint, s string")
    adds3 = D._write_version_files(spark, df3, table, "v2")
    D.write_commit(table, 2, adds3)
    assert len(D.replay(table, 2)["files"]) == len(before[1]) + len(adds3)
    assert D.read_snapshot(spark, table, 2).count() == 4
    # time travel BEHIND the expired tail is refused, not silently wrong
    with pytest.raises(ValueError, match="gaps"):
        D.replay(table, 0)


def test_checkpoint_tail_gap_refused(tmp_path, spark):
    table, _ = _toy_table(tmp_path, spark)
    D.write_checkpoint(table, 0)
    df3 = spark.createDataFrame([(4, "d")], "id bigint, s string")
    D.write_commit(table, 2, D._write_version_files(spark, df3, table, "v2"))
    with pytest.raises(ValueError, match="gaps"):
        D.replay(table, 2)


def test_changes_between_emits_inserts_and_deletes(tmp_path, spark):
    table, adds1 = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    adds2 = D._write_version_files(spark, df2, table, "v1")
    removes = [
        {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                    "dataChange": True}}
        for a in adds1
    ]
    D.write_commit(table, 1, removes + adds2)
    ch = D.changes_between(spark, table, 0, 1)
    got = {
        (r.commit_version, r.change_type, r.id) for r in ch.collect()
    }
    assert got == {
        (0, "insert", 1), (0, "insert", 2),
        (1, "delete", 1), (1, "delete", 2),
        (1, "insert", 3),
    }
    # a range with an expired commit is refused
    os.remove(D._commit_path(table, 0))
    with pytest.raises(ValueError, match="absent"):
        D.changes_between(spark, table, 0, 1)


def test_cdf_non_datachange_compaction_excluded(tmp_path, spark):
    """A pure compaction (dataChange=false on both sides) must NOT
    appear in the change feed — the flag is what separates logical
    changes from physical rewrites."""
    table, adds1 = _toy_table(tmp_path, spark)
    rewrite = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    adds2 = D._write_version_files(spark, rewrite, table, "v1")
    actions = [
        {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                    "dataChange": False}}
        for a in adds1
    ] + [
        {"add": {**a["add"], "dataChange": False}} for a in adds2
    ]
    D.write_commit(table, 1, actions)
    ch = D.changes_between(spark, table, 0, 1)
    assert {r.commit_version for r in ch.collect()} == {0}


def test_commit_with_retry_wins_after_losing_race(tmp_path, spark):
    """Optimistic concurrency: a writer that loses the put-if-absent
    race re-reads the log and lands at the new head; blind appends
    never conflict."""
    table, _ = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    adds2 = D._write_version_files(spark, df2, table, "v1")
    # a concurrent writer takes version 1 first
    D.write_commit(table, 1, [])
    v = D.commit_with_retry(table, adds2)
    assert v == 2
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {1, 2, 3}


def test_commit_with_retry_refuses_concurrent_remove(tmp_path, spark):
    """A remove racing an intervening remove of the SAME path is a
    true conflict (both writers resolved the file from stale state) —
    refused, never double-applied."""
    table, adds1 = _toy_table(tmp_path, spark)
    path = adds1[0]["add"]["path"]
    rm = {"remove": {"path": path, "deletionTimestamp": 0, "dataChange": True}}
    D.write_commit(table, 1, [rm])  # the other writer wins with it
    with pytest.raises(ValueError, match="concurrent remove"):
        # this writer resolved the file from the v0 snapshot
        D.commit_with_retry(table, [dict(rm)], read_version=0)
    # a remove of a DIFFERENT path from the same snapshot is no conflict
    rm2 = {
        "remove": {"path": adds1[1]["add"]["path"], "deletionTimestamp": 0,
                   "dataChange": True}
    }
    assert D.commit_with_retry(table, [rm2], read_version=0) == 2
    removed_paths = {path, adds1[1]["add"]["path"]}
    expect = sorted(
        a["add"]["path"] for a in adds1 if a["add"]["path"] not in removed_paths
    )
    assert D.replay(table)["files"] == expect


# --- round 9: REAL multi-process commit races (VERDICT r8 ask #2) ----
#
# The prior race tests simulated the loser sequentially, so the
# check-then-replace TOCTOU window was never exercised — and the old
# write_commit (os.path.exists + os.replace) would let two concurrent
# writers both "win", the second silently clobbering a committed
# version. These tests hold all writers at a Barrier and release them
# into write_commit simultaneously; os.link's kernel-atomic
# put-if-absent guarantees exactly one winner and an intact file.

import multiprocessing as _mp

_FORK = _mp.get_context("fork")  # children do pure-stdlib I/O only


def _race_same_version(table, wid, barrier, q):
    barrier.wait()
    try:
        D.write_commit(
            table, 1, [{"commitInfo": {"writer": wid, "pad": "x" * 4096}}]
        )
        q.put(("won", wid))
    except FileExistsError:
        q.put(("lost", wid))


def _race_retry_append(table, wid, barrier, q):
    barrier.wait()
    v = D.commit_with_retry(
        table,
        [{"add": {"path": f"files_w{wid}/part-0.parquet",
                  "partitionValues": {}, "size": 1,
                  "modificationTime": 0, "dataChange": True}}],
        max_attempts=200,
    )
    q.put((wid, v))


def _log_only_table(tmp_path) -> str:
    """A table with a v0 metaData commit and no data files — the race
    tests exercise log mutual exclusion, which never reads data."""
    table = str(tmp_path / "race")
    meta = {
        "metaData": {
            "id": "race",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}",
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, meta])
    return table


def test_multiprocess_put_if_absent_exactly_one_winner(tmp_path):
    """N processes released simultaneously into write_commit(v1):
    exactly one wins, everyone else gets FileExistsError, and the
    surviving file is the winner's COMPLETE intact payload (a clobber
    or interleaved write would corrupt or swap it)."""
    table = _log_only_table(tmp_path)
    n = 8
    barrier = _FORK.Barrier(n)
    q = _FORK.Queue()
    procs = [
        _FORK.Process(target=_race_same_version, args=(table, w, barrier, q))
        for w in range(n)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in range(n)]
    for p in procs:
        p.join(timeout=60)
    winners = [wid for status, wid in results if status == "won"]
    assert len(winners) == 1
    lines = open(D._commit_path(table, 1)).read().splitlines()
    actions = [json.loads(ln) for ln in lines]  # intact NDJSON
    assert actions == [
        {"commitInfo": {"writer": winners[0], "pad": "x" * 4096}}
    ]
    # no leaked in-progress temp files
    log_dir = os.path.join(table, "_delta_log")
    assert not [f for f in os.listdir(log_dir) if "inprogress" in f]


def test_multiprocess_retry_commits_are_gapless_and_lossless(tmp_path):
    """N concurrent commit_with_retry writers (blind appends): every
    writer lands, versions are gapless 0..N, and every writer's add
    survives in the final replay exactly once."""
    table = _log_only_table(tmp_path)
    n = 8
    barrier = _FORK.Barrier(n)
    q = _FORK.Queue()
    procs = [
        _FORK.Process(target=_race_retry_append, args=(table, w, barrier, q))
        for w in range(n)
    ]
    for p in procs:
        p.start()
    results = dict(q.get(timeout=120) for _ in range(n))
    for p in procs:
        p.join(timeout=120)
    assert sorted(results) == list(range(n))  # every writer committed
    assert sorted(results.values()) == list(range(1, n + 1))  # distinct
    assert D.log_versions(table) == list(range(n + 1))  # gapless
    files = D.replay(table)["files"]
    assert sorted(files) == sorted(
        f"files_w{w}/part-0.parquet" for w in range(n)
    )


def test_conflict_check_against_expired_commit_refused(tmp_path, spark):
    """commit_with_retry with a remove whose conflict range was
    expired by log cleanup: an honest ValueError naming the expired
    commit, not FileNotFoundError (ADVICE r8)."""
    table, adds1 = _toy_table(tmp_path, spark)
    path = adds1[0]["add"]["path"]
    D.write_commit(
        table, 1,
        [{"remove": {"path": "files_other/x.parquet",
                     "deletionTimestamp": 0, "dataChange": True}}],
    )
    D.write_checkpoint(table, 1)
    D.expire_commits_before_checkpoint(table)
    rm = {"remove": {"path": path, "deletionTimestamp": 0, "dataChange": True}}
    with pytest.raises(ValueError, match="expired commit v1"):
        D.commit_with_retry(table, [rm], read_version=0)


def test_checkpoint_rolls_forward_after_log_cleanup(tmp_path, spark):
    """ADVICE r8: checkpoints must build from replay() (existing
    checkpoint + tail), not JSON-from-0 — otherwise no checkpoint can
    ever be written again once cleanup expired the early commits and
    the JSON tail grows forever."""
    table, adds1 = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    D.write_commit(table, 1, D._write_version_files(spark, df2, table, "v1"))
    D.write_checkpoint(table, 1)
    D.expire_commits_before_checkpoint(table)
    df3 = spark.createDataFrame([(4, "d")], "id bigint, s string")
    D.write_commit(table, 2, D._write_version_files(spark, df3, table, "v2"))
    # the old code raised "log has gaps" here
    D.write_checkpoint(table, 2)
    assert D.read_last_checkpoint(table)["version"] == 2
    assert D.expire_commits_before_checkpoint(table) == [2]
    # replay of the head now comes purely from the rolled checkpoint
    assert D.replay(table)["version"] == 2
    assert D.read_snapshot(spark, table).count() == 4


def test_replay_metadata_shape_identical_json_vs_checkpoint(tmp_path, spark):
    """ADVICE r8: replay()['metadata'] must be the same shape (format
    + configuration included) whether served from JSON or checkpoint."""
    table, _ = _toy_table(tmp_path, spark)
    md_json = D.replay(table)["metadata"]
    D.write_checkpoint(table, 0)
    D.expire_commits_before_checkpoint(table)
    md_cp = D.replay(table)["metadata"]
    assert md_cp == md_json
    assert md_cp["format"] == {"provider": "parquet", "options": {}}
    assert md_cp["configuration"] == {}


# --- round 9: partitionValues pruning (VERDICT r8 ask #7) -------------


def _partitioned_toy(tmp_path, spark):
    table = str(tmp_path / "pt")
    meta = {
        "metaData": {
            "id": "pt",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": spark.createDataFrame(
                [(1, "a")], "id bigint, k string"
            ).schema.json(),
            "partitionColumns": ["k"],
            "configuration": {},
            "createdTime": 0,
        }
    }
    adds = []
    for k, ids in (("a", [1, 2]), ("b", [3]), ("c", [4, 5, 6])):
        sub = f"files_pt/k={k}"
        out = os.path.join(table, sub)
        df = spark.createDataFrame([(i,) for i in ids], "id bigint")
        df.coalesce(1).write.mode("overwrite").parquet(out)
        for fn in sorted(os.listdir(out)):
            if fn.endswith(".parquet"):
                adds.append(
                    {"add": {"path": f"{sub}/{fn}",
                             "partitionValues": {"k": k}, "size": 1,
                             "modificationTime": 0, "dataChange": True}}
                )
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, meta] + adds)
    return table


def test_partition_prune_filters_files_from_metadata(tmp_path, spark):
    table = _partitioned_toy(tmp_path, spark)
    snap = D.replay(table)
    pruned = D.prune_files(snap, {"k": {"a", "c"}})
    assert len(pruned) == 2 and len(snap["_active"]) == 3
    assert all("k=b" not in p for p in pruned)
    # unknown column refused
    with pytest.raises(ValueError, match="not partition columns"):
        D.prune_files(snap, {"nope": {"x"}})


def test_partition_prune_reconstructs_partition_column(tmp_path, spark):
    """The partition column is absent from the data files; the pruned
    read serves it from partitionValues as a typed literal."""
    table = _partitioned_toy(tmp_path, spark)
    df = D.read_snapshot(spark, table, partition_filter={"k": {"a", "c"}})
    assert [f.name for f in df.schema.fields] == ["id", "k"]
    got = {(r.id, r.k) for r in df.collect()}
    assert got == {(1, "a"), (2, "a"), (4, "c"), (5, "c"), (6, "c")}
    # empty selection keeps the full schema
    empty = D.read_snapshot(spark, table, partition_filter={"k": {"zzz"}})
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "k"]
    # unpartitioned table + partition_filter is refused
    table2, _ = _toy_table(tmp_path, spark)
    with pytest.raises(ValueError, match="not partition columns"):
        D.read_snapshot(spark, table2, partition_filter={"k": {"a"}})


def test_vacuum_deletes_only_dead_files(tmp_path, spark):
    """Vacuum removes tombstoned files, keeps the live snapshot
    readable and the log/checkpoint intact; vacuumed versions replay
    their FILE LIST but fail at data-scan time (the documented
    trade-off)."""
    import os as _os

    table, adds1 = _toy_table(tmp_path, spark)
    rewrite = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                    "id bigint, s string")
    adds2 = D._write_version_files(spark, rewrite, table, "v1")
    removes = [
        {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                    "dataChange": True}}
        for a in adds1
    ]
    D.write_commit(table, 1, removes + adds2)
    D.write_checkpoint(table, 1)
    dead = [os.path.join(table, a["add"]["path"]) for a in adds1]
    live = [os.path.join(table, a["add"]["path"]) for a in adds2]
    removed = D.vacuum(table)
    assert sorted(removed) == sorted(dead)
    assert all(not _os.path.exists(p) for p in dead)
    assert all(_os.path.exists(p) for p in live)
    # live snapshot reads; checkpoint parquet untouched
    assert D.read_snapshot(spark, table).count() == 3
    assert _os.path.exists(D._checkpoint_path(table, 1))
    # the vacuumed version still REPLAYS (log intact) but cannot scan
    assert len(D.replay(table, 0)["files"]) == len(adds1)
    with pytest.raises(Exception):
        D.read_snapshot(spark, table, 0).collect()
    # idempotent: nothing left to vacuum
    assert D.vacuum(table) == []


# --- round 9: multi-part checkpoints ----------------------------------


def test_multipart_checkpoint_roundtrips_and_survives_cleanup(tmp_path, spark):
    """A 3-part checkpoint replays identically to the single-file one
    (same state, parts unioned), including after log cleanup; the
    pointer carries "parts"; part files follow the PROTOCOL.md name."""
    table, adds1 = _toy_table(tmp_path, spark)
    df2 = spark.createDataFrame([(3, "c"), (4, "d")], "id bigint, s string")
    D.write_commit(table, 1, D._write_version_files(spark, df2, table, "v1"))
    before = D.replay(table, 1)["files"]
    D.write_checkpoint(table, 1, parts=3)
    cp = D.read_last_checkpoint(table)
    assert cp["parts"] == 3
    for i in range(3):
        assert os.path.exists(D._checkpoint_part_path(table, 1, i + 1, 3))
    D.expire_commits_before_checkpoint(table)
    assert D.replay(table, 1)["files"] == before
    assert D.read_snapshot(spark, table).count() == 4
    # metadata shape identical through the multi-part path too
    md = D.replay(table)["metadata"]
    assert md["format"] == {"provider": "parquet", "options": {}}
    # more parts than adds: empty tail parts are legal
    D.write_commit(table, 2, [])
    D.write_checkpoint(table, 2, parts=8)
    assert D.replay(table, 2)["files"] == before


def test_multipart_checkpoint_missing_part_refused(tmp_path, spark):
    """A partial multi-part checkpoint is NO checkpoint: replay must
    refuse rather than silently drop the missing part's files."""
    table, _ = _toy_table(tmp_path, spark)
    D.write_checkpoint(table, 0, parts=2)
    D.expire_commits_before_checkpoint(table)
    os.remove(D._checkpoint_part_path(table, 0, 2, 2))
    with pytest.raises(ValueError, match="missing 1/2 parts"):
        D.replay(table)


# --- round 9: deletion vectors ----------------------------------------


def test_dv_codec_spec_shapes_and_roundtrip():
    """Z85 RFC test vector; roaring cookie/container-switch structure;
    64-bit bucket layout; descriptor cardinality binding."""
    import struct

    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    # the ZeroMQ RFC 32 canonical vector
    assert DV.z85_encode(
        bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    ) == "HelloWorld"
    assert DV.z85_decode("HelloWorld") == bytes(
        [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
    )
    # array container (<=4096) and bitmap container (>4096) roundtrip
    small = [1, 5, 9, 70000]
    blob = DV.roaring32_serialize(small)
    assert struct.unpack_from("<I", blob)[0] == 12346  # no-run cookie
    assert DV.roaring32_deserialize(blob) == small
    dense = list(range(0, 10000, 2)) + [65536 * 3 + 7]
    assert DV.roaring32_deserialize(DV.roaring32_serialize(dense)) == sorted(
        dense
    )
    # 64-bit buckets
    big = [0, 1, (1 << 32) + 5, (1 << 33) + 9]
    assert DV.rba_deserialize(DV.rba_serialize(big)) == big
    # descriptor: inline, magic, cardinality cross-checked
    d = DV.dv_inline_descriptor([2, 4, 8])
    assert d["storageType"] == "i" and d["cardinality"] == 3
    assert DV.dv_row_indexes(d) == [2, 4, 8]
    d_bad = dict(d, cardinality=5)
    with pytest.raises(ValueError, match="cardinality mismatch"):
        DV.dv_row_indexes(d_bad)
    with pytest.raises(ValueError, match="storageType"):
        DV.dv_row_indexes({"storageType": "z", "pathOrInlineDv": "x"})
    # "u" is sidecar storage (round 10) and needs the table root
    with pytest.raises(ValueError, match="table root"):
        DV.dv_row_indexes({"storageType": "u", "pathOrInlineDv": "x" * 20})


def test_deletion_vector_scan_skips_exactly_marked_rows(tmp_path, spark):
    """A DV'd add serves its file MINUS the marked row positions —
    no data bytes rewritten (the file on disk is untouched), kept rows
    intact, time travel to the pre-DV version still sees everything."""
    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    table, adds1 = _toy_table(tmp_path, spark)  # files hold ids {1,2}
    # find the row positions of id==1 per file
    import pyspark.sql.functions as F

    pos = (
        spark.read.parquet(os.path.join(table, "files_v0"))
        .select(
            F.col("_metadata.file_name").alias("fn"),
            F.col("_metadata.row_index").alias("ri"),
            "id",
        )
        .filter(F.col("id") == 1)
        .collect()
    )
    per_file = {}
    for r in pos:
        per_file.setdefault(r.fn, []).append(int(r.ri))
    actions = []
    bytes_before = {}
    for a in adds1:
        fn = os.path.basename(a["add"]["path"])
        if fn not in per_file:
            continue
        full = os.path.join(table, a["add"]["path"])
        bytes_before[full] = open(full, "rb").read()
        actions.append(
            {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                        "dataChange": True}}
        )
        new_add = dict(a["add"])
        new_add["deletionVector"] = DV.dv_inline_descriptor(per_file[fn])
        actions.append({"add": new_add})
    D.write_commit(table, 1, actions)
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {2}
    assert {r.id for r in D.read_snapshot(spark, table, 0).collect()} == {1, 2}
    for full, before in bytes_before.items():
        assert open(full, "rb").read() == before  # zero rewrites


# --- round 9: column mapping (name mode) ------------------------------


def test_column_mapping_rename_is_metadata_only(tmp_path, spark):
    """Logical->physical indirection: files store col_1/col_2; reads
    serve logical names; a rename is one metaData commit with ZERO
    data bytes touched; time travel shows the old name."""
    import pyspark.sql.functions as F

    table = str(tmp_path / "cm")
    phys = spark.createDataFrame(
        [(1, 2.0), (2, 4.0)], "col_1 bigint, col_2 double"
    )
    adds = D._write_version_files(spark, phys, table, "v0")
    fields = [("id", "long"), ("score", "double")]
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, D._cm_meta("t", fields)] + adds)
    df = D.read_snapshot(spark, table)
    assert df.columns == ["id", "score"]
    assert {(r.id, r.score) for r in df.collect()} == {(1, 2.0), (2, 4.0)}
    data_files = [os.path.join(table, a["add"]["path"]) for a in adds]
    before = {p: open(p, "rb").read() for p in data_files}
    renamed = [("id", "long"), ("points", "double")]
    D.write_commit(table, 1, [D._cm_meta("t", renamed)])
    df2 = D.read_snapshot(spark, table)
    assert df2.columns == ["id", "points"]
    assert {(r.id, r.points) for r in df2.collect()} == {(1, 2.0), (2, 4.0)}
    assert D.read_snapshot(spark, table, 0).columns == ["id", "score"]
    for p, b in before.items():
        assert open(p, "rb").read() == b  # rename touched no data
    # aggregate through the renamed column
    assert df2.agg(F.sum("points")).collect()[0][0] == 6.0


def test_column_mapping_unknown_mode_refused(tmp_path, spark):
    table = str(tmp_path / "cmbad")
    meta = D._cm_meta("t", [("id", "long")])
    meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "weird"
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, meta])
    with pytest.raises(ValueError, match="unsupported columnMapping"):
        D.read_snapshot(spark, table)


# --- round 10: id-mode column mapping + partitioned combination --------


def test_column_mapping_id_mode_resolves_by_field_id(tmp_path, spark):
    """id mode: parquet FIELD IDS are authoritative — the files here
    carry field ids under column names that match NEITHER the logical
    nor the metadata physicalName, so a name-based reader has nothing
    to match on; resolution must go through the ids. A rename stays
    metadata-only (same id, zero data bytes touched)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    table = str(tmp_path / "cmid")
    w = StructType(
        [
            StructField("fld_a", LongType(), True, {"parquet.field.id": 1}),
            StructField("fld_b", DoubleType(), True, {"parquet.field.id": 2}),
        ]
    )
    phys = spark.createDataFrame([(1, 2.0), (2, 4.0)], w)
    adds = D._write_version_files(spark, phys, table, "v0")
    fields = [("id", "long"), ("score", "double")]
    D.write_commit(
        table, 0, [D.PROTOCOL_ACTION, D._cm_meta("t", fields, mode="id")] + adds
    )
    df = D.read_snapshot(spark, table)
    assert df.columns == ["id", "score"]
    assert {(r.id, r.score) for r in df.collect()} == {(1, 2.0), (2, 4.0)}
    data_files = [os.path.join(table, a["add"]["path"]) for a in adds]
    before = {p: open(p, "rb").read() for p in data_files}
    renamed = [("id", "long"), ("points", "double")]
    D.write_commit(table, 1, [D._cm_meta("t", renamed, mode="id")])
    df2 = D.read_snapshot(spark, table)
    assert df2.columns == ["id", "points"]
    assert {(r.id, r.points) for r in df2.collect()} == {(1, 2.0), (2, 4.0)}
    for p, b in before.items():
        assert open(p, "rb").read() == b  # rename touched no data


def test_column_mapping_partitioned_physical_partition_values(
    tmp_path, spark
):
    """Partitioned × column mapping (refused through round 9): the
    add actions' partitionValues key by PHYSICAL name; pruning takes
    LOGICAL filter keys and translates; the partition column is
    reconstructed under its logical name; a rename of the partition
    column is metadata-only."""
    table = str(tmp_path / "cmpt")
    # fields: id (col_1), grp (col_2, partition). Files store col_1
    # only (partition columns live in partitionValues, not the data).
    fields = [("id", "long"), ("grp", "string")]
    adds = []
    for grp, ids in (("x", [1, 2]), ("y", [3])):
        phys = spark.createDataFrame([(i,) for i in ids], "col_1 bigint")
        for a in D._write_version_files(spark, phys, table, f"v0_{grp}"):
            a["add"]["partitionValues"] = {"col_2": grp}  # PHYSICAL key
            adds.append(a)
    D.write_commit(
        table,
        0,
        [D.PROTOCOL_ACTION, D._cm_meta("t", fields, partition_cols=["grp"])]
        + adds,
    )
    df = D.read_snapshot(spark, table)
    assert sorted(df.columns) == ["grp", "id"]
    assert {(r.id, r.grp) for r in df.collect()} == {
        (1, "x"), (2, "x"), (3, "y"),
    }
    # logical-key pruning reaches the physical partitionValues
    snap = D.replay(table)
    pruned = D.prune_files(snap, {"grp": {"y"}})
    assert all(
        a["partitionValues"]["col_2"] == "y" for a in pruned.values()
    ) and pruned
    only_y = D.read_snapshot(spark, table, partition_filter={"grp": {"y"}})
    assert {(r.id, r.grp) for r in only_y.collect()} == {(3, "y")}
    # metadata-only rename of the PARTITION column
    renamed = [("id", "long"), ("bucket", "string")]
    D.write_commit(
        table, 1, [D._cm_meta("t", renamed, partition_cols=["bucket"])]
    )
    df2 = D.read_snapshot(spark, table)
    assert sorted(df2.columns) == ["bucket", "id"]
    assert {(r.id, r.bucket) for r in df2.collect()} == {
        (1, "x"), (2, "x"), (3, "y"),
    }


# --- round 10: DV sidecar storage + checkpointed DVs -------------------


def test_dv_sidecar_file_format_and_roundtrip(tmp_path):
    """The PROTOCOL.md sidecar framing: version byte 1; per vector a
    BE int32 dataSize, the bitmap bytes, a BE CRC-32; 'u' descriptors
    name the file by Z85-encoded UUID (with optional prefix); 'p'
    descriptors carry an absolute path; corruption is refused at the
    CRC before any bitmap decode."""
    import struct as S

    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    table = str(tmp_path)
    descs = DV.dv_sidecar_write(table, [[1, 5, 9], [0, 2, 70000]], prefix="ab")
    assert [d["storageType"] for d in descs] == ["u", "u"]
    assert descs[0]["pathOrInlineDv"].startswith("ab/")
    path = DV.dv_sidecar_path(descs[0], table)
    assert os.path.basename(path).startswith("deletion_vector_")
    assert path == DV.dv_sidecar_path(descs[1], table)  # one shared file
    raw = open(path, "rb").read()
    assert raw[0] == 1  # version byte
    # descriptor offsets point at the BE dataSize ints
    for d, rows in zip(descs, ([1, 5, 9], [0, 2, 70000])):
        (dlen,) = S.unpack_from(">i", raw, d["offset"])
        assert dlen == d["sizeInBytes"]
        assert DV.dv_row_indexes(d, table_dir=table) == rows
    # 'p' storage: absolute path, no table root needed
    p_desc = dict(descs[0], storageType="p", pathOrInlineDv=path)
    assert DV.dv_row_indexes(p_desc) == [1, 5, 9]
    # CRC refusal: flip one bitmap byte
    bad = bytearray(raw)
    bad[descs[0]["offset"] + 6] ^= 0xFF
    open(path, "wb").write(bytes(bad))
    with pytest.raises(ValueError, match="checksum"):
        DV.dv_row_indexes(descs[0], table_dir=table)


def test_dv_sidecar_scan_skips_rows(tmp_path, spark):
    """End-to-end: a 'u'-descriptor delete serves the file minus the
    marked rows; the DATA files are byte-identical (the delete cost
    one sidecar file)."""
    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    table, adds1 = _toy_table(tmp_path, spark)
    import pyspark.sql.functions as F

    pos = (
        spark.read.parquet(os.path.join(table, "files_v0"))
        .select(
            F.col("_metadata.file_name").alias("fn"),
            F.col("_metadata.row_index").alias("ri"),
            "id",
        )
        .filter(F.col("id") == 1)
        .collect()
    )
    per_file = {}
    for r in pos:
        per_file.setdefault(r.fn, []).append(int(r.ri))
    hit_adds = [
        a for a in adds1 if os.path.basename(a["add"]["path"]) in per_file
    ]
    descs = DV.dv_sidecar_write(
        table,
        [per_file[os.path.basename(a["add"]["path"])] for a in hit_adds],
    )
    data_bytes = {
        os.path.join(table, a["add"]["path"]): open(
            os.path.join(table, a["add"]["path"]), "rb"
        ).read()
        for a in hit_adds
    }
    actions = []
    for a, d in zip(hit_adds, descs):
        actions.append(
            {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                        "dataChange": True}}
        )
        new_add = dict(a["add"])
        new_add["deletionVector"] = d
        actions.append({"add": new_add})
    D.write_commit(table, 1, actions)
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {2}
    assert {r.id for r in D.read_snapshot(spark, table, 0).collect()} == {1, 2}
    for full, before in data_bytes.items():
        assert open(full, "rb").read() == before  # zero data rewrites


def test_checkpoint_persists_deletion_vectors(tmp_path, spark):
    """ADVICE r9 (high): checkpointing a DV table and expiring the
    JSON commits must NOT resurrect the logically deleted rows — the
    deletionVector rides the checkpoint add struct and replay through
    the checkpoint serves the same filtered rows."""
    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    table, adds1 = _toy_table(tmp_path, spark)
    import pyspark.sql.functions as F

    pos = (
        spark.read.parquet(os.path.join(table, "files_v0"))
        .select(
            F.col("_metadata.file_name").alias("fn"),
            F.col("_metadata.row_index").alias("ri"),
            "id",
        )
        .filter(F.col("id") == 1)
        .collect()
    )
    per_file = {}
    for r in pos:
        per_file.setdefault(r.fn, []).append(int(r.ri))
    actions = []
    for a in adds1:
        fn = os.path.basename(a["add"]["path"])
        if fn not in per_file:
            continue
        actions.append(
            {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                        "dataChange": True}}
        )
        new_add = dict(a["add"])
        new_add["deletionVector"] = DV.dv_inline_descriptor(per_file[fn])
        actions.append({"add": new_add})
    D.write_commit(table, 1, actions)
    # the _active shape must be identical through either replay path
    json_active = D.replay(table, 1)["_active"]
    D.write_checkpoint(table, 1)
    D.expire_commits_before_checkpoint(table)
    cp_active = D.replay(table, 1)["_active"]
    assert cp_active == json_active
    # the reproduced ADVICE failure: deleted rows stayed deleted
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {2}


def test_optimize_datachange_false_stays_out_of_cdf(tmp_path, spark):
    """Round 10: a dataChange=false rewrite (OPTIMIZE) serves identical
    data through fewer files and contributes NOTHING to the change
    feed — a true-flagged compaction would re-emit the whole table to
    every incremental consumer."""
    table, adds1 = _toy_table(tmp_path, spark)
    # compact: remove the original files, add one rewritten file with
    # dataChange=false
    df = spark.read.parquet(
        *[os.path.join(table, a["add"]["path"]) for a in adds1]
    )
    sub = "files_opt"
    df.coalesce(1).write.parquet(os.path.join(table, sub))
    actions = [
        {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                    "dataChange": False}}
        for a in adds1
    ]
    for fn in sorted(os.listdir(os.path.join(table, sub))):
        if fn.endswith(".parquet"):
            actions.append(
                {"add": {"path": f"{sub}/{fn}", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": False}}
            )
    D.write_commit(table, 1, actions)
    # identical data, fewer files
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {1, 2}
    assert len(D.replay(table, 1)["files"]) == 1
    # the optimize commit is invisible to the change feed
    ch = D.changes_between(spark, table, 0, 1)
    assert {r.commit_version for r in ch.select("commit_version").collect()} == {0}
    with pytest.raises(ValueError, match="no dataChange"):
        D.changes_between(spark, table, 1, 1)


def test_checkpoint_persists_sidecar_descriptors(tmp_path, spark):
    """The round-10 combination matrix: SIDECAR ("u") descriptors must
    survive the checkpoint round trip exactly like inline ones — the
    checkpoint stores the descriptor (not the bitmap), and replay
    through the checkpoint resolves the same deletion_vector_*.bin."""
    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    table, adds1 = _toy_table(tmp_path, spark)
    import pyspark.sql.functions as F

    pos = (
        spark.read.parquet(os.path.join(table, "files_v0"))
        .select(
            F.col("_metadata.file_name").alias("fn"),
            F.col("_metadata.row_index").alias("ri"),
            "id",
        )
        .filter(F.col("id") == 1)
        .collect()
    )
    per_file = {}
    for r in pos:
        per_file.setdefault(r.fn, []).append(int(r.ri))
    hit_adds = [
        a for a in adds1 if os.path.basename(a["add"]["path"]) in per_file
    ]
    descs = DV.dv_sidecar_write(
        table,
        [per_file[os.path.basename(a["add"]["path"])] for a in hit_adds],
    )
    actions = []
    for a, d in zip(hit_adds, descs):
        actions.append(
            {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                        "dataChange": True}}
        )
        new_add = dict(a["add"])
        new_add["deletionVector"] = d
        actions.append({"add": new_add})
    D.write_commit(table, 1, actions)
    json_active = D.replay(table, 1)["_active"]
    D.write_checkpoint(table, 1)
    D.expire_commits_before_checkpoint(table)
    cp_active = D.replay(table, 1)["_active"]
    assert cp_active == json_active
    # the u-descriptor still resolves and the scan still filters
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {2}


# --- round 11: ADVICE fixes pinned ------------------------------------


def test_dv_scan_survives_special_char_table_dir(tmp_path, spark):
    """ADVICE r10: ``_metadata.file_path`` is a PERCENT-ENCODED URI,
    so a table_dir containing spaces/'+'/'%' used to miss every DV
    anti-join key and silently resurrect deleted rows. Pin the decode:
    stage a DV'd table under such a dir and assert the deletes hold."""
    from real_time_big_data_analytics_spark.sources import delta_dv as DV

    root = tmp_path / "dv dir +plus %41"
    root.mkdir()
    table = str(root / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    adds1 = D._write_version_files(spark, df1, table, "v0")
    meta = {
        "metaData": {
            "id": "toy",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df1.schema.json(),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    D.write_commit(table, 0, [D.PROTOCOL_ACTION, meta] + adds1)
    import pyspark.sql.functions as F

    pos = (
        spark.read.parquet(os.path.join(table, "files_v0"))
        .select(
            F.col("_metadata.file_name").alias("fn"),
            F.col("_metadata.row_index").alias("ri"),
            "id",
        )
        .filter(F.col("id") == 1)
        .collect()
    )
    per_file = {}
    for r in pos:
        per_file.setdefault(r.fn, []).append(int(r.ri))
    actions = []
    for a in adds1:
        fn = os.path.basename(a["add"]["path"])
        if fn not in per_file:
            continue
        actions.append(
            {"remove": {"path": a["add"]["path"], "deletionTimestamp": 0,
                        "dataChange": True}}
        )
        new_add = dict(a["add"])
        new_add["deletionVector"] = DV.dv_inline_descriptor(per_file[fn])
        actions.append({"add": new_add})
    D.write_commit(table, 1, actions)
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {2}


def test_id_mode_leaves_session_conf_untouched(tmp_path, spark):
    """ADVICE r10: id-mode reads used to flip
    ``spark.sql.parquet.fieldId.read.enabled`` session-wide and never
    restore it. Resolution now goes through each file's own footer, so
    the conf must be untouched before, during, and after collect —
    and heterogeneous physical names / a file missing an id still
    resolve (per-group scans, NULL for the absent id)."""
    from pyspark.sql.types import LongType, StructField, StructType

    key = "spark.sql.parquet.fieldId.read.enabled"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        table = str(tmp_path / "cmhet")
        w1 = StructType(
            [
                StructField("aaa", LongType(), True, {"parquet.field.id": 1}),
                StructField("bbb", LongType(), True, {"parquet.field.id": 2}),
            ]
        )
        w2 = StructType(
            [
                # different physical names, same ids, and id 2 ABSENT
                StructField("zzz", LongType(), True, {"parquet.field.id": 1}),
            ]
        )
        adds = D._write_version_files(
            spark, spark.createDataFrame([(1, 10), (2, 20)], w1), table, "v0"
        )
        adds += D._write_version_files(
            spark, spark.createDataFrame([(3,)], w2), table, "v1"
        )
        fields = [("id", "long"), ("score", "long")]
        D.write_commit(
            table,
            0,
            [D.PROTOCOL_ACTION, D._cm_meta("t", fields, mode="id")] + adds,
        )
        df = D.read_snapshot(spark, table)
        assert df.columns == ["id", "score"]
        assert {(r.id, r.score) for r in df.collect()} == {
            (1, 10), (2, 20), (3, None),
        }
        assert spark.conf.get(key) == "false"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- round 11: CHECK constraints + generated columns -------------------


def _constraints_table(tmp_path, spark, config=None, gen_meta=None):
    table = str(tmp_path / "ck")
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "v", "type": "double", "nullable": True, "metadata": {}},
        {
            "name": "dbl",
            "type": "long",
            "nullable": True,
            "metadata": gen_meta
            if gen_meta is not None
            else {"delta.generationExpression": "id * 2"},
        },
    ]
    meta = {
        "metaData": {
            "id": "ck",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": config
            if config is not None
            else {"delta.constraints.vpos": "v > 0"},
            "createdTime": 0,
        }
    }
    D.write_commit(
        table,
        0,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}, meta],
    )
    return table


def test_violating_append_leaves_log_and_files_untouched(tmp_path, spark):
    """VERDICT r10 ask #3 'done' bind: a violating append through
    append_with_constraints raises, commits NOTHING, and writes NO
    data files — the table byte-state is as before the attempt."""
    table = _constraints_table(tmp_path, spark)
    before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(table)
        for f in fs
    )
    df = spark.createDataFrame(
        [(1, 2.0), (2, -1.0), (3, -4.0)], "id bigint, v double"
    )
    with pytest.raises(D.CheckConstraintViolation) as ei:
        D.append_with_constraints(spark, table, df, "bad")
    assert ei.value.violations == {"CHECK vpos": 2}
    after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(table)
        for f in fs
    )
    assert after == before  # no commit json, no parquet, nothing
    assert D.log_versions(table) == [0]


def test_null_passes_check_and_clean_append_commits(tmp_path, spark):
    """SQL CHECK semantics: NULL is not FALSE, so a NULL v passes;
    the generated column materializes from its expression when the
    frame omits it and lands IN the data files."""
    table = _constraints_table(tmp_path, spark)
    df = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 4.0)], "id bigint, v double"
    )
    v = D.append_with_constraints(spark, table, df, "ok")
    assert v == 1
    got = {
        (r.id, r.v, r.dbl)
        for r in D.read_snapshot(spark, table).collect()
    }
    assert got == {(1, 2.0, 2), (2, None, 4), (3, 4.0, 6)}
    # the generated values are in the FILES, not synthesized at scan:
    raw = spark.read.parquet(os.path.join(table, "files_ok"))
    assert {r.dbl for r in raw.collect()} == {2, 4, 6}


def test_provided_generated_values_verified(tmp_path, spark):
    table = _constraints_table(tmp_path, spark)
    ok = spark.createDataFrame(
        [(1, 1.0, 2), (2, 1.0, 4)], "id bigint, v double, dbl bigint"
    )
    assert D.append_with_constraints(spark, table, ok, "ok") == 1
    bad = spark.createDataFrame(
        [(3, 1.0, 7)], "id bigint, v double, dbl bigint"
    )
    with pytest.raises(D.CheckConstraintViolation) as ei:
        D.append_with_constraints(spark, table, bad, "bad")
    assert ei.value.violations == {"generated column dbl": 1}
    assert D.log_versions(table) == [0, 1]


def test_restore_rolls_forward_and_preserves_history(tmp_path, spark):
    """RESTORE = a forward commit that re-creates the target's active
    set: the undone version stays time-travelable, restored rows serve
    through the ORIGINAL files (no data rewritten), and a remove-only
    diff (restoring past an append) works too."""
    table, adds1 = _toy_table(tmp_path, spark)  # v0: ids {1,2}
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    D.write_commit(table, 1, D._write_version_files(spark, df2, table, "v1"))
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {1, 2, 3}
    v = D.restore_to_version(table, 0)
    assert v == 2
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {1, 2}
    # history intact: the undone v1 still time-travels
    assert {r.id for r in D.read_snapshot(spark, table, 1).collect()} == {1, 2, 3}
    # active set is v0's exact files
    assert set(D.replay(table)["files"]) == set(D.replay(table, 0)["files"])
    # commitInfo carries the RESTORE operation
    actions = [
        json.loads(ln)
        for ln in open(D._commit_path(table, 2)).read().splitlines()
        if ln.strip()
    ]
    ci = [a for a in actions if "commitInfo" in a]
    assert ci and ci[0]["commitInfo"]["operation"] == "RESTORE"
    # restore forward again (to v1) — re-adds the removed file
    assert D.restore_to_version(table, 1) == 3
    assert {r.id for r in D.read_snapshot(spark, table).collect()} == {1, 2, 3}


def test_add_column_evolution_serves_nulls_from_old_files(tmp_path, spark):
    """ADD COLUMN is a metadata-only widening: files written before
    the column existed serve NULL for it under the latest snapshot
    (the reader scans with the CURRENT metadata schema, not the first
    file's inferred one), while time travel to v0 still reads the
    narrow shape."""
    table, adds1 = _toy_table(tmp_path, spark)  # v0: (id, s)
    wide = {
        "metaData": {
            "id": "toy",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "id", "type": "long", "nullable": True,
                         "metadata": {}},
                        {"name": "s", "type": "string", "nullable": True,
                         "metadata": {}},
                        {"name": "flag", "type": "long", "nullable": True,
                         "metadata": {}},
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    df2 = spark.createDataFrame(
        [(3, "c", 7)], "id bigint, s string, flag bigint"
    )
    D.write_commit(
        table, 1, [wide] + D._write_version_files(spark, df2, table, "v1")
    )
    head = D.read_snapshot(spark, table)
    assert head.columns == ["id", "s", "flag"]
    got = {(r.id, r.s, r.flag) for r in head.collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 7)}
    assert D.read_snapshot(spark, table, 0).columns == ["id", "s"]
