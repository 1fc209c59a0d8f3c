"""The one HNSW kernel (``similarity._hnsw_kernel``) and the per-shard
bodies built on it, exercised on pandas without Spark.

- Kernel properties on one shard of every SF: an append equals a full
  build, the edge-table search equals the builder's own search, an
  empty tombstone set changes nothing, and the scalar distance fallback
  (past ``HNSW_FULL_DOT_MAX``) equals the vectorized path.
- By-value shipping: every body, pickled with Spark's cloudpickle, runs
  in a fresh interpreter that cannot import the package and gives the
  same output as in-process.
- A source sweep: the algorithm's pieces appear once in similarity.py.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

from real_time_big_data_analytics_spark.operators import similarity

from tests.conftest import SF_SMOKE

# every harness SF next to the smoke one
TESTDATA = os.path.dirname(SF_SMOKE)
SFS = sorted(
    os.path.join(TESTDATA, d)
    for d in os.listdir(TESTDATA)
    if os.path.isfile(os.path.join(TESTDATA, d, "embeddings.parquet"))
)

M, EF_C = similarity.HNSW_M, similarity.HNSW_EF_CONSTRUCTION
K, EF = similarity.TOP_K, similarity.HNSW_EF_SEARCH


def _shard_and_queries(sf_dir: str):
    """Shard 1 of the corpus, rows shuffled (the bodies must sort), and
    the demo queries as the Spark side collects them."""
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb[emb.vec_id < similarity.N_QUERIES].itertuples()
    ]
    shard = emb[emb.vec_id % similarity.HNSW_SHARDS == 1]
    return shard.sample(frac=1.0, random_state=7).reset_index(drop=True), queries


def _build_edges(pdf: pd.DataFrame) -> pd.DataFrame:
    return similarity._hnsw_candidate_fn([], 0, (), M, EF_C, emit="edges")(pdf)


def _edge_set(edges: pd.DataFrame) -> set:
    return set(
        zip(
            edges["node_id"].astype(int),
            edges["layer"].astype(int),
            edges["neighbor_id"].astype(int),
        )
    )


def _pairs(df: pd.DataFrame) -> list:
    return list(zip(df["query_id"].astype(int), df["vec_id"].astype(int)))


@pytest.mark.parametrize("sf_dir", SFS)
def test_append_of_the_top_ids_equals_a_full_build(sf_dir):
    shard, _ = _shard_and_queries(sf_dir)
    ids = sorted(shard.vec_id)
    cut = ids[int(0.8 * len(ids))]
    base = shard[shard.vec_id < cut]
    flagged = shard.assign(is_new=shard.vec_id >= cut)
    updated = similarity._hnsw_insert_fn(M, EF_C)(flagged, _build_edges(base))
    full = _build_edges(shard)
    assert len(full) > 0 and flagged.is_new.sum() > 0
    assert _edge_set(updated) == _edge_set(full)


@pytest.mark.parametrize("sf_dir", SFS)
def test_edge_table_search_equals_the_builders_search(sf_dir):
    shard, queries = _shard_and_queries(sf_dir)
    built = similarity._hnsw_candidate_fn(queries, K, (EF,), M, EF_C)(shard)
    searched = similarity._hnsw_search_edges_fn(queries, K, EF, M)(
        shard, _build_edges(shard)
    )
    assert len(built) > 0
    assert _pairs(searched) == _pairs(built)


@pytest.mark.parametrize("sf_dir", SFS)
def test_empty_tombstone_set_changes_nothing(sf_dir):
    shard, queries = _shard_and_queries(sf_dir)
    edges = _build_edges(shard)
    plain = similarity._hnsw_search_edges_fn(queries, K, EF, M)(shard, edges)
    empty = similarity._hnsw_search_edges_fn(queries, K, EF, M, frozenset())(
        shard, edges
    )
    pd.testing.assert_frame_equal(plain, empty)


@pytest.mark.parametrize("sf_dir", SFS)
def test_scalar_distance_fallback_equals_vectorized(sf_dir, monkeypatch):
    shard, queries = _shard_and_queries(sf_dir)
    sweep = similarity.HNSW_EF_SWEEP

    def run():
        edges = _build_edges(shard)
        cands = similarity._hnsw_candidate_fn(queries, K, sweep, M, EF_C)(shard)
        return edges, cands

    vec_edges, vec_cands = run()
    monkeypatch.setattr(similarity, "HNSW_FULL_DOT_MAX", 0)
    scalar_edges, scalar_cands = run()
    pd.testing.assert_frame_equal(scalar_edges, vec_edges)
    pd.testing.assert_frame_equal(scalar_cands, vec_cands)


PKG = similarity.__name__.split(".")[0]
_RUNNER = f"""
import importlib.util, pickle, sys
with open("bodies.pkl", "rb") as f:
    bodies = pickle.load(f)
out = {{name: fn(*args) for name, (fn, args) in bodies.items()}}
imported = sorted(m for m in sys.modules if m.split(".")[0] == "{PKG}")
importable = importlib.util.find_spec("{PKG}") is not None
with open("out.pkl", "wb") as f:
    pickle.dump({{"out": out, "imported": imported, "importable": importable}}, f)
"""


def test_bodies_ship_by_value(tmp_path):
    """Every HNSW body runs in an interpreter that cannot import the
    package (foreign cwd, no PYTHONPATH) — the executor condition under
    a driver running from elsewhere — and matches its in-process output."""
    from pyspark import cloudpickle

    shard, queries = _shard_and_queries(SF_SMOKE)
    edges = _build_edges(shard)
    tombstones = frozenset(int(v) for v in shard.vec_id if v % 34 == 3)
    appended = shard.assign(is_new=shard.vec_id % 10 == 0)
    base_edges = _build_edges(shard[shard.vec_id % 10 != 0])
    updated = similarity._hnsw_insert_fn(M, EF_C)(appended, base_edges)
    deleted = shard.assign(is_deleted=shard.vec_id % 17 == 3)
    sweep = similarity.HNSW_EF_SWEEP
    bodies = {
        "build_edges": (
            similarity._hnsw_candidate_fn([], 0, (), M, EF_C, emit="edges"),
            (shard,),
        ),
        "build_candidates": (
            similarity._hnsw_candidate_fn(queries, K, sweep, M, EF_C),
            (shard,),
        ),
        "insert": (similarity._hnsw_insert_fn(M, EF_C), (appended, base_edges)),
        "search": (
            similarity._hnsw_search_edges_fn(queries, K, EF, M),
            (shard, edges),
        ),
        "search_tombstones": (
            similarity._hnsw_search_edges_fn(queries, K, EF, M, tombstones),
            (shard, edges),
        ),
        "stats": (similarity._hnsw_graph_stats_fn(M), (appended, updated)),
        "compact": (similarity._hnsw_compact_fn(M), (deleted, edges)),
    }
    (tmp_path / "bodies.pkl").write_bytes(cloudpickle.dumps(bodies))
    (tmp_path / "runner.py").write_text(_RUNNER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "runner.py"], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(tmp_path / "out.pkl", "rb") as f:
        got = pickle.load(f)
    assert not got["importable"]  # the trap is really set
    assert got["imported"] == []
    for name, (fn, args) in bodies.items():
        pd.testing.assert_frame_equal(got["out"][name], fn(*args), obj=name)
    assert len(got["out"]["search_tombstones"]) > 0
    assert not set(got["out"]["search_tombstones"]["vec_id"]) & tombstones


def test_one_copy_of_the_algorithm():
    src = open(similarity.__file__).read()
    assert src.count("def search_layer") == 1
    assert src.count("2654435761") == 1  # the level draw
    assert src.count("HNSW_FULL_DOT_MAX =") == 1
    assert src.count("FULL_DOT_MAX = ") == 1  # no local copies
    assert "_hnsw_search_excluding_fn" not in src
