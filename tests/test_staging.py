"""sources/staging.py: the one module that makes temp dirs.

Unit checks of ``scratch_dir``/``staged`` (build once, atomic publish,
partial-dir discard, concurrent builds, fork safety), a source sweep
that no other package module makes or publishes temp dirs itself, and
an end-to-end check that a process running the stagers leaves no
``rtba_*`` entry behind in its temp dir.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys
import threading

import pytest

from real_time_big_data_analytics_spark.sources import staging

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "real_time_big_data_analytics_spark"


@pytest.fixture
def root(monkeypatch, tmp_path):
    monkeypatch.setattr(staging, "_ROOT", str(tmp_path))
    return tmp_path


@pytest.fixture
def src(tmp_path_factory):
    path = tmp_path_factory.mktemp("src") / "table.parquet"
    path.write_bytes(b"v1")
    return path


def _leftover_stages(root) -> list[str]:
    return [p.name for p in root.iterdir() if ".staging-" in p.name]


def test_scratch_dirs_are_fresh_and_under_the_root(root):
    a, b = staging.scratch_dir("rtba_x_"), staging.scratch_dir("rtba_x_")
    assert a != b
    for d in (a, b):
        assert os.path.dirname(d) == str(root)
        assert os.path.basename(d).startswith("rtba_x_")
        assert os.listdir(d) == []


def test_staged_builds_once_and_publishes_with_marker(root, src):
    calls = []

    def build(stage):
        calls.append(stage)
        os.makedirs(stage)
        (pathlib.Path(stage) / "data").write_text("x")

    first = staging.staged("k", str(src), build)
    assert staging.staged("k", str(src), build) == first
    assert len(calls) == 1
    assert os.path.dirname(first) == str(root)
    assert os.path.basename(first).startswith("rtba_k_")
    assert sorted(os.listdir(first)) == ["_staging_complete", "data"]
    assert not _leftover_stages(root)


def test_staged_key_covers_kind_and_source_version(root, src):
    def build(stage):
        os.makedirs(stage)

    a = staging.staged("k", str(src), build)
    assert staging.staged("k2", str(src), build) != a
    src.write_bytes(b"v22")  # new size (and mtime): a new version
    assert staging.staged("k", str(src), build) != a


def test_staged_discards_a_dir_without_marker(root, src):
    def build(stage):
        os.makedirs(stage)
        (pathlib.Path(stage) / "data").write_text("good")

    final = pathlib.Path(staging.staged("k", str(src), build))
    (final / "_staging_complete").unlink()
    (final / "data").write_text("partial")
    assert staging.staged("k", str(src), build) == str(final)
    assert (final / "data").read_text() == "good"
    assert (final / "_staging_complete").exists()


def test_failed_build_leaves_nothing_behind(root, src):
    def build(stage):
        os.makedirs(stage)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        staging.staged("k", str(src), build)
    assert list(root.iterdir()) == []


def test_concurrent_builds_agree_on_one_published_dir(root, src):
    """More threads than cores, all building before any renames: one
    publishes, the rest discard their copies and return the winner's."""
    n = 2 * (os.cpu_count() or 4)
    barrier = threading.Barrier(n)

    def build(stage):
        os.makedirs(stage)
        (pathlib.Path(stage) / "data").write_text("x")
        barrier.wait(timeout=30)

    out, errors = [], []

    def run():
        try:
            out.append(staging.staged("k", str(src), build))
        except Exception as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(out) == n and len(set(out)) == 1
    assert sorted(os.listdir(out[0])) == ["_staging_complete", "data"]
    assert not _leftover_stages(root)


def test_root_removed_at_exit_only_by_its_creator(tmp_path):
    """A forked child that exits normally runs the parent's atexit
    hooks; the root must survive it and go when the creator exits."""
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from real_time_big_data_analytics_spark.sources import staging\n"
        "d = staging.scratch_dir('rtba_t_')\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "print(os.path.isdir(d))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=60,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "True"
    assert list(tmp_path.iterdir()) == []


# -- no other module makes, publishes or memoizes temp dirs -------------

_BANNED = re.compile(
    r"tempfile\.mkdtemp|tempfile\.gettempdir|_staging_complete|\.staging-"
    r"|_PROC_STAGE_TOKEN|_session_tmpdir"
    r"|_(PAGE_INDEX|BLOOM|DELTA|AVRO|GROUP_RESUME|HNSW_INDEX|HNSW_APPEND|HNSW_DELETE)_DIRS\b"
)


def test_only_staging_module_makes_temp_dirs():
    files = [REPO / "__spark_entry__.py", *PKG.rglob("*.py")]
    hits = [
        f"{f.relative_to(REPO)}:{n}: {line.strip()}"
        for f in files
        if f != PKG / "sources" / "staging.py"
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if _BANNED.search(line)
    ]
    assert not hits, "\n".join(hits)


# -- end to end: a process running the stagers leaves nothing behind ---

_LEAK_SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from real_time_big_data_analytics_spark.session import get_spark
from real_time_big_data_analytics_spark.operators import incremental, similarity
from real_time_big_data_analytics_spark.sources import delta_log, parquet_footer, pyds
from real_time_big_data_analytics_spark.streaming import queries as sq

sf = {sf!r}
spark = get_spark("staging-leak-check", cpus="2")
made = [
    delta_log.stage_events_as_delta(spark, sf),
    similarity.hnsw_index_write(spark, sf),
    parquet_footer.stage_events_page_indexed(spark, sf),
    pyds.stage_events_as_avro(spark, sf),
]
incremental.gdpr_forget_audit(spark, sf).collect()
sq.stream_cdc_materialize(spark, sf).collect()
sq.stream_windowed_analytics(spark, sf).collect()  # a runner replay
root = os.path.dirname(made[0])
print(json.dumps({{"made": made, "root": root, "entries": sorted(os.listdir(root))}}))
spark.stop()
"""


def test_stagers_leave_no_rtba_dirs_after_exit(tmp_path):
    from tests.conftest import SF_SMOKE

    script = _LEAK_SCRIPT.format(repo=str(REPO), sf=SF_SMOKE)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEMORY="1g")
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        timeout=900,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])
    # the run really staged under this TMPDIR, one root for everything
    assert os.path.dirname(report["root"]) == str(tmp_path)
    assert all(os.path.dirname(d) == report["root"] for d in report["made"])
    for prefix in ("rtba_gdpr_", "rtba_cdc_src_", "rtba_cdc_serve_", "rtba_stream_src_"):
        assert any(e.startswith(prefix) for e in report["entries"]), prefix
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("rtba_"))
    assert left == []
