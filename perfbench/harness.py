"""Shared machinery of one run: session, tracing hooks, oracle checks,
statistics and the per-layer summary.

Everything the engine is asked to do goes through its public functions
(``session.get_spark``, ``Query.fn``, ``sources.*``, ``operators.ml``,
``streaming.runner``). The traced run wraps a few of them from here
(see :meth:`Run.instrument`); the untraced run wraps nothing.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import math
import os
import pstats
import statistics
import time

import datagen
import sparklog
from tracing import Tracer

PACKAGE = "real_time_big_data_analytics_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Span names, one per layer boundary the benchmark calls into.
SESSION = "session.get_spark"
BUILD = "registry.build"
PLAN = "spark.plan"
EXEC = "spark.exec"
LOAD = "sources.tables.load_table"
CHECKPOINT = "operators.checkpoint"
COLLECT = "operators.collect"
TRAIN = "operators.ml.train"
BATCH = "streaming.batch"
UDF_MODULES = ("multimodal", "similarity", "text", "graph", "ml")


def host_record() -> dict:
    """The host fit the launcher derived, and the library versions."""
    import duckdb
    import pyarrow
    import pyspark

    return {
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "duckdb_memory_limit": os.environ.get("PERFBENCH_DUCKDB_MEMORY"),
        "spark_local_dirs": "per-run",
        "tmpdir": "per-run",
        "mem_total_mb": os.environ.get("PERFBENCH_MEM_TOTAL_MB"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def load_check_module():
    """``tools/check.py`` of the engine: its ``canon`` and ``dtype_parity``
    are the oracle comparison the correctness gate uses."""
    spec = importlib.util.spec_from_file_location("rtba_check", os.path.join(REPO, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (never below the median), with the sample count."""
    n = len(values)
    q = max(0.5, 1.0 - 10.0 / n)
    return {
        "p50": quantile(values, 0.5),
        "tail": quantile(values, q),
        "tail_percentile": round(100 * q, 2),
        "samples": n,
    }


class Run:
    def __init__(self, *, workload, seed, seconds, trace, run_root, t_process, corrupt=None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_root = run_root
        self.t_process = t_process
        self.corrupt = corrupt
        self.data_dir = os.path.join(run_root, "data")
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.measure_start = self.measure_end = None
        self.measure_wall = (0.0, 0.0)
        self.profile_dir = os.path.join(run_root, "udf_profile")
        self.setup_phases: dict[str, float] = {}

    # ---------------------------------------------------------- set-up

    @contextlib.contextmanager
    def setup_phase(self, name: str):
        """Time one step of set-up (always on: one clock read per step)."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.setup_phases[name] = self.setup_phases.get(name, 0.0) + time.monotonic() - t0

    def generate(self, sf: float) -> dict[str, int]:
        with self.setup_phase("generate_inputs"):
            return datagen.generate(self.data_dir, sf, self.seed)

    def start_session(self):
        from real_time_big_data_analytics_spark.compat import enable_protobuf_shim

        enable_protobuf_shim()
        from real_time_big_data_analytics_spark import session

        with self.tracer.span(SESSION, op="setup"), self.setup_phase("session_start"):
            t0 = time.monotonic()
            self.spark = session.get_spark("perfbench")
            self.session_start_s = time.monotonic() - t0
        if self.trace:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        return self.spark

    def instrument(self) -> None:
        """Traced run only: spans around the engine's public functions.
        Call after every engine module is imported."""
        if not self.trace:
            return
        from pyspark.sql.classic.dataframe import DataFrame

        from real_time_big_data_analytics_spark.operators import ml
        from real_time_big_data_analytics_spark.sources import pyds, tables

        t = self.tracer
        t.use_job_groups(self.spark.sparkContext)
        t.wrap_function(tables, "load_table", LOAD, PACKAGE)
        t.wrap_function(ml, "train_decision_tree", TRAIN, PACKAGE)
        for fn in ("stage_events_on_wire", "stage_events_in_es", "index_df_in_es"):
            t.wrap_function(pyds, fn, f"sources.pyds.{fn}", PACKAGE)
        t.wrap_method(DataFrame, "localCheckpoint", CHECKPOINT, BUILD)
        t.wrap_method(DataFrame, "collect", COLLECT, BUILD, count=len)
        t.wrap_method(DataFrame, "toPandas", COLLECT, BUILD, count=len)

    def begin_measure(self) -> None:
        if self.trace:
            self.spark.profile.clear()
        self.measure_start = time.monotonic()
        self.measure_wall = (time.time(), 0.0)

    def end_measure(self) -> None:
        self.measure_end = time.monotonic()
        self.measure_wall = (self.measure_wall[0], time.time())

    @property
    def setup_s(self) -> float:
        return self.measure_start - self.t_process

    # --------------------------------------------------------- checking

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {detail}"[:500])

    def take_corruption(self, name: str) -> bool:
        """True once for the operation the benchmark's own test corrupts."""
        if self.corrupt == name:
            self.corrupt = None
            return True
        return False

    # ---------------------------------------------------------- summary

    def udf_profile(self) -> dict[str, float]:
        """Python UDF time since the last clear, keyed by the operators
        module whose function the UDF entered first (its source file)."""
        out = {f"operators.{m}.udf_s": 0.0 for m in UDF_MODULES}
        if not self.trace:
            return out
        for path in glob.glob(os.path.join(self.profile_dir, "*.pstats")):
            os.remove(path)
        self.spark.profile.dump(self.profile_dir, type="perf")
        for path in glob.glob(os.path.join(self.profile_dir, "*.pstats")):
            st = pstats.Stats(path)
            owner, best = None, -1.0
            # the profiler records file names without their directory
            for (fname, _line, _fn), (_cc, _nc, _tt, ct, _callers) in st.stats.items():
                mod = os.path.basename(fname).removesuffix(".py")
                if mod in UDF_MODULES and ct > best:
                    owner, best = mod, ct
            if owner is not None:
                out[f"operators.{owner}.udf_s"] += st.total_tt
        return out

    def spans_in_measure(self, name: str):
        return [
            s for s in self.tracer.spans
            if s.name == name and self.measure_start <= s.start <= self.measure_end
        ]

    def jobs_under(self, log, name: str) -> list:
        """Jobs launched inside a measured-phase span called ``name``,
        directly or from a span nested in it."""
        by_id = {s.sid: s for s in self.tracer.spans}
        wanted = set()
        for s in self.tracer.spans:
            cur = s
            while cur is not None:
                if cur.name == name:
                    if self.measure_start <= cur.start <= self.measure_end:
                        wanted.add(s.sid)
                    break
                cur = by_id.get(cur.parent)
        groups = {g for g, sid in self.tracer.job_groups.items() if sid in wanted}
        return [j for j in log.jobs.values() if j.group in groups]

    def measured_jobs(self, log) -> list:
        lo, hi = (int(1e3 * x) for x in self.measure_wall)
        return [j for j in log.jobs.values() if lo <= j.start_ms <= hi]

    def common_layers(self, log) -> dict[str, float]:
        """Per-layer metrics every workload reports (idle layers read 0)."""
        m: dict[str, float] = {"session.start_s": self.session_start_s}
        builds = self.spans_in_measure(BUILD)
        loads = self.spans_in_measure(LOAD)
        ckpts = self.spans_in_measure(CHECKPOINT)
        colls = self.spans_in_measure(COLLECT)
        m["registry.build_s"] = sum(s.duration for s in builds)
        m["sources.tables.load_calls"] = len(loads)
        m["sources.tables.load_s"] = sum(s.duration for s in loads)
        m["operators.checkpoint_calls"] = len(ckpts)
        m["operators.checkpoint_s"] = sum(s.duration for s in ckpts)
        m["operators.collect_calls"] = len(colls)
        m["operators.collect_rows"] = sum(s.attrs.get("rows", 0) for s in colls)
        m["operators.collect_s"] = sum(s.duration for s in colls)
        # model fitting is set-up work in stream_score, so count every call
        m["operators.ml.train_s"] = sum(s.duration for s in self.tracer.spans if s.name == TRAIN)
        m["spark.plan_s"] = sum(s.duration for s in self.spans_in_measure(PLAN))
        if log is not None:
            m["registry.build_jobs"] = len(self.jobs_under(log, BUILD))
            m["sources.tables.load_jobs"] = len(self.jobs_under(log, LOAD))
            m.update(sparklog.runtime_metrics(log, self.measured_jobs(log)))
        return m

    def finish(self):
        """Stop the session; for a traced run, read its event log back."""
        self.close()
        if not self.trace:
            return None
        return sparklog.read_event_log(os.environ.get("PERFBENCH_EVENT_LOG_DIR", ""))

    def close(self) -> None:
        self.tracer.restore()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def median(xs):
    return statistics.median(xs) if xs else 0.0
