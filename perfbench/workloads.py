"""The benchmark's workloads.

``query_mix`` runs registered queries (``Query.fn`` then ``toPandas``) in
a seeded order, closed loop with one client, and checks every timed
result against the DuckDB oracle answer computed once in set-up.
``stream_score`` runs the paper's pipeline — Kafka wire source,
``from_json``, broadcast join to the per-user features, decision tree,
verdict, index sink — first draining fixed backlogs (closed loop), then
at a fixed offered rate (open loop), and checks that every event gets
exactly one verdict, the one batch scoring gives its user.

Each workload function returns ``(result, report)``: ``result`` is the
JSON object the benchmark prints, ``report`` the run's full record.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import harness
from harness import BUILD, EXEC, PLAN, Run

# Short, JVM-bound relational, window and TPC-H queries, where fixed
# per-query cost (table loads, planning) dominates, then three whose
# build phase (eager localCheckpoint/collect) or Python workers dominate.
# q9_product_profit and wf_sessionize_events are left out: on generated
# inputs their answers differ from the oracle on some seeds (a half-cent
# rounding of a double sum; whole-second against fractional session
# gaps), which a run would count as failures that say nothing of speed.
QUERY_MIX = (
    "flagship_windowed_analytics", "q1_pricing_summary", "q3_top_orders_by_revenue",
    "q6_forecast_revenue", "q13_customer_distribution", "q18_large_volume_orders",
    "q21_waiting_suppliers", "j2_revenue_by_nation_region", "pivot_event_counts",
    "wf_funnel_counts", "asof_purchase_attribution", "cdc_upsert_state",
    "l6_training_mix_v2", "graph_trade_pagerank", "l5_png_pixel_decode_stats",
)
QUERY_SF = 0.01
WARMUP_THREADS = 3
# One pass of the mix per this many measured seconds (at least one). A
# pass takes 8-13 s on 4 cores, so a fixed pass count, rather than "until
# the time is up", keeps the work of a run the same on a slow host.
QUERY_PASS_S = 10.0

# stream_score. The open-loop rate is fixed here, far below the drain
# rate (14,000-18,000 events/s on 4 cores), so latency is set by the
# micro-batch cycle rather than by a growing queue. The warm-up backlog
# is as large as a drain round so the drain rounds run on a warm JVM.
STREAM_SF = 0.01
OFFERED_EVENTS_PER_S = 1000
TICK_S = 0.05
DRAIN_EVENTS = 20000
DRAIN_ROUNDS = 3
WARMUP_EVENTS = 20000
RECORDS_PER_WIRE_BATCH = 500
FLUSH_TIMEOUT_S = 60.0

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

# Per-layer metrics the printed result carries on every workload: times
# that every workload spends, and counts (which read 0 where a layer is idle).
PRINTED_LAYERS = (
    "session.start_s", "spark.plan_s", "spark.exec_s", "spark.task_busy_s",
    "spark.task_cpu_s", "spark.scheduler_wait_s", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.task_skew", "spark.failed_tasks",
    "registry.build_jobs", "sources.tables.load_calls", "sources.tables.load_jobs",
    "operators.checkpoint_calls", "operators.collect_calls", "operators.collect_rows",
    "operators.ml.scored_rows", "streaming.batches", "streaming.backlog_max",
    "loadgen.offered_events",
)
# Every per-layer metric the worker reports, in layer order.
ALL_LAYERS = (
    "session.start_s",
    "registry.build_s", "registry.build_jobs",
    "sources.tables.load_calls", "sources.tables.load_s", "sources.tables.load_jobs",
    "operators.checkpoint_calls", "operators.checkpoint_s",
    "operators.collect_calls", "operators.collect_rows", "operators.collect_s",
    "operators.multimodal.udf_s", "operators.similarity.udf_s", "operators.text.udf_s",
    "operators.graph.udf_s", "operators.ml.udf_s",
    "operators.ml.train_s", "operators.ml.scored_rows",
    "spark.plan_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_busy_s", "spark.task_cpu_s", "spark.scheduler_wait_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.task_skew", "spark.failed_tasks",
    "streaming.batches", "streaming.batch_rows_p50", "streaming.add_batch_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.get_batch_ms_p50",
    "streaming.query_planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.backlog_max",
    "sources.pyds.kafka_produce_s", "sources.pyds.kafka_fetch_s",
    "sources.pyds.es_index_s", "sources.pyds.es_scroll_s",
    "sources.pyds.records_read_per_written",
    "sources.kafka_wire.log_bytes", "sources.kafka_wire.decode_mb_per_s",
    "sources.snappy_codec.compress_mb_per_s", "sources.snappy_codec.decompress_mb_per_s",
    "loadgen.late_s_max", "loadgen.offered_events",
)
# Added by run.py, which owns the temp root and samples memory.
LAUNCHER_LAYERS = {"host.tmp_dirs_left": "count", "peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_s", "_s_max")):
        return "s"
    if name.endswith(("task_skew", "records_read_per_written")):
        return "ratio"
    return "count"


def finish(run: Run, e2e: dict[str, float], layers: dict[str, float], report: dict,
           named: dict[str, tuple[float, str]]):
    """Assemble the printed result and the report of one run. ``named``
    holds the workload's end-to-end figures under their workload-specific
    names (throughput_qps, events_per_s, verdict_p50_s, ...)."""
    e2e_u = {k: (float(v), E2E_UNITS[k]) for k, v in e2e.items()}
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    named = dict(named, setup_s=(run.setup_s, "s"), error_rate=(error_rate, "ratio"))
    full = {k: float(layers.get(k, 0.0)) for k in ALL_LAYERS}
    printed = {k: (full[k], layer_unit(k)) for k in PRINTED_LAYERS}
    report.update({
        "setup_phases_s": run.setup_phases,
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": error_rate,
        "failures": run.failures,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e_u.items()},
        "named_metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in named.items()},
    })
    if run.trace:
        report["per_layer"] = {k: {"value": v, "unit": layer_unit(k)} for k, v in full.items()}
        report["spans"] = run.tracer.to_records(run.t_process)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (printed if run.trace else e2e_u).items()},
    }
    return result, report


# ------------------------------------------------------------------ queries


class Oracle:
    """DuckDB answers over the generated tables, computed once in set-up."""

    def __init__(self, check, data_dir: str, queries, names):
        import duckdb

        self.check = check
        con = duckdb.connect()
        con.execute(f"SET memory_limit='{os.environ.get('PERFBENCH_DUCKDB_MEMORY', '2GB')}'")
        con.execute(f"SET threads={int(os.environ.get('SPARK_GRAFT_CPUS', '4'))}")
        con.execute(f"SET temp_directory='{os.path.join(os.environ.get('TMPDIR', data_dir), 'duckdb_spill')}'")
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self.answers = {}
        for name in names:
            sql = queries[name].sql
            if sql is None:
                raise ValueError(f"{name} has no oracle query")
            odf = con.execute(sql).df()
            self.answers[name] = (odf, check.canon(odf))
        con.close()

    def problem(self, name: str, pdf) -> str:
        """'' when ``pdf`` equals the oracle answer, else what differs."""
        odf, canon = self.answers[name]
        if sorted(pdf.columns) != sorted(odf.columns):
            return f"columns {sorted(pdf.columns)} != {sorted(odf.columns)}"
        if len(pdf) != len(odf):
            return f"rows {len(pdf)} != {len(odf)}"
        dtype = self.check.dtype_parity(pdf, odf)
        if dtype:
            return dtype[0]
        if not self.check.canon(pdf).equals(canon):
            return "values differ"
        return ""


def _corrupt(pdf):
    """Change one cell, the way a wrong answer would."""
    pdf = pdf.copy()
    col = sorted(pdf.columns)[0]
    pdf[col] = pdf[col].astype(str) + "#"
    return pdf


def _run_query(run: Run, q, name: str, op: str):
    """(latency_s, pandas result). Untraced: one timer around ``Query.fn``
    and ``toPandas``. Traced: spans for build, planning and execution."""
    spark, t = run.spark, run.tracer
    if not run.trace:
        t0 = time.monotonic()
        pdf = q.fn(spark, run.data_dir).toPandas()
        return time.monotonic() - t0, pdf
    with t.span("query", op=op) as root:
        with t.span(BUILD):
            df = q.fn(spark, run.data_dir)
        with t.span(PLAN):
            df._jdf.queryExecution().executedPlan()
        with t.span(EXEC):
            pdf = df.toPandas()
    root.attrs["query"] = name
    return root.duration, pdf


BUILD_SPANS = (BUILD, harness.LOAD, harness.CHECKPOINT, harness.COLLECT)


def _query_records(run: Run, log, udf_by_op: dict[str, dict]) -> list[dict]:
    """One record per timed query: build/plan/exec/Python self time,
    jobs, shuffle bytes, rows collected and the dominant layer."""
    import sparklog

    selfs = run.tracer.self_times()
    by_op: dict[str, list] = {}
    for s in run.tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    groups_by_sid = {sid: g for g, sid in run.tracer.job_groups.items()}
    out = []
    for op, udf in udf_by_op.items():
        spans = by_op.get(op, [])
        root = next(s for s in spans if s.name == "query")
        total = {}
        for s in spans:
            total[s.name] = total.get(s.name, 0.0) + selfs[s.sid]
        py_s = sum(udf.values())
        layers = {
            "registry.build": total.get(BUILD, 0.0),
            "sources.tables": total.get(harness.LOAD, 0.0),
            "operators.checkpoint": total.get(harness.CHECKPOINT, 0.0),
            "operators.collect": total.get(harness.COLLECT, 0.0),
            "spark.plan": total.get(PLAN, 0.0),
            "spark.exec": total.get(EXEC, 0.0),
        }
        udf_top = max(udf, key=udf.get)
        if udf[udf_top] > 0.5 * layers["spark.exec"]:
            layers[udf_top.removesuffix(".udf_s") + " (python)"] = udf[udf_top]
        rec = {
            "op": op,
            "query": root.attrs.get("query"),
            "latency_s": root.duration,
            "build_s": sum(s.duration for s in spans if s.name == BUILD),
            "build_self_s": layers["registry.build"],
            "plan_s": layers["spark.plan"],
            "exec_s": layers["spark.exec"],
            "load_s": layers["sources.tables"],
            "checkpoint_s": layers["operators.checkpoint"],
            "collect_s": layers["operators.collect"],
            "python_udf_s": py_s,
            "rows_collected": sum(s.attrs.get("rows", 0) for s in spans if s.name == harness.COLLECT),
            "dominant_layer": max(layers, key=layers.get),
        }
        if log is not None:
            groups = {groups_by_sid[s.sid] for s in spans if s.sid in groups_by_sid}
            build = {groups_by_sid.get(s.sid) for s in spans if s.name in BUILD_SPANS}
            rt = sparklog.runtime_metrics(log, [j for j in log.jobs.values() if j.group in groups])
            rec.update({
                "jobs": rt["spark.jobs"],
                "build_jobs": sum(1 for j in log.jobs.values() if j.group in build),
                "shuffle_read_bytes": rt["spark.shuffle_read_bytes"],
                "shuffle_write_bytes": rt["spark.shuffle_write_bytes"],
            })
        out.append(rec)
    return out


def query_workload(names: tuple[str, ...], default_sf: float):
    def run_queries(run: Run, scale: float | None = None):
        sf = scale or default_sf
        rows = run.generate(sf)
        spark = run.start_session()
        with run.setup_phase("load_registry"):
            check = harness.load_check_module()  # imports the registry
            from real_time_big_data_analytics_spark.registry import all_queries

            queries = all_queries()
            run.instrument()
        with run.setup_phase("oracle_answers"):
            oracle = Oracle(check, run.data_dir, queries, names)
        # One untimed pass of every query, a few at a time: the first run of
        # a query pays JIT, code generation and Python worker start-up.
        with run.setup_phase("warmup_pass"), ThreadPoolExecutor(WARMUP_THREADS) as pool:
            pdfs = pool.map(lambda name: queries[name].fn(spark, run.data_dir).toPandas(), names)
            warmup = {name: oracle.problem(name, pdf) or "ok" for name, pdf in zip(names, pdfs)}

        run.begin_measure()
        rng = random.Random(run.seed)
        latencies: list[float] = []
        udf_by_op: dict[str, dict] = {}
        per_query: dict[str, list[float]] = {}
        completed = 0
        passes = max(1, int(run.seconds // QUERY_PASS_S))
        for n in range(1, passes + 1):
            order = list(names)
            rng.shuffle(order)
            for name in order:
                op = f"{name}#{n}"
                try:
                    latency, pdf = _run_query(run, queries[name], name, op)
                except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                    run.check(name, False, f"{type(e).__name__}: {e}")
                    continue
                if run.trace:
                    udf_by_op[op] = run.udf_profile()
                    spark.profile.clear()
                completed += 1
                latencies.append(latency)
                per_query.setdefault(name, []).append(latency)
                if run.take_corruption(name):
                    pdf = _corrupt(pdf)
                problem = oracle.problem(name, pdf)
                run.check(name, not problem, problem)
        run.end_measure()
        wall = run.measure_end - run.measure_start

        log = run.finish()
        lat = harness.latency_summary(latencies)
        e2e = {
            "setup_s": run.setup_s,
            "throughput_per_s": completed / wall,
            "latency_p50_s": lat["p50"],
            "latency_tail_s": lat["tail"],
        }
        layers = run.common_layers(log)
        for rec in udf_by_op.values():
            for k, v in rec.items():
                layers[k] = layers.get(k, 0.0) + v
        report = {
            "scale_factor": sf,
            "table_rows": rows,
            "queries": list(names),
            "passes": passes,
            "measured_wall_s": wall,
            "latency": lat,
            "per_query_latency_s": per_query,
            "warmup_check": warmup,
        }
        if run.trace:
            report["query_records"] = _query_records(run, log, udf_by_op)
        named = {
            "throughput_qps": (e2e["throughput_per_s"], "1/s"),
            "latency_p50_s": (lat["p50"], "s"),
            "latency_tail_s": (lat["tail"], "s"),
        }
        return finish(run, e2e, layers, report, named)

    return run_queries


# ------------------------------------------------------------------- stream


def _event_values(table) -> list[tuple[int, int, bytes, bytes]]:
    """(event_id, user_id, key, JSON value) in the producer's shape: the
    same JSON fields ``sources.pyds`` puts on the wire."""
    cols = table.to_pydict()
    out = []
    for eid, ts, uid, et, val, props in zip(
        cols["event_id"], cols["ts"], cols["user_id"], cols["event_type"], cols["value"], cols["props"]
    ):
        doc = json.dumps({
            "event_id": eid, "ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"), "user_id": uid,
            "event_type": et, "value": val, "props": props,
        }, separators=(",", ":"))
        out.append((eid, uid, str(uid).encode(), doc.encode()))
    return out


class Producer:
    """Pre-encoded RecordBatches sent to the MiniBroker over one socket."""

    CODECS = ("snappy", "gzip", "none")

    def __init__(self, kw, addr: str, topic: str, nparts: int):
        import socket

        self.kw, self.topic, self.nparts = kw, topic, nparts
        host, port = addr.rsplit(":", 1)
        self.sock = socket.create_connection((host, int(port)), timeout=60)
        self.corr = 0
        self.nbatches = 0

    def encode(self, events) -> list[tuple[int, bytes, int]]:
        """[(partition, batch bytes, n records)] for ``events``."""
        kw = self.kw
        codec = {"none": kw.CODEC_NONE, "gzip": kw.CODEC_GZIP, "snappy": kw.CODEC_SNAPPY}
        by_part: dict[int, list] = {}
        for _eid, uid, key, value in events:
            by_part.setdefault(uid % self.nparts, []).append((key, value))
        out = []
        for p, recs in sorted(by_part.items()):
            for i in range(0, len(recs), RECORDS_PER_WIRE_BATCH):
                chunk = recs[i : i + RECORDS_PER_WIRE_BATCH]
                name = self.CODECS[self.nbatches % len(self.CODECS)]
                self.nbatches += 1
                out.append((p, kw.encode_record_batch(chunk, codec=codec[name]), len(chunk)))
        return out

    def send(self, batches) -> None:
        kw = self.kw
        for p, batch, _n in batches:
            self.corr += 1
            resp = kw.call(self.sock, kw.frame_request(
                kw.API_PRODUCE, 3, self.corr, kw.produce_request_v3(self.topic, p, batch)))
            err, _ = kw.parse_produce_response(resp)
            if err != 0:
                raise IOError(f"produce refused: error {err}")

    def close(self) -> None:
        self.sock.close()


class Progress:
    """Streaming progress, through a benchmark-side StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.rows = 0
        self.batches: list[dict] = []
        self.cond = threading.Condition()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.cond:
                    outer.rows += p.numInputRows
                    outer.batches.append({
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    })
                    outer.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def wait_rows(self, target: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        with self.cond:
            while self.rows < target:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self.cond.wait(left)
        return True


def _wire_roundtrip(run: Run, events_pdf) -> dict:
    """Traced run only: produce and scan back the events table through
    ``sources.kafka_wire`` (gzip/none, then snappy/gzip/none codec cycles)
    and bulk-index and sliced-scroll it through ``sources.es_wire``. Each
    write goes to a fresh copy of the table, so no staging is reused."""
    from real_time_big_data_analytics_spark.sources import pyds

    spark, t = run.spark, run.tracer
    spark.dataSource.register(pyds.make_kafka_wire_datasource())
    spark.dataSource.register(pyds.make_es_wire_datasource())
    expected = sorted(
        (int(r.event_id), r.ts.strftime("%Y-%m-%d %H:%M:%S.%f"), int(r.user_id), r.event_type, float(r.value), r.props)
        for r in events_pdf.itertuples()
    )

    def as_rows(docs):
        rows = []
        for d in docs:
            e = json.loads(d)
            rows.append((e["event_id"], e["ts"], e["user_id"], e["event_type"], float(e["value"]), e["props"]))
        return sorted(rows)

    written = read = 0
    times = {"kafka_produce_s": 0.0, "kafka_fetch_s": 0.0, "es_index_s": 0.0, "es_scroll_s": 0.0}
    for i, codecs in enumerate((("gzip", "none"), ("snappy", "gzip", "none"), None)):
        fresh = os.path.join(run.run_root, f"wire_{i}")
        os.makedirs(fresh)
        shutil.copyfile(os.path.join(run.data_dir, "events.parquet"), os.path.join(fresh, "events.parquet"))
        topic = f"roundtrip_{i}"
        t0 = time.monotonic()
        with t.span("sources.pyds.write", op=f"wire#{i}"):
            if codecs is None:
                addr = pyds.stage_events_in_es(spark, fresh)
            else:
                addr = pyds.stage_events_on_wire(spark, fresh, codecs=codecs, topic=topic)
        t1 = time.monotonic()
        with t.span("sources.pyds.read", op=f"wire#{i}"):
            if codecs is None:
                got = [r.source for r in pyds.read_events_via_es_wire(spark, fresh).select("source").collect()]
            else:
                got = [r.value for r in (
                    spark.read.format("kafka_wire").option("addr", addr).option("topic", topic)
                    .option("nparts", str(pyds.WIRE_NPARTS)).option("pkg", pyds._repo_root())
                    .load().select("value").collect()
                )]
        t2 = time.monotonic()
        kind = "es" if codecs is None else "kafka"
        times[f"{kind}_{'index' if kind == 'es' else 'produce'}_s"] += t1 - t0
        times[f"{kind}_{'scroll' if kind == 'es' else 'fetch'}_s"] += t2 - t1
        written += len(expected)
        read += len(got)
        ok = as_rows(got) == expected
        run.check(f"wire_roundtrip#{i}", ok, "" if ok else "read-back differs from what was written")
    out = {f"sources.pyds.{k}": v for k, v in times.items()}
    out["sources.pyds.records_read_per_written"] = read / written
    out["named"] = {
        "write_records_per_s": (written / (times["kafka_produce_s"] + times["es_index_s"]), "1/s"),
        "read_records_per_s": (read / (times["kafka_fetch_s"] + times["es_scroll_s"]), "1/s"),
    }
    return out


def _codec_rates(kw, broker) -> dict[str, float]:
    """Public decode, compress and decompress, timed over the bytes this
    run left in the broker's log."""
    from real_time_big_data_analytics_spark.sources import snappy_codec

    batches = [b for bs in broker.log.values() for b in bs]
    log_bytes = sum(len(b) for b in batches)
    t0 = time.monotonic()
    values = [v for b in batches for _k, v in kw.decode_record_batch(b)]
    decode_s = time.monotonic() - t0
    sample = b"\n".join(values)[: 1 << 18]
    t0 = time.monotonic()
    packed = snappy_codec.compress(sample)
    comp_s = time.monotonic() - t0
    t0 = time.monotonic()
    unpacked = snappy_codec.decompress(packed)
    decomp_s = time.monotonic() - t0
    if unpacked != sample:
        raise ValueError("snappy round trip differs")
    mb = len(sample) / 1e6
    return {
        "sources.kafka_wire.log_bytes": log_bytes,
        "sources.kafka_wire.decode_mb_per_s": log_bytes / 1e6 / decode_s,
        "sources.snappy_codec.compress_mb_per_s": mb / comp_s,
        "sources.snappy_codec.decompress_mb_per_s": mb / decomp_s,
    }


def stream_score(run: Run, scale: float | None = None):
    import numpy as np
    import pyarrow.dataset as pads
    from pyspark.sql import functions as F

    import datagen

    sf = scale or STREAM_SF
    rows = run.generate(sf)
    spark = run.start_session()
    from real_time_big_data_analytics_spark.operators import ml
    from real_time_big_data_analytics_spark.sources import kafka_wire as kw
    from real_time_big_data_analytics_spark.sources import pyds, tables
    from real_time_big_data_analytics_spark.streaming import runner

    run.instrument()
    with run.setup_phase("train_model"):
        feats = ml.user_activity_features(spark, run.data_dir)
        model = ml.train_decision_tree(feats)
        expected = {
            r.user_id: r.bolt_user
            for r in ml.with_verdict(model.transform(feats)).select("user_id", "bolt_user").collect()
        }

    # Offered events: warm-up, the drain backlogs, then one list per tick.
    with run.setup_phase("encode_events"):
        n_users = datagen.row_counts(sf)["users"]
        rng = np.random.default_rng([run.seed, 1])
        per_tick = max(1, int(round(OFFERED_EVENTS_PER_S * TICK_S)))
        n_ticks = int(run.seconds / TICK_S)
        first = WARMUP_EVENTS + DRAIN_ROUNDS * DRAIN_EVENTS
        events = _event_values(
            datagen.make_events(rng, first + per_tick * n_ticks, n_users, first_id=10**9))
        warm_ev = events[:WARMUP_EVENTS]
        drain_ev = [
            events[WARMUP_EVENTS + k * DRAIN_EVENTS : WARMUP_EVENTS + (k + 1) * DRAIN_EVENTS]
            for k in range(DRAIN_ROUNDS)
        ]
        tick_ev = [events[first + i * per_tick : first + (i + 1) * per_tick] for i in range(n_ticks)]

        broker = kw.MiniBroker()
        addr = broker.start()
        topic = "scored_events"
        producer = Producer(kw, addr, topic, pyds.WIRE_NPARTS)
        warm_b = producer.encode(warm_ev)
        drain_b = [producer.encode(ev) for ev in drain_ev]
        tick_b = [producer.encode(ev) for ev in tick_ev]

    event_schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"
    )
    spark.dataSource.register(pyds.make_kafka_wire_stream_datasource())
    raw = (
        spark.readStream.format("kafka_wire_stream").option("addr", addr).option("topic", topic)
        .option("nparts", str(pyds.WIRE_NPARTS)).option("pkg", pyds._repo_root()).load()
    )
    parsed = raw.select(F.from_json("value", event_schema).alias("e")).select("e.*")
    scored = ml.with_verdict(model.transform(parsed.join(F.broadcast(feats), "user_id")))
    index_dir = os.path.join(run.run_root, "index")
    sink = runner.index_sink(index_dir)
    batch_end: dict[int, float] = {}
    drain = {"armed": False, "start": [], "end": []}

    def timed_sink(df, batch_id):
        with run.tracer.span(harness.BATCH, op=f"batch#{batch_id}"):
            sink(df.select("event_id", "user_id", "bolt_user"), batch_id)
        now = batch_end[batch_id] = time.monotonic()
        if drain["armed"]:
            # Each drain round is produced whole while this micro-batch still
            # holds the stream, so the next trigger takes all of it at once.
            if drain["start"]:
                drain["end"].append(now)
            k = len(drain["start"])
            if k < DRAIN_ROUNDS:
                producer.send(drain_b[k])
                drain["start"].append(time.monotonic())
            else:
                drain["armed"] = False

    progress = Progress()
    spark.streams.addListener(progress.listener)
    with run.setup_phase("stream_start"):
        query = (
            scored.writeStream.foreachBatch(timed_sink)
            .option("checkpointLocation", os.path.join(run.run_root, "checkpoint")).start()
        )
    try:
        with run.setup_phase("stream_warmup"):
            producer.send(warm_b[:-1])
            if not progress.wait_rows(WARMUP_EVENTS - warm_b[-1][2], FLUSH_TIMEOUT_S):
                raise RuntimeError("stream did not take the warm-up events")
            warm_batches = len(progress.batches)

        # Closed loop: the batch that takes the last warm-up events produces
        # the first backlog, and each drain batch the next (in timed_sink).
        run.begin_measure()
        drain["armed"] = True
        producer.send(warm_b[-1:])
        drained = WARMUP_EVENTS + DRAIN_ROUNDS * DRAIN_EVENTS
        if not progress.wait_rows(drained, FLUSH_TIMEOUT_S) or len(drain["end"]) < DRAIN_ROUNDS:
            raise RuntimeError("stream did not drain the backlog")

        # Open loop for the measured seconds: one generator thread sends
        # each tick's batches on schedule.
        sched: dict[int, float] = {}
        late: list[float] = []
        sent_at: list[tuple[float, int]] = []
        t_open = time.monotonic()

        def generate():
            sent = 0
            for i in range(n_ticks):
                due = t_open + i * TICK_S
                now = time.monotonic()
                if now < due:
                    time.sleep(due - now)
                producer.send(tick_b[i])
                late.append(time.monotonic() - due)
                for eid, *_ in tick_ev[i]:
                    sched[eid] = due
                sent += len(tick_ev[i])
                sent_at.append((time.monotonic(), sent))

        gen = threading.Thread(target=generate, name="loadgen")
        gen.start()
        gen.join()
        offered = per_tick * n_ticks
        if not progress.wait_rows(drained + offered, FLUSH_TIMEOUT_S):
            run.failures.append("stream did not take every offered event within the timeout")
        run.end_measure()
    finally:
        query.stop()
        spark.streams.removeListener(progress.listener)
        producer.close()

    # Every produced event gets exactly one verdict, and the right one.
    index = pads.dataset(index_dir, format="parquet").to_table(
        columns=["event_id", "user_id", "bolt_user", "_batch_id"]).to_pydict()
    seen: dict[int, list] = {}
    for eid, uid, verdict, bid in zip(index["event_id"], index["user_id"], index["bolt_user"], index["_batch_id"]):
        seen.setdefault(eid, []).append((verdict, bid))
    timed = [e for ev in drain_ev for e in ev] + [e for ev in tick_ev for e in ev]
    if run.take_corruption("stream_score"):
        seen.pop(timed[0][0], None)
    latencies = []
    open_rows_by_batch: dict[int, int] = {}
    for eid, uid, _key, _value in timed:
        got = seen.get(eid, [])
        ok = len(got) == 1 and got[0][0] == expected.get(uid)
        run.check("stream_score", ok, f"event {eid}: {len(got)} verdicts" if len(got) != 1 else f"event {eid}: wrong verdict")
        if eid in sched and len(got) == 1:
            latencies.append(batch_end[got[0][1]] - sched[eid])
            open_rows_by_batch[got[0][1]] = open_rows_by_batch.get(got[0][1], 0) + 1

    rates = [DRAIN_EVENTS / (e - s) for s, e in zip(drain["start"], drain["end"])]
    lat = harness.latency_summary(latencies or [float("nan")])
    e2e = {
        "setup_s": run.setup_s,
        "throughput_per_s": harness.median(rates),
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
    }

    # Open-loop backlog: offered minus scored, at each batch end.
    backlog = written = 0
    for t_end, bid in sorted((t, b) for b, t in batch_end.items() if t >= t_open):
        written += open_rows_by_batch.get(bid, 0)
        sent = max((n for ts, n in sent_at if ts <= t_end), default=0)
        backlog = max(backlog, sent - written)

    layers: dict[str, float] = {}
    named: dict[str, tuple[float, str]] = {}
    if run.trace:
        layers.update(_codec_rates(kw, broker))
        wire = _wire_roundtrip(run, tables.load_table(spark, run.data_dir, "events").toPandas())
        named.update(wire.pop("named"))
        layers.update(wire)
    broker.stop()

    measured = progress.batches[warm_batches:]

    def p50(key):
        return harness.median([b["duration_ms"].get(key, 0) for b in measured])

    log = run.finish()
    layers.update(run.common_layers(log))
    layers.update({
        "operators.ml.scored_rows": sum(b["rows"] for b in measured),
        "spark.plan_s": sum(b["duration_ms"].get("queryPlanning", 0) for b in measured) / 1e3,
        "streaming.batches": len(measured),
        "streaming.batch_rows_p50": harness.median([b["rows"] for b in measured]),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.get_batch_ms_p50": p50("getBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.backlog_max": backlog,
        "loadgen.late_s_max": max(late, default=0.0),
        "loadgen.offered_events": offered,
    })
    named.update({
        "events_per_s": (e2e["throughput_per_s"], "1/s"),
        "verdict_p50_s": (lat["p50"], "s"),
        "verdict_tail_s": (lat["tail"], "s"),
    })
    report = {
        "scale_factor": sf,
        "table_rows": rows,
        "offered_events_per_s": OFFERED_EVENTS_PER_S,
        "drain_rounds_events_per_s": rates,
        "open_loop_s": n_ticks * TICK_S,
        "latency": lat,
        "batches": measured,
    }
    return finish(run, e2e, layers, report, named)


WORKLOADS = {
    "query_mix": query_workload(QUERY_MIX, QUERY_SF),
    "stream_score": stream_score,
}
