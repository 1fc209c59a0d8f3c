"""Benchmark entry point: one run of one workload on this host.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It fits Spark to the host from the
outside (cores from the CPU affinity mask, driver memory and the DuckDB
limit from MemTotal), gives the run its own temp root, Spark local dirs
and (traced runs) event-log dir under ``.perfbench/`` in the checkout,
starts the run in a child process (``worker.py``), samples the resident
memory of that process tree, waits for every process of the tree to end,
removes the temp root, and prints one JSON object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones. Each run also writes its full record
(host fit, library versions, latency percentiles with sample counts,
spans, per-query records, tracing overhead) to
``.perfbench/reports/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("query_mix", "stream_score")
CHILD_TIMEOUT_S = 160.0
PACKAGE = "real_time_big_data_analytics_spark"


def host_fit() -> dict[str, str]:
    """Environment the engine reads, derived from this host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1024, mem_mb // 4)}m",
        "PERFBENCH_DUCKDB_MEMORY": f"{max(512, mem_mb // 8)}MB",
        "PERFBENCH_MEM_TOTAL_MB": str(mem_mb),
    }


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler(threading.Thread):
    """Peak resident memory of one process group, sampled from /proc."""

    def __init__(self, pgid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pgid, self.interval = pgid, interval
        self.peak_mb = 0.0
        self.stop_event = threading.Event()

    def run(self):
        while not self.stop_event.is_set():
            self.peak_mb = max(self.peak_mb, _rss_mb(_group_pids(self.pgid)))
            self.stop_event.wait(self.interval)


def _end_group(pgid: int, grace: float) -> None:
    """Wait for every process of the group to exit; kill what is left."""
    deadline = time.monotonic() + grace
    while _group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_pids(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_pids(pgid):
            time.sleep(0.1)


def _leftover_dirs(tmp: str) -> int:
    return sum(1 for e in os.listdir(tmp) if e.startswith("rtba_")) if os.path.isdir(tmp) else 0


def _tracing_overhead(reports: str, traced: dict) -> dict:
    """Traced minus untraced, per end-to-end metric, against the untraced
    run of the same seed or else the newest untraced run of the workload
    at the same scale."""
    prefix = f"{traced['workload']}-seed"
    same = os.path.join(reports, f"{prefix}{traced['seed']}-trace0.json")
    runs = sorted(glob.glob(os.path.join(reports, f"{prefix}*-trace0.json")), key=os.path.getmtime)
    for path in ([same] if os.path.exists(same) else []) + runs[::-1]:
        with open(path) as fh:
            base = json.load(fh)
        if base["scale_factor"] == traced["scale_factor"]:
            out = {
                k: {"value": v["value"] - base["end_to_end"][k]["value"], "unit": v["unit"]}
                for k, v in traced["end_to_end"].items()
            }
            out["against"] = os.path.basename(path)
            return out
    return {"note": "no untraced run of this workload and scale in .perfbench/reports"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run from the root of a checkout: {PACKAGE}/ not found", file=sys.stderr)
        return 2

    run_root = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    events = os.path.join(run_root, "eventlog")
    reports = os.path.join(STATE, "reports")
    for d in (tmp, local, events, reports):
        os.makedirs(d, exist_ok=True)
    report = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    result = os.path.join(run_root, "result.json")

    fit = host_fit()
    env = dict(os.environ, **fit)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PERFBENCH_EVENT_LOG_DIR": events,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if args.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-root", run_root, "--result", result, "--report", report,
    ]
    if args.scale is not None:
        cmd += ["--scale", str(args.scale)]
    if args.corrupt is not None:
        cmd += ["--corrupt", args.corrupt]

    child = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    sampler = RssSampler(child.pid)
    sampler.start()
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
        code = -1
    finally:
        sampler.stop_event.set()
        sampler.join()
        _end_group(child.pid, grace=0.0 if code == -1 else 10.0)
        child.wait()

    out = None
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            out = json.load(fh)
    left = _leftover_dirs(tmp)
    shutil.rmtree(run_root, ignore_errors=True)
    if out is None:
        print(f"run failed (exit {code})", file=sys.stderr)
        return 1

    with open(report) as fh:
        rec = json.load(fh)
    rec["named_metrics"]["peak_rss_mb"] = {"value": sampler.peak_mb, "unit": "MB"}
    rec["host.tmp_dirs_left"] = left
    if args.trace:
        # peak RSS varies by more than a tenth between runs, so it is a
        # layer metric rather than an end-to-end one
        for name, value, unit in (("host.tmp_dirs_left", left, "count"),
                                  ("peak_rss_mb", sampler.peak_mb, "MB")):
            out["metrics"][name] = rec["per_layer"][name] = {"value": value, "unit": unit}
        rec["tracing_overhead"] = _tracing_overhead(reports, rec)
    with open(report, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
