"""One benchmark run of one workload, in the process that owns the Spark session.

``run.py`` starts this file in a fresh process with the host-derived
environment (cores, memory, temp root, Spark local dirs) already set,
and reads back the result file it writes. Usage::

    python3 perfbench/worker.py --workload query_mix --seed 1 --seconds 10 \
        --trace 0 --run-root DIR --result FILE --report FILE
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-root", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's scale factor (smoke tests)")
    ap.add_argument("--corrupt", default=None,
                    help="name of one operation whose first timed result is "
                         "corrupted before the check (the benchmark's own test)")
    args = ap.parse_args(argv)

    import harness
    import workloads

    spec = workloads.WORKLOADS[args.workload]
    run = harness.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        run_root=args.run_root,
        t_process=T_PROCESS,
        corrupt=args.corrupt,
    )
    try:
        result, report = spec(run, scale=args.scale)
    finally:
        run.close()
    report["host"] = harness.host_record()
    with open(args.report, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
