"""Run one workload of the CDC benchmark and print its metrics.

    python3 cdcbench/run.py --workload backfill-cow --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, from a separate traced run.
A line starting with ``# diagnostics`` before it holds host and process
figures and the correctness notes. The exit code is non-zero when any
check failed or the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".cdcbench_work")


def _stop_jvm() -> None:
    """End the JVM PySpark started (it exits when its stdin pipe closes)
    and wait until it and every process under it, the Python workers
    included, have ended."""
    from pyspark import SparkContext

    from cdcbench import procstat

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = procstat.tree()[1:]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(procstat.alive(p) for p in pids):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # the engine package must be importable from the checkout
    import mysql_time_machine_spark  # noqa: F401

    from cdcbench.runner import BENCHMARK, run

    os.makedirs(WORK_DIR, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["TMPDIR"] = os.path.join(WORK_DIR, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    w = WORKLOADS[args.workload]
    try:
        if args.trace:
            # trace.overhead divides by the epoch time of the same stream
            # run first without wrappers or event log, in a JVM of its own
            ref = run(w, args.seed, args.seconds, False, WORK_DIR, post=False)
            _stop_jvm()
        res = run(w, args.seed, args.seconds, bool(args.trace), WORK_DIR)
    finally:
        _stop_jvm()
    ops = res["ops"]
    if args.trace:
        metrics = res["layer"]
        metrics["trace.overhead"] = res["metrics"]["epoch_s_p50"] / ref["metrics"]["epoch_s_p50"]
        ops.attempted += ref["ops"].attempted
        ops.failed += ref["ops"].failed
        ops.notes += ref["ops"].notes
    else:
        metrics = res["metrics"]
    diag = dict(res["diag"])
    diag["samples"] = {k: [round(x, 4) for x in xs if x is not None] for k, xs in diag["samples"].items()}
    print("# diagnostics " + json.dumps({"workload": args.workload, "seed": args.seed, **diag, "failures": ops.notes}))
    correct = ops.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {
                    m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in BENCHMARK["per_layer" if args.trace else "end_to_end"]
                },
            }
        )
    )
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
