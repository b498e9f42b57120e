"""Credit-mart benchmark: one command, one seeded workload, one result line.

Run from the repository root:

    python3 creditbench/run.py --workload nightly_build --seed 1 --seconds 1 --trace 0

Workloads: nightly_build, incremental_refresh (see README.md).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
layer call and prints the per-layer metrics instead, and writes the spans
to ``.creditbench_out/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The exit code
is 0 when every output check passed, 1 when one failed and 2 when the
benchmark could not run at all. All scratch files go to
``.creditbench_work/`` under the working directory, which is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORK_DIR = ".creditbench_work"
OUT_DIR = ".creditbench_out"
WORKLOADS = ("nightly_build", "incremental_refresh")

END_TO_END_UNITS = {
    "setup_s": "s",
    "update_cpu_s": "s",
    "stored_mb": "MB",
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("per_row_written"):
        return "ratio"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="seconds of timed work to measure")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits once its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.append(root)
    try:
        import workloads
        from spans import Tracer
    except ImportError as e:
        print(f"cannot import the pipeline package from {root}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    r = workloads.Run(args.workload, args.seed, args.seconds, tracer, work, cores)
    try:
        workloads.WORKLOADS[args.workload](r)
        e2e = workloads.end_to_end(r)
        named = workloads.unbounded_figures(r)
        layers, detail = workloads.per_layer(r) if args.trace else ({}, {})
    finally:
        stop_spark(r.spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = r.setup_ok and r.failed == 0
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "lake": {k: str(v) for k, v in workloads.LAKE.items()},
        **r.info,
    }
    print("run: " + json.dumps(info, default=str))
    print("end_to_end: " + json.dumps(
        {**{k: f"{v:.6g} {END_TO_END_UNITS[k]}" for k, v in e2e.items()},
         **named}))
    if args.trace:
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        path = os.path.join(root, OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"run": info, "spans": tracer.spans, "layers": layers,
                       "detail": detail}, f, default=str)
        print("layers_detail: " + json.dumps(detail))
        print(f"spans written to {os.path.relpath(path, root)}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
