#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload er_resolve --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout. Makes the workload's inputs from
`--seed` (cached under `.perfbench_work/`), sets the program up, runs
it in a closed loop for `--seconds` of timed work, checks every output,
and prints a report line and then the result line: one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). Reads and writes only
inside the checkout.
"""

from __future__ import annotations

import argparse
import fcntl
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("er_resolve", "training_ops")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Point the interpreter, Spark's JVM and the Python workers (which
    inherit this environment) at the checkout."""
    tmp = f"{work}/tmp"
    local = f"{work}/spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # re-read TMPDIR on next use
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(f"{ROOT}/dbpedia_spotlight_spark/__init__.py"):
        print(f"perfbench: no dbpedia_spotlight_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = f"{ROOT}/.perfbench_work"
    os.makedirs(work, exist_ok=True)
    # runs in one checkout share the work dir: one at a time
    lock = open(f"{work}/lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    for d in ("out", "eventlog", "model"):
        shutil.rmtree(f"{work}/{d}", ignore_errors=True)
    _environment(work)
    ctx = argparse.Namespace(work=work, seed=args.seed,
                             seconds=args.seconds, trace=bool(args.trace),
                             nproc=_nproc())
    if args.workload == "er_resolve":
        import er as workload
    else:
        import training as workload
    workload.run(ctx)
    return 0


if __name__ == "__main__":
    sys.exit(main())
