"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With ``--trace 0`` the metrics are the end-to-end metrics
named in BENCHMARK.json; with ``--trace 1`` they are the per-layer
metrics, and the span trace is kept under ``.perfbench/traces/``.

Every run is hermetic: it pins the Spark parallelism and driver memory,
and gives the program a fresh Spark local dir (on ``/dev/shm`` like the
program's own default) and fresh cache, warehouse and temp dirs under
``.perfbench/`` in the checkout, and removes them when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("etl_pipeline", "analytics_queries")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem_mb() -> int:
    """A quarter of the host's memory, capped at 4 GiB: the tables and
    corpora here are tens of MB, and the host is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def _local_dir(name: str, work: str) -> str:
    """A fresh Spark local dir for this run on tmpfs, where the
    program's ``get_spark`` puts its own; inside ``work`` on hosts
    without ``/dev/shm``."""
    if os.access("/dev/shm", os.W_OK):
        return os.path.join("/dev/shm", f"perfbench-{name}")
    return os.path.join(work, "spark-local")


def _hermetic_env(work: str, local_dir: str) -> None:
    """Settings the program reads from the environment, pinned before it
    is imported (``plans/tables.py`` reads the cache root at import)."""
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{_driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": local_dir,
        "SPARK_GRAFT_CACHE_ROOT": os.path.join(work, "cache"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    name = f"run-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(STATE, name)
    os.makedirs(work)
    local_dir = _local_dir(name, work)
    try:
        _hermetic_env(work, local_dir)
        sys.path.insert(1, ROOT)  # after this directory, before site-packages
        from context import Context
        from workloads import run_workload

        ctx = Context(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            state=STATE,
        )
        try:
            result = run_workload(ctx)
        finally:
            ctx.close()
        if args.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.tsv"))
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
