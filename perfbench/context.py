"""Per-run state shared by the workloads: settings, the Spark session,
the tracer and the tally of attempted and failed operations."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

from tracing import JobCounter, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    state: str
    tracer: Tracer = field(init=False)
    spark: object = field(init=False, default=None)
    jobs: JobCounter | None = field(init=False, default=None)
    attempted: int = field(init=False, default=0)
    failures: dict = field(init=False, default_factory=dict)

    def __post_init__(self):
        self.tracer = Tracer(False)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        """Start the program's tuned session; returns the seconds it took."""
        from scotustician_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark.sparkContext)
        return time.perf_counter() - t0

    def op(self, failed_name: str | None = None) -> None:
        """Count one attempted operation; name it if it failed."""
        self.attempted += 1
        if failed_name is not None:
            self.failures[failed_name] = self.failures.get(failed_name, 0) + 1

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it: after
        ``spark.stop()`` the JVM keeps running until its stdin closes,
        so it would otherwise outlive the run."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        self.spark = None


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)
