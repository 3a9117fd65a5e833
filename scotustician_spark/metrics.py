"""Per-stage cost attribution — the Spark analog of the reference's
run cost tracking (reference: infrastructure/lambda/cost_tracking.py:
9-124, which wraps every pipeline run in per-stage duration/cost
rows).

A ``QueryExecutionListener`` (registered from Python through the py4j
callback server — the same mechanism PySpark's own foreachBatch and
streaming listeners use) receives every action's EXECUTED plan, and a
metric walk rolls its SQLMetrics up into one relation row per named
pipeline stage:

- ``wall_ms``                  — driver-observed action duration
- ``rows_out``                 — the plan root's output rows
- ``files_read_bytes/num``     — FileSourceScan totals (what the stage
                                 actually scanned — pruning visible)
- ``shuffle_bytes_written``    — Exchange write volume (the number
                                 that decides 100 TB viability)
- ``shuffle_records_written``
- ``exchange_data_size``       — in-memory size of shuffled rows
- ``pipeline_time_ms``         — summed WholeStageCodegen task time
                                 (the executor-side task-time proxy)
- ``scan_time_ms``             — summed scan time
- ``peak_memory_bytes``        — summed operator peaks (spill alarm)
- ``codegen_classes``          — classes Janino compiled (whole-stage
                                 and expression code; a cache hit
                                 compiles none)
- ``codegen_ms``               — their compile time

The codegen pair comes from JVM-wide counters (``codegen_counters``),
read at stage entry and at each action's callback; a row gets the
change since the previous read, and whatever compiled after the
stage's last callback goes to its last row, so a stage's rows sum to
its total. On a warm session both read ~0: a non-zero run of them
means the generated-class cache is thrashing (or a query inlines a
per-run literal into its generated code).

The walk dedupes reused exchanges/subqueries (ReusedExchangeExec
executes once; counting its subtree twice would double the bytes) and
descends through AQE wrappers to the FINAL adaptive plan, so the
numbers describe what actually ran, not the initial estimate.

Usage::

    mc = StageMetricsCollector(spark)
    with mc.stage("flatten"):
        flat.write.parquet(out)
    with mc.stage("summarize"):
        summary.write.parquet(out2)
    mc.to_df(spark)       # one row per stage — join to run metadata
    mc.close()

Unnamed actions (no open stage) are ignored, so a collector can stay
registered across a whole session without swallowing unrelated
queries.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_SUM_KEYS = {
    "filesSize": "files_read_bytes",
    "numFiles": "files_read_num",
    "shuffleBytesWritten": "shuffle_bytes_written",
    "shuffleRecordsWritten": "shuffle_records_written",
    "dataSize": "exchange_data_size",
    "pipelineTime": "pipeline_time_ms",
    "scanTime": "scan_time_ms",
    "peakMemory": "peak_memory_bytes",
}

METRICS_SCHEMA = (
    "stage string, fn_name string, wall_ms double, rows_out bigint, "
    + ", ".join(f"{v} bigint" for v in _SUM_KEYS.values())
    + ", codegen_classes bigint, codegen_ms double"
)


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """``(classes compiled, compile ms)`` since the JVM started: the
    count of Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME``
    histogram (one update per Janino compile) and
    ``CodeGenerator.compileTime``. JVM-wide, so every thread's
    compiles count, executor threads included in local mode."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n.getCount()), int(ns) / 1e6


def _walk_plan_metrics(node, acc: dict, seen: set, want_rows: list) -> None:
    cls = node.getClass().getSimpleName()
    nid = node.id()
    if nid in seen or cls.startswith("ReusedExchange") or cls.startswith(
        "ReusedSubquery"
    ):
        return
    seen.add(nid)
    m = node.metrics()
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        key = kv._1()
        try:
            val = int(kv._2().value())
        except Exception:
            continue
        if key == "numOutputRows" and want_rows and want_rows[0] is None:
            # first numOutputRows in top-down order = the plan root's
            # output (command wrappers above it carry no row metric)
            want_rows[0] = val
        tgt = _SUM_KEYS.get(key)
        if tgt:
            acc[tgt] = acc.get(tgt, 0) + val
    # descend through AQE/stage wrappers to the FINAL executed plan
    if cls == "AdaptiveSparkPlanExec":
        _walk_plan_metrics(node.executedPlan(), acc, seen, want_rows)
        return
    if cls.endswith("QueryStageExec"):
        _walk_plan_metrics(node.plan(), acc, seen, want_rows)
        return
    ch = node.children()
    i = ch.iterator()
    while i.hasNext():
        _walk_plan_metrics(i.next(), acc, seen, want_rows)


class StageMetricsCollector:
    """Collects one metrics row per named stage. Thread model: the
    listener bus delivers callbacks on its own thread; rows append
    under the GIL and ``_drain`` waits for the bus before reading."""

    def __init__(self, spark: SparkSession):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._rows: list[dict] = []
        self._current: str | None = None
        self._codegen_mark = (0, 0.0)
        # the mark moves on the listener thread and on the stage's own
        self._codegen_lock = threading.Lock()
        outer = self

        class _QEL:
            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

            def onSuccess(self, funcName, qe, durationNs):
                if outer._current is None:
                    return
                acc: dict = {}
                want_rows: list = [None]
                try:
                    _walk_plan_metrics(
                        qe.executedPlan(), acc, set(), want_rows
                    )
                except Exception:
                    pass  # a metrics walk must never fail the query
                row = {
                    "stage": outer._current,
                    "fn_name": str(funcName),
                    "wall_ms": round(int(durationNs) / 1e6, 3),
                    "rows_out": want_rows[0],
                }
                for v in _SUM_KEYS.values():
                    row[v] = acc.get(v, 0)
                row["codegen_classes"], row["codegen_ms"] = outer._codegen_since_mark()
                outer._rows.append(row)

            def onFailure(self, funcName, qe, exception):
                pass

            def toString(self):
                return "StageMetricsCollector"

            def equals(self, other):
                return other is self

            def hashCode(self):
                return id(self)

        self._listener = _QEL()
        spark._jsparkSession.listenerManager().register(self._listener)

    @contextmanager
    def stage(self, name: str):
        first = len(self._rows)
        self._codegen_mark = codegen_counters(self._spark)
        self._current = name
        try:
            yield self
        finally:
            self._drain()
            self._current = None
            if len(self._rows) > first:
                last = self._rows[-1]
                n, ms = self._codegen_since_mark()
                last["codegen_classes"] += n
                last["codegen_ms"] = round(last["codegen_ms"] + ms, 3)

    def _codegen_since_mark(self) -> tuple[int, float]:
        """The codegen counters' change since the last read; moves the
        mark."""
        with self._codegen_lock:
            n, ms = codegen_counters(self._spark)
            n0, ms0 = self._codegen_mark
            self._codegen_mark = (n, ms)
        return n - n0, round(ms - ms0, 3)

    def _drain(self) -> None:
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            import time

            time.sleep(0.5)

    def rows(self) -> list[dict]:
        self._drain()
        return list(self._rows)

    def to_df(self, spark: SparkSession | None = None) -> DataFrame:
        """The metrics RELATION: one row per recorded action, stage-
        tagged — persist it next to the run summary the way the
        reference persists its cost rows."""
        spark = spark or self._spark
        rows = self.rows()
        cols = METRICS_SCHEMA
        return spark.createDataFrame(
            [tuple(r[c.split()[0]] for c in cols.split(", ")) for r in rows],
            cols,
        )

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)
