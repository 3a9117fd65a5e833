"""SparkSession factory tuned for this engine.

Defaults target local[N] testing but the knobs are the ones that matter
on a real cluster too: AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for any pandas exchange, UTC session time
zone so results are comparable across engines (DuckDB oracle included).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """``(cpus, driver_memory)`` sized to the host this process runs on.

    CPUs are the ones the process may be scheduled on
    (``sched_getaffinity``: a container's cpuset, not the machine's
    core count). Driver memory is half of ``MemTotal``, clamped to
    1–24 GiB: in local mode executors are threads in the driver JVM,
    so this one heap serves every task, and the other half stays for
    the Python workers and the OS. ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_DRIVER_MEM`` override either value. Read at call
    time, so a process that sets them after import still gets them.
    """
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if env_cpus is None:
        try:
            cpus = len(os.sched_getaffinity(0))
        except AttributeError:  # not Linux
            cpus = os.cpu_count() or 1
    else:
        cpus = int(env_cpus) if env_cpus.strip().isdigit() else 0
        if cpus < 1:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be a positive integer, got {env_cpus!r}"
            )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem is None:
        mem = f"{min(24 * 1024, max(1024, _mem_total_mb() // 2))}m"
    return cpus, mem


def _mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096  # unknown host: a 2 GiB driver


def get_spark(
    app_name: str = "scotustician_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    At cluster scale the same settings apply; only ``master`` and the
    memory sizing change (driver memory is the single knob in local
    mode because executors are threads in the driver JVM). Locally both
    come from ``host_defaults``.
    """
    cpus, driver_mem = host_defaults()
    sp = shuffle_partitions if shuffle_partitions is not None else cpus
    # local mode shuffles through spark.local.dir; tmpfs removes disk I/O
    # from the shuffle path (on a cluster this maps to fast local SSDs)
    local_dir = "/dev/shm/spark-local"
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/oa_datasource.py
        # prunes term partitions through it); off by default in 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark 4's DataFrame-debugging call-site capture wraps EVERY
        # Column/functions call with getActiveSession + conf.get +
        # PySparkCurrentOrigin.set/clear — ~4 extra JVM roundtrips per
        # expression node, measured (cProfile) at ~2800 py4j roundtrips
        # for ONE chunk_embed_pool construction and 25-40% of the
        # construction wall across the bench (guide §5: the driver
        # should do almost no work). Debug-origin capture belongs in
        # interactive debugging, not a query engine's hot path.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Static size ESTIMATES routinely mis-broadcast aggregate join
        # sides (measured 2× slower than SMJ on sf0.1); disable the static
        # threshold and let AQE decide from ACTUAL runtime sizes. True
        # dimension tables carry explicit broadcast() hints at call sites.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_relation(spark: SparkSession, rows, schema):
    """Small driver-built relation WITHOUT the Python-RDD path.

    ``spark.createDataFrame(list, schema)`` plans as
    ``applySchemaToPythonRDD`` — a pickled Python RDD whose every
    downstream evaluation (broadcast builds included) launches
    defaultParallelism tasks that each spin up a Python worker.
    Measured r10: a ONE-ROW hyperplane relation cost a 32-task /
    ~6 s-CPU job per lsh query call; routing the same rows through
    pandas+Arrow plans as a JVM-native scan and costs ~no task time
    (guide §4: the Python boundary is the tax — don't pay it for
    driver-literal metadata). Values round-trip bit-exact through
    Arrow (asserted for doubles in tests). Falls back to the plain
    path if the Arrow conversion rejects the type.
    """
    from pyspark.sql.types import StructType

    st = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string_cached(spark, schema)
    )
    try:
        import pandas as pd

        pdf = pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=st.fieldNames()
        )
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema=st)


def _parse_datatype_string_cached(spark: SparkSession, s: str):
    from pyspark.sql.types import _parse_datatype_string

    cache = getattr(spark, "_sg_ddl_cache", None)
    if cache is None:
        cache = {}
        spark._sg_ddl_cache = cache
    st = cache.get(s)
    if st is None:
        st = _parse_datatype_string(s)
        cache[s] = st
    return st


_REPARTITION_NODE = re.compile(r"(?m)^[\s:+\-]*Repartition(ByExpression)?\b")


def repartition_for_compute(df, min_partitions: int | None = None, by=None):
    """Widen coarse input partitioning before compute-heavy per-row
    stages (shingling, hashing, model inference).

    Small inputs (one parquet file < maxPartitionBytes) scan as a
    SINGLE partition, which serializes everything downstream onto one
    core — measured 5× on shingling. At 100 TB scans produce plenty of
    splits and this is a no-op; the repartition only fires when the
    scan is narrower than the session's parallelism.

    If the lineage already contains an explicit repartition, return the
    frame untouched WITHOUT probing: the upstream operator pinned its
    width (repartition(n) shuffles are exempt from AQE coalescing) and
    — the load-bearing part — ``df.rdd.getNumPartitions()`` on a
    post-shuffle frame under AQE EXECUTES the upstream stages to
    resolve the runtime partition count, so composed operators
    (chunk → embed) were paying a full extra materialization of their
    input pipeline per probe (r10 stage profile: the chunk exchange
    built twice, jobs 102+103).

    ``by``: repartition BY THOSE KEY COLUMNS instead of round-robin —
    for a grouped aggregation keyed the same way this is still ONE
    shuffle (the explicit exchange satisfies the aggregate's
    distribution), but the aggregation runs at full width instead of
    map-side partials squeezed onto the scan's few splits. Only worth
    it when per-key group sizes are tiny (partials barely reduce) AND
    the scan is narrow; at 100 TB the scan is wide and this is a no-op,
    leaving the map-side-combine path untouched (r10: case_summaries
    measured 1.22 → 0.80 s at sf0.1).
    """
    target = min_partitions or host_defaults()[0]
    plan = df._jdf.queryExecution().analyzed().toString()
    # Node-name match, anchored at the operator position of a plan-tree
    # line (start-of-line after the `:+- ` indent art), NOT a bare
    # substring: a relation/column whose NAME contains "Repartition"
    # prints inside a Project/SubqueryAlias line and must not
    # false-positive into silently skipping the widening (r10 VERDICT
    # robustness item). Matches Repartition / RepartitionByExpression.
    if _REPARTITION_NODE.search(plan):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *by) if by else df.repartition(target)
    return df


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the driver's parquet tables; optionally register temp views.

    Parquet scans get predicate pushdown + column pruning from Catalyst
    for free; at 100 TB the same code path applies with the dataset
    partitioned on disk (partitionBy keys prune entire files).
    """
    dfs = {}
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            dfs[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return dfs
