"""Sinks + pipeline gates (reference S3-S5, S9/S10, S12-S15, ST3).

The reference's sinks are S3 object writes partitioned by term
(ingest/main.py:299-310), a junk/dead-letter prefix
(ingest/main.py:96-119), row-at-a-time idempotent INSERTs relying on
unique keys (helpers.py:250-346), and COUNT verification gates between
stages (infrastructure/lambda/data_verification.py:31-113). Spark-first:
partitioned columnar writes, a quarantine writer, anti-join MERGE
discipline for idempotency, and count gates as actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _has_data(spark: SparkSession, path: str) -> bool:
    """True if ``path`` exists and holds at least one non-metadata entry.

    Uses the Hadoop FileSystem API (``snapshot.hadoop_fs``) so the sinks work
    on any Hadoop-compatible store (s3a://, hdfs://, file://), not just
    the driver-local filesystem that os.path can see.
    """
    from .snapshot import hadoop_fs

    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    return any(
        not st.getPath().getName().startswith("_") for st in fs.listStatus(jpath)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("term",),
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """S3 corpus sink: ``partitionBy`` layout gives partition pruning on
    read — the Spark analog of the reference's ``term_{t}/`` prefixes."""
    df.write.partitionBy(*partition_cols).format(fmt).mode(mode).save(path)


def write_quarantine(junk: DataFrame, path: str) -> int:
    """S4 dead-letter sink: malformed records as JSON with context,
    truncated like the reference's 10k-char cap (ingest/main.py:104).
    Returns the quarantined count (logged by the reference)."""
    # rename: `_corrupt_record` is reserved on JSON reads, so keeping it
    # would make the quarantine dir itself unqueryable
    out = (
        junk.withColumn("raw_record", F.substring(F.col("_corrupt_record"), 1, 10000))
        .drop("_corrupt_record")
        .withColumn("quarantined_at", F.current_timestamp())
    )
    # count DURING the write via Observation — a post-write count()
    # re-executes the whole junk plan (a second PERMISSIVE parse of
    # the corpus) and can disagree with what was written if the
    # source changed in between
    from pyspark.sql import Observation

    obs = Observation()
    out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").json(path)
    return int(obs.get["n"])


def idempotent_append(
    df: DataFrame,
    path: str,
    key_cols: list[str],
) -> dict[str, int]:
    """S9/S10 + ST3: unique-key INSERT-or-skip semantics without a
    database. New rows are anti-joined against the existing keys
    BEFORE the append, and the incoming batch is de-duplicated on the
    key too, so re-running a batch is a no-op (the reference gets this
    from Postgres unique constraints, schema.sql:44,62).

    At scale the existing-keys scan prunes to ``key_cols`` only
    (column pruning on parquet), and the anti-join keys are the
    shuffle key — no full-row exchange. Returns insert/skip counts as
    the reference logs them (helpers.py:287-296).
    """
    from pyspark.sql import Observation

    spark = df.sparkSession
    # the batch size rides along as an observed metric of the one
    # action below, instead of a count() of its own
    seen = Observation()
    incoming = df.dropDuplicates(key_cols).observe(
        seen, F.count(F.lit(1)).alias("n")
    )
    if _has_data(spark, path):
        existing = spark.read.parquet(path).select(*key_cols)
        # NULL-SAFE anti-join: a plain key equi-join never matches a
        # NULL key, so a NULL-keyed row would be re-inserted on every
        # rerun (dropDuplicates treats NULLs as equal; the cross-run
        # check must agree or the idempotency contract breaks)
        cond = None
        for k in key_cols:
            c = incoming[k].eqNullSafe(existing[k])
            cond = c if cond is None else (cond & c)
        fresh = incoming.join(existing, cond, "left_anti")
    else:
        fresh = incoming
    # run the anti-join once: the count fills the cache and the write
    # reads it; with nothing new, nothing is written (an empty append
    # would still add a file)
    fresh.cache()
    try:
        n_new = fresh.count()
        if n_new:
            fresh.write.mode("append").parquet(path)
    finally:
        fresh.unpersist(blocking=False)
    return {"inserted": n_new, "skipped": seen.get["n"] - n_new}


def count_gate(df: DataFrame, min_rows: int = 1, what: str = "stage") -> int:
    """S15 verification gate: fail-fast between pipeline stages
    (data_verification.py Choice-state analog)."""
    n = df.count()
    if n < min_rows:
        raise RuntimeError(f"verification gate failed: {what} has {n} rows < {min_rows}")
    return n


def run_summary(df: DataFrame, group_col: str) -> DataFrame:
    """S5/A10 run-summary sink content: global totals + per-group
    counts in one small DataFrame (ingest/main.py:313-323).

    One ``rollup`` pass yields both: ``grouping()`` marks the grand
    total row, which is labelled ``__total__``, so a genuine NULL group
    stays a NULL row of its own."""
    return (
        df.rollup(group_col)
        .agg(F.count("*").alias("n"), F.grouping(group_col).alias("__total"))
        .select(
            F.when(F.col("__total") == 1, F.lit("__total__"))
            .otherwise(F.col(group_col))
            .alias(group_col),
            "n",
        )
        .withColumn("generated_at", F.current_timestamp())
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> dict[str, int]:
    """MERGE semantics on plain parquet: rows matching on the key are
    REPLACED by the incoming version, new keys are inserted
    (``idempotent_append`` is the insert-or-skip sibling; this is
    update-or-insert — the reference's closest analog is the dbt
    full-refresh of gold tables, dbt_project.yml:23-31).

    Parquet is immutable, so the merge is copy-on-write: existing
    rows anti-join away the updated keys, union the updates, rewrite.
    At scale this belongs on a table format with file-level pruning
    (Delta/Iceberg MERGE INTO rewrites only matched files); the
    copy-on-write plan here is the same shape those formats execute,
    minus the file skipping. Returns updated/inserted counts.
    """
    incoming = updates.dropDuplicates(key_cols)
    # count BEFORE the overwrite: if `updates` reads from `path`, any
    # action on it after the rewrite would re-execute the plan against
    # the new files (wrong counts, or failure on vanished files)
    n_in = incoming.count()
    if _has_data(spark, path):
        existing = spark.read.parquet(path)
        kept = existing.join(incoming.select(*key_cols), key_cols, "left_anti")
        n_existing = existing.count()
        n_kept = kept.count()
        merged = kept.unionByName(incoming)
        # rewrite must not read its own output mid-plan: materialize first
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
        return {"updated": n_existing - n_kept, "inserted": n_in - (n_existing - n_kept)}
    incoming.write.mode("overwrite").parquet(path)
    return {"updated": 0, "inserted": n_in}


def merge_apply_cdc(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> dict[str, int]:
    """Apply a CDC change batch (``op`` ∈ {'I','U','D'}) to a keyed
    parquet table: upserts replace/insert, deletes remove the key —
    the Debezium/DMS-feed apply step, and the full-generality sibling
    of ``merge_upsert``. ``seq_col`` (e.g. the source LSN / change
    timestamp) picks the LAST change per key within the batch; without
    it the batch must carry at most one change per key.

    Same copy-on-write plan a Delta/Iceberg MERGE executes (minus file
    skipping): one window (or dropDuplicates) to collapse the batch,
    one anti-join to retire matched keys, one union of the surviving
    upserts. Returns upserted/deleted counts.
    """
    from pyspark.sql.window import Window as W

    if seq_col is not None:
        w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        latest = changes.dropDuplicates(key_cols)
    # NULL-safe op split: `op != 'D'` is NULL for a NULL op, so a
    # malformed change row would fall out of BOTH branches while its
    # key still retires from `touched` — the row would be silently
    # DELETED. Contract: only an explicit 'D' deletes; every other op
    # value (I/U/unknown/NULL) upserts.
    is_delete = F.col(op_col).eqNullSafe("D")
    upserts = latest.filter(~is_delete).drop(op_col, *( [seq_col] if seq_col else [] ))
    deletes = latest.filter(is_delete).select(*key_cols)
    n_up = upserts.count()
    n_del = deletes.count()
    if _has_data(spark, path):
        existing = spark.read.parquet(path)
        touched = latest.select(*key_cols)
        kept = existing.join(touched, key_cols, "left_anti")
        merged = kept.unionByName(upserts)
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
        return {"upserted": n_up, "deleted": n_del}
    upserts.write.mode("overwrite").parquet(path)
    return {"upserted": n_up, "deleted": n_del}


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, F.Column] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Write ``df`` and collect pipeline metrics from the SAME pass
    using ``df.observe`` — the zero-extra-scan form of the S5
    run-summary / S15 verification probes. The reference re-reads its
    outputs to count them (data_verification.py:31-65 lists S3 objects,
    :88-106 re-counts rows in SQL); ``observe`` instead accumulates
    aggregates on the executors WHILE the write action runs, so at
    100 TB the metrics are free — no second 100 TB scan, no extra
    shuffle (observed aggregates merge like any partial agg).

    ``metrics`` maps metric name → aggregate Column (count/sum/min/max
    — the observe contract requires aggregates with no distinct);
    defaults to ``n_rows``. Returns the collected metric dict after
    the write completes. Gate-style use: call, then assert
    ``out["n_rows"] > 0`` — the verification Choice-state with zero
    re-read cost. ``partition_cols`` lays the output out as
    ``write_partitioned`` does.
    """
    from pyspark.sql import Observation

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation()
    named = [c.alias(name) for name, c in metrics.items()]
    observed = df.observe(obs, *named)
    observed.write.partitionBy(*partition_cols).format(fmt).mode(mode).save(path)
    return dict(obs.get)
