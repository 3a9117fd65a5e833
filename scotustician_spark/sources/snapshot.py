"""Versioned publication of table groups — the package's one crash-safe
publish protocol, and its one Hadoop-FileSystem helper.

The reference publishes related outputs as independent S3 writes, so a
reader can observe table A from run N and table B from run N−1. Here a
GROUP of relations is written as one unit, and a versioned root holds
immutable groups behind a pointer:

    root/
      v1/<table>/...      parquet per table (partition columns as dirs)
      v1/_MANIFEST        JSON: each table's schema and row count (observed
                          during the write), plus the caller's fields —
                          written LAST inside the group; a group is
                          complete iff its _MANIFEST exists
      LATEST              {"version": N}: written to a temp file, then
                          renamed over the old pointer — flipped LAST

Everything outside the parquet writes goes through the Hadoop FS, so no
Spark job runs to resolve a version or open a group: the manifest pins
every table's schema (no inference) and carries the caller's metadata.
A crash mid-publish leaves a version without _MANIFEST (ignored, and
reused by the next publish) or a complete version the pointer does not
name yet (never overwritten: the next version number is past both).

Callers: every persisted ANN index is a group and every served index
version a published one (operators/ann_index.py), and
``streaming.incremental.exactly_once_merge_sink`` publishes one version
per applied micro-batch. On S3-like stores pair the pointer flip with a
conditional put; in a Delta/Iceberg deployment this is a multi-table
transaction or a single COMMIT on a shared catalog.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .sinks import observed_write

MANIFEST = "_MANIFEST"


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` — any scheme the session can
    reach (file://, hdfs://, s3a://)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def read_bytes(spark: SparkSession, path: str) -> bytes:
    # commons-io (on Spark's classpath via Hadoop) drains the stream
    # JVM-side; a Python-side read(byte[]) loop would see nothing —
    # py4j passes arrays by value, so Java-side mutation is lost
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        io = spark.sparkContext._jvm.org.apache.commons.io.IOUtils
        return bytes(io.toByteArray(stream))
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()


def _replace(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` over ``dst``. Hadoop rename refuses an existing
    target, so the old file goes first; a crash in between leaves no
    pointer, which ``latest`` heals from the newest complete version.
    A rename that RETURNS false (Hadoop's failure signal) raises."""
    fs, hdst = hadoop_fs(spark, dst)
    _, hsrc = hadoop_fs(spark, src)
    if fs.exists(hdst):
        fs.delete(hdst, False)
    if not fs.rename(hsrc, hdst):
        raise IOError(f"rename({src} -> {dst}) returned false")


def write_group(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    path: str,
    fields: dict | None = None,
    partition_by: dict[str, tuple[str, ...]] | None = None,
) -> dict:
    """Write ``tables`` as parquet under ``path/<name>`` (in dict order,
    ``partition_by[name]`` as partition columns), then ``_MANIFEST``.
    A stale manifest is removed first, so a group rewritten in place is
    incomplete until its new manifest lands. Returns the manifest."""
    fs, hmanifest = hadoop_fs(spark, f"{path}/{MANIFEST}")
    if fs.exists(hmanifest):
        fs.delete(hmanifest, False)
    entries = {}
    for name, df in tables.items():
        parts = tuple((partition_by or {}).get(name, ()))
        n = observed_write(df, f"{path}/{name}", partition_cols=parts)["n_rows"]
        # the read side's column order: partition columns come last
        schema = StructType(
            [f for f in df.schema if f.name not in parts]
            + [df.schema[p] for p in parts]
        )
        entries[name] = {"schema": schema.jsonValue(), "rows": n}
    manifest = {**(fields or {}), "tables": entries}
    _write_text(spark, f"{path}/{MANIFEST}", json.dumps(manifest))
    return manifest


def open_group(spark: SparkSession, path: str) -> tuple[dict[str, DataFrame], dict]:
    """``(tables, manifest)`` of a complete group: each table opens with
    the schema its manifest pins, so no Spark job runs (and an empty
    partitioned table, which has no data files, still opens)."""
    manifest = json.loads(read_bytes(spark, f"{path}/{MANIFEST}"))
    tables = {
        name: spark.read.schema(StructType.fromJson(t["schema"])).parquet(
            f"{path}/{name}"
        )
        for name, t in manifest["tables"].items()
    }
    return tables, manifest


def _complete_versions(spark: SparkSession, root: str) -> list[int]:
    fs, hroot = hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return []
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit() and fs.exists(
            Path(st.getPath(), MANIFEST)
        ):
            out.append(int(name[1:]))
    return sorted(out)


def latest(spark: SparkSession, root: str) -> int | None:
    """The version LATEST names. A missing or EMPTY pointer (a crash
    inside the flip) heals from the newest complete version, None when
    there is none; a pointer that is present but garbage RAISES (never
    silently restart at v1 over immutable versions)."""
    fs, hpath = hadoop_fs(spark, f"{root}/LATEST")
    text = read_bytes(spark, f"{root}/LATEST").strip() if fs.exists(hpath) else b""
    if not text:
        done = _complete_versions(spark, root)
        return done[-1] if done else None
    return int(json.loads(text)["version"])


def publish(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    root: str,
    fields: dict | None = None,
    partition_by: dict[str, tuple[str, ...]] | None = None,
) -> int:
    """Write ``tables`` as the next immutable version ``root/v<N>`` and
    flip LATEST to it; returns N. Write order is the whole safety
    argument: tables → _MANIFEST (version complete) → pointer temp file
    → rename (readers now see it). N is past BOTH the pointer and the
    newest complete version: a crash between the manifest and the flip
    leaves v<N> complete but unnamed, and must never be overwritten."""
    cur = latest(spark, root) or 0
    nxt = max(cur, max(_complete_versions(spark, root), default=0)) + 1
    write_group(
        spark, tables, f"{root}/v{nxt}", {"version": nxt, **(fields or {})},
        partition_by,
    )
    _write_text(spark, f"{root}/_LATEST.tmp", json.dumps({"version": nxt}))
    _replace(spark, f"{root}/_LATEST.tmp", f"{root}/LATEST")
    return nxt


def read(
    spark: SparkSession, root: str, version: int | None = None
) -> dict[str, DataFrame]:
    """A CONSISTENT multi-table view: every returned relation reads
    from the same immutable ``v<N>/`` — publications after the resolve
    are invisible. ``version=None`` resolves LATEST; an explicit
    version gives time travel over retained versions."""
    v = latest(spark, root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version under {root}")
    return open_group(spark, f"{root}/v{v}")[0]


def prune(spark: SparkSession, root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` COMPLETE versions (incomplete
    crash leftovers are removed too, except anything at or above the
    newest kept version). The version LATEST points to is never
    dropped, even in a torn-publish state where a newer complete-but-
    unpointed version exists — pruning the pointer's target would
    break every ``read()``. Returns the dropped versions."""
    fs, hroot = hadoop_fs(spark, root)
    done = _complete_versions(spark, root)
    cutoff = done[-keep] if len(done) >= keep else (done[0] if done else 0)
    pointed = latest(spark, root)
    if pointed is not None:
        cutoff = min(cutoff, pointed)
    dropped = []
    if not fs.exists(hroot):
        return dropped
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < cutoff:
            fs.delete(st.getPath(), True)
            dropped.append(int(name[1:]))
    return sorted(dropped)
