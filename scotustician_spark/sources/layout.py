"""Storage-layout operators: compaction and sort-ordered writes.

The reference's layout management is implicit (one S3 object per
ingest write, ingest/main.py:299-310 — which at scale produces the
classic small-files problem; and b-tree indexes on the warehouse,
schema.sql:127-160). The Spark-native equivalents:

- ``compact`` — rewrite a directory of many small files into
  size-targeted files. At 100 TB, listing + opening millions of tiny
  parquet files dominates scan time long before row decoding does;
  periodic compaction keeps file count ∝ data size / target.
- ``write_range_sorted`` — range-repartition + in-partition sort
  before writing, so each parquet file (and row group) covers a
  disjoint, narrow key interval. Parquet min/max statistics then let
  pushed-down predicates skip whole row groups — the open-format
  replacement for the reference's b-tree indexes (and the poor
  man's Z-order for a single key).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _total_input_bytes(spark: SparkSession, df: DataFrame) -> int:
    """Sum file sizes through the Hadoop FS API (works on any
    supported filesystem, not just local)."""
    from .snapshot import hadoop_fs

    total = 0
    for uri in df.inputFiles():
        fs, path = hadoop_fs(spark, uri)
        total += fs.getFileStatus(path).getLen()
    return total


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Rewrite ``src_path`` (parquet) into ``dst_path`` with files
    sized toward ``target_file_bytes``. Returns the output file count.

    Uses a round-robin repartition (no key → no skew); pair with
    ``write_range_sorted`` when downstream reads filter on a key.
    """
    df = spark.read.parquet(src_path)
    n = max(1, math.ceil(_total_input_bytes(spark, df) / target_file_bytes))
    df.repartition(n).write.mode("overwrite").parquet(dst_path)
    return n


def write_range_sorted(
    df: DataFrame, path: str, sort_col: str, num_files: int | None = None
) -> None:
    """Write ``df`` as parquet with disjoint, internally-sorted key
    ranges per file: range-repartition on ``sort_col`` (sampled
    boundaries — balanced even on skewed distributions), then sort
    within partitions so every row group's min/max stats are tight."""
    part = df.repartitionByRange(num_files, sort_col) if num_files else df.repartitionByRange(
        sort_col
    )
    part.sortWithinPartitions(sort_col).write.mode("overwrite").parquet(path)


def zorder_value(cols: list[str], mins: list, maxs: list, bits: int = 8):
    """Z-order (Morton) value: equal-width bucket each column into
    2**bits cells, then bit-interleave the cell ids — nearby rows in
    EVERY clustered dimension get nearby z-values. Pure codegen
    bit arithmetic (no UDF). Equal-width cells are right for roughly
    uniform keys; swap the bucketing for approxQuantile boundaries
    when a dimension is heavily skewed."""
    from pyspark.sql import functions as F

    n = len(cols)
    z = F.lit(0).cast("long")
    for ci, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        span = float(hi) - float(lo)
        if span <= 0.0:
            # constant column: every row is the same cell; dividing by
            # a zero span would yield NULL (or raise under ANSI) and
            # least() would silently map every row to the top cell
            cell = F.lit(0).cast("long")
        else:
            cell = F.floor(
                (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * (1 << bits)
            ).cast("long")
            cell = F.least(F.lit((1 << bits) - 1), cell)
        # NULL column values get an explicit cell of their own (the top
        # one) instead of riding on least()'s null-skipping
        cell = F.coalesce(cell, F.lit((1 << bits) - 1).cast("long"))
        for i in range(bits):
            bit = F.shiftright(cell, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + ci))
    return z


def write_zordered(
    df: DataFrame, path: str, cols: list[str], bits: int = 8, num_files: int | None = None
) -> None:
    """Write ``df`` parquet Z-order-clustered on ``cols``: every file
    (and row group) covers a small hyper-rectangle of the clustered
    key space, so parquet min/max stats prune scans filtered on ANY
    of the columns — the multi-column generalization of
    ``write_range_sorted`` (which serves one key and leaves the others
    unsorted), and the open-format analog of Delta/Iceberg OPTIMIZE
    ZORDER. One stats pass + one range shuffle, no matter how many
    dimensions are clustered."""
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    ).collect()[0]
    z = zorder_value(cols, [stats[f"min_{c}"] for c in cols], [stats[f"max_{c}"] for c in cols], bits)
    zdf = df.withColumn("__z", z)
    part = (
        zdf.repartitionByRange(num_files, "__z") if num_files else zdf.repartitionByRange("__z")
    )
    part.sortWithinPartitions("__z").drop("__z").write.mode("overwrite").parquet(path)
