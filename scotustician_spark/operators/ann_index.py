"""Persistent IVFPQ ANN index: build once, probe many times.

The one-shot ANN queries (``similarity.ivfpq_topk_onestep``,
``similarity.ann_rerank_topk``) rebuild the quantizer + codebooks +
codes inside every invocation — correct for a batch job, wrong for
serving: at 100 TB an index is built once, persisted, and probed by
every query thereafter (the reference's analog is pgvector's
persistent index, database/lambda/schema.sql:127-160; the design here
is FAISS IVFADC's on-disk layout re-expressed as parquet tables).

Index layout on disk (all parquet, any Spark-supported filesystem):

- ``centroids/``  (cell int, centroid array<double>) — n_cells rows.
- ``codebooks/``  (j int, code int, cw array<double>) — m × n_codes
  rows. Both tiny; broadcast at probe time.
- ``codes/``      (id, codes array<int>) PARTITIONED BY cell — the
  compressed corpus: m small ints per vector (m bytes each in the
  FAISS layout; parquet dictionary+RLE gets close). Partitioning by
  cell is the inverted-list structure made physical: a probe reads
  ONLY its probed cells' directories (partition pruning), so probe
  scan cost is |probed lists| × m — independent of corpus size.
- ``vectors/``    (id, vec array<...>) sorted by id within partitions
  — the raw vectors for the exact re-rank stage, range-laid-out so a
  candidate-id join prunes row groups via parquet min/max stats.
- ``meta/``       one JSON row of build parameters, written through
  Spark (portable to any FS; no driver-local file I/O).

Determinism: the build is ``similarity.ivfpq_build`` — one-step-Lloyd
seeds from lowest-id vectors, distances rounded before every argmin —
so rebuilding from the same corpus reproduces the index exactly, and
parquet round-trips doubles/ints losslessly: probing a persisted
index returns bit-identical results to probing the in-memory build
(the oracle-parity tests pin this).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    _d2r,
    _pq_subvecs,
    exact_rerank,
    ivfflat_probe,
    ivfpq_build,
    ivfpq_probe,
    lloyd_assignments,
)


@dataclass
class IvfPqIndex:
    """Handle to the four index relations plus the build parameters.

    ``codes`` is LONG-FORM here — (cid, cell, j, code), m rows per
    vector — the shape both the probe join and the packed writer
    consume; ``read_ivfpq_index`` unpacks the stored array form back
    to it lazily (a map-side posexplode, no shuffle).
    """

    centroids: DataFrame  # (cell, centroid)
    codebooks: DataFrame  # (j, code, cw)
    codes: DataFrame      # (cid, cell, j, code)
    vectors: DataFrame    # (cid, c_vec)
    params: dict
    # (centroid rows, codebook rows), collected by the first probe
    _quantizer: tuple | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def quantizer_rows(self) -> tuple[list, list]:
        """The parameter-bounded quantizer tables as sorted local rows
        — [(cell, centroid)] and [(j, code, cw)] — collected once per
        handle: the serving reality (FAISS keeps them in RAM)."""
        if self._quantizer is None:
            self._quantizer = (
                sorted((int(r[0]), list(r[1])) for r in self.centroids.collect()),
                sorted(
                    (int(r[0]), int(r[1]), list(r[2]))
                    for r in self.codebooks.collect()
                ),
            )
        return self._quantizer


def build_ivfpq_index(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    m: int = 4,
    n_codes: int = 8,
    d2_round: int = 6,
) -> IvfPqIndex:
    """Construct the index relations (lazy — nothing materializes until
    written or probed). Raw vectors ride along for the re-rank stage."""
    cents, cbs, codes = ivfpq_build(
        corpus, dim, id_col, vec_col, n_cells, m, n_codes, d2_round
    )
    vectors = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec")
    )
    return IvfPqIndex(
        centroids=cents,
        codebooks=cbs,
        codes=codes,
        vectors=vectors,
        params={
            "dim": dim,
            "n_cells": n_cells,
            "m": m,
            "n_codes": n_codes,
            "d2_round": d2_round,
        },
    )


def write_ivfpq_index(index: IvfPqIndex, path: str) -> None:
    """Persist the index under ``path``. Codes pack to one row per
    vector — (cid, codes[]) partitioned by cell (the inverted lists);
    every vector has exactly m codes for j = 0..m-1, so position i of
    the sorted array IS subspace i and the long form reconstructs
    losslessly. Vectors range-lay-out by id for candidate-fetch
    row-group pruning."""
    m = index.params["m"]
    _require_integral_ids(index.codes, "cid", "write_ivfpq_index")
    index.centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    index.codebooks.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )
    packed = (
        index.codes.groupBy("cid", "cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("j", "code"))).alias("jc")
        )
        # pin the serialized types: the read side supplies this schema
        # explicitly, so an EMPTY corpus (cell-partitioned write emits
        # zero data files) still round-trips instead of failing
        # schema inference
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("cell").cast("int").alias("cell"),
            F.col("jc.code").cast("array<int>").alias("codes"),
        )
    )
    packed.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    (
        index.vectors.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid")
        .write.mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    spark = index.centroids.sparkSession
    from pyspark.sql import Row

    spark.createDataFrame([Row(**index.params)]).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/meta")


def read_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Open a persisted index. Codes unpack to long form with a
    map-side posexplode; the cell partition column survives as a real
    column, so the probe's cell equi-join can partition-prune."""
    meta = spark.read.json(f"{path}/meta").collect()[0].asDict()
    params = {
        k: int(meta[k]) for k in ("dim", "n_cells", "m", "n_codes", "d2_round")
    }
    packed = spark.read.schema("cid long, codes array<int>, cell int").parquet(
        f"{path}/codes"
    )
    codes = packed.select(
        "cid",
        "cell",
        F.posexplode("codes").alias("j", "code"),
    ).withColumn("j", F.col("j").cast("int"))
    return IvfPqIndex(
        centroids=spark.read.parquet(f"{path}/centroids"),
        codebooks=spark.read.parquet(f"{path}/codebooks"),
        codes=codes,
        vectors=spark.read.parquet(f"{path}/vectors"),
        params=params,
    )


def append_to_ivfpq_index(
    index: IvfPqIndex,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """Incremental index maintenance — the FAISS ``add()`` contract:
    centroids and codebooks are FROZEN (retraining is a rebuild
    decision, made offline when drift warrants it); new vectors are
    assigned to their nearest existing cell, their residuals encoded
    with the existing codebooks, and the (codes, vectors) relations
    grow by exactly |delta|. The base corpus is never rescanned —
    the partial-state-merge discipline (MV / top-k / components
    family) applied to the ANN index. Cost: two broadcast joins over
    the delta only.

    Probing the appended index is exactly equivalent to probing an
    index whose build had quantized the delta with the same frozen
    quantizer — the differential tests pin appended codes equal to
    direct encoding. Persist the result with ``write_ivfpq_index`` to
    a NEW path (the versioned ``publish_ivfpq_version`` /
    ``ivfpq_stream_sink`` flow): the appended relations lazily READ
    the source index's files, so writing back onto the SAME path is a
    self-overwrite — Spark rejects it ("Cannot overwrite a path that
    is also being read from"), and cutting lineage to force it through
    would drop the old version a concurrent reader may hold open.
    """
    p = index.params
    dim, m, d2r = p["dim"], p["m"], p["d2_round"]
    sub = dim // m
    d = delta.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))

    # nearest existing cell per delta vector (struct-min argmin — same
    # rounding/tie-break discipline as the build; the distance is the
    # SHARED _d2r kernel so the appended-equals-direct-encoding
    # parity can never drift from a one-sided edit)
    assigned = (
        d.crossJoin(F.broadcast(index.centroids))
        .withColumn("d2r", _d2r("c_vec", "centroid", d2r))
        .groupBy("cid")
        .agg(F.min(F.struct("d2r", "cell", "c_vec")).alias("__m"))
        .select(
            "cid",
            F.col("__m.cell").alias("cell"),
            F.col("__m.c_vec").alias("c_vec"),
        )
    )
    resid = assigned.join(F.broadcast(index.centroids), "cell").select(
        "cid",
        "cell",
        F.zip_with("c_vec", "centroid", lambda x, ce: x - ce).alias("r_vec"),
    )
    rsub = _pq_subvecs(resid, ["cid", "cell"], "r_vec", m, sub)
    new_codes = (
        rsub.join(F.broadcast(index.codebooks), "j")
        .withColumn("d2c", _d2r("sv", "cw", d2r))
        .groupBy("cid", "cell", "j")
        .agg(F.min(F.struct("d2c", "code")).alias("__m"))
        .select("cid", "cell", "j", F.col("__m.code").alias("code"))
    )
    return IvfPqIndex(
        centroids=index.centroids,
        codebooks=index.codebooks,
        codes=index.codes.select("cid", "cell", "j", "code").unionByName(
            new_codes
        ),
        vectors=index.vectors.unionByName(d),
        params=dict(index.params),
    )


# ---- IVF-flat (raw-vector inverted lists, pgvector ivfflat) --------

@dataclass
class IvfFlatIndex:
    """The simpler serving sibling of IVFPQ — pgvector's ``ivfflat``
    layout: raw vectors stored in cell-partitioned inverted lists,
    probed cells re-ranked EXACTLY (no compression, no re-rank stage
    needed). Right when vectors fit the storage budget and probe
    selectivity alone bounds the scan; IVFPQ takes over when the
    vector bytes themselves are the bottleneck."""

    centroids: DataFrame  # (cell, centroid)
    vectors: DataFrame    # (cid, cell, c_vec)
    params: dict


def build_ivfflat_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    d2_round: int = 6,
) -> IvfFlatIndex:
    """One-step-Lloyd cells over the corpus; vectors keep their raw
    form, labeled by cell (the inverted-list key). Same deterministic
    quantizer as the IVFPQ build, so the same SQL oracle family
    replays it."""
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    assigned, cents = lloyd_assignments(c, n_cells, 1, d2_round)
    return IvfFlatIndex(
        centroids=cents,
        vectors=assigned.select("cid", "cell", "c_vec"),
        params={"n_cells": n_cells, "d2_round": d2_round},
    )


def _require_integral_ids(df: DataFrame, id_col: str, who: str) -> None:
    """The persisted-index tables pin ``cid long`` so empty corpora
    round-trip without schema inference; a non-integral id column
    would silently CAST TO NULL (every probe would then return NULL
    neighbor_ids and rerank joins would match nothing — a round-7
    review finding). Fail fast with the remedy instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    t = df.schema[id_col].dataType
    if not isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{who} requires an integral id column; {id_col} is "
            f"{t.simpleString()} — map ids to longs first (e.g. "
            "xxhash64(id), keeping a side table for the reverse lookup)"
        )


def write_ivfflat_index(index: IvfFlatIndex, path: str) -> None:
    """Persist the IVF-flat index. ``c_vec`` keeps its NATIVE element
    type, recorded in the meta file so the read side can pin the
    schema without inference (empty-corpus round-trip) — the former
    unconditional float32 cast silently truncated float64 vectors by
    ~29 mantissa bits, so a persisted-then-read index could re-rank
    differently than the in-memory twin at a rounded-sim tie (round-7
    review finding)."""
    _require_integral_ids(index.vectors, "cid", "write_ivfflat_index")
    vt = index.vectors.schema["c_vec"].dataType.simpleString()
    index.centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    (
        index.vectors.select(
            F.col("cid").cast("long").alias("cid"),
            F.col("cell").cast("int").alias("cell"),
            F.col("c_vec"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    spark = index.centroids.sparkSession
    from pyspark.sql import Row

    spark.createDataFrame(
        [Row(**index.params, c_vec_type=vt)]
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def read_ivfflat_index(spark: SparkSession, path: str) -> IvfFlatIndex:
    meta = spark.read.json(f"{path}/meta").collect()[0].asDict()
    # pre-round-7 indexes carry no c_vec_type and WERE written float32
    vt = meta.get("c_vec_type") or "array<float>"
    return IvfFlatIndex(
        centroids=spark.read.parquet(f"{path}/centroids"),
        vectors=spark.read.schema(
            f"cid long, c_vec {vt}, cell int"
        ).parquet(f"{path}/vectors"),
        params={k: int(meta[k]) for k in ("n_cells", "d2_round")},
    )


def probe_ivfflat_index(
    index: IvfFlatIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    sim_round: int = 6,
) -> DataFrame:
    """Exact cosine top-k inside each query's ``n_probe`` nearest
    cells: ``similarity.ivfflat_probe`` over the index, so the vectors
    scan partition-prunes to the probed lists. Identical results to
    ``similarity.ivf_topk_onestep`` (the oracle anchor) minus the
    per-call quantizer build."""
    inverted = index.vectors.select(F.col("cid").alias("neighbor_id"), "cell", "c_vec")
    return ivfflat_probe(
        index.centroids, inverted, queries, id_col, vec_col, k, n_probe,
        index.params["d2_round"], sim_round,
    )


# ---- deletes: tombstones + compaction ------------------------------

def delete_from_ivfpq_index(
    index: IvfPqIndex, ids: DataFrame, id_col: str = "vec_id"
) -> IvfPqIndex:
    """The FAISS ``remove_ids()`` contract: the quantizer is FROZEN
    (centroids/codebooks untouched — retraining is a rebuild decision)
    and the doomed rows drop from codes and vectors via broadcast
    anti-joins. Delete sets are small relative to the corpus in the
    serving reality this models; a bulk purge warrants a rebuild.
    Ranks re-pack densely because the exclusion happens BEFORE the
    per-query top-k, not by post-filtering ranked output."""
    doom = ids.select(F.col(id_col).alias("cid")).distinct()
    return IvfPqIndex(
        centroids=index.centroids,
        codebooks=index.codebooks,
        codes=index.codes.join(F.broadcast(doom), "cid", "left_anti"),
        vectors=index.vectors.join(F.broadcast(doom), "cid", "left_anti"),
        params=dict(index.params),
    )


def write_tombstones(
    ids: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Record deletions WITHOUT touching the index tables — the
    pgvector-DELETE / FAISS-IDSelector analog for an immutable-file
    store: appends the id set to ``path/tombstones`` (pinned one-column
    schema). Serving reads tombstones (tiny, broadcast) and anti-joins
    them until a compaction folds them in. Append-mode writes make
    repeated deletes idempotent in effect: duplicates collapse at read
    time."""
    _require_integral_ids(ids, id_col, "write_tombstones")
    ids.select(F.col(id_col).cast("long").alias("cid")).distinct().coalesce(
        1
    ).write.mode("append").parquet(f"{path}/tombstones")


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop FS existence probe (any scheme the session can reach).
    Only a MISSING path may mean 'empty state' — genuine read errors
    (transient FS failure, corrupt footer) must propagate, otherwise a
    server would silently serve deleted vectors or re-publish v1 over
    an existing 'immutable' version dir."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def read_tombstones(spark: SparkSession, path: str) -> DataFrame:
    """The live tombstone set (distinct cids; empty frame when none
    were ever written — schema pinned, never inferred). Emptiness is
    decided by an FS existence probe, not by swallowing read errors."""
    if not _fs_exists(spark, f"{path}/tombstones"):
        return spark.createDataFrame([], "cid long")
    return spark.read.schema("cid long").parquet(f"{path}/tombstones").distinct()


def read_ivfpq_index_live(spark: SparkSession, path: str) -> IvfPqIndex:
    """Open a persisted index with its tombstones applied — what a
    server probes between compactions. Cost over the plain open: one
    broadcast anti-join per probed relation."""
    return delete_from_ivfpq_index(
        read_ivfpq_index(spark, path), read_tombstones(spark, path), "cid"
    )


def compact_ivfpq_index(spark: SparkSession, path: str) -> dict:
    """Fold tombstones into the persisted tables — offline maintenance,
    the RocksDB-compaction analog for the parquet index layout:

    - codes/: ONLY the cell partitions that contain a doomed id are
      rewritten (dynamic partition overwrite); untouched inverted
      lists' files are not moved — at 100 TB a compaction's write cost
      is proportional to the AFFECTED lists, not the corpus. A cell
      left EMPTY by the deletes can't be expressed by a zero-row
      dynamic overwrite, so its directory is removed through the
      Hadoop FileSystem API (works on any Spark-supported store).
    - vectors/: rewritten minus the doomed ids (kept simple: between
      compactions probe correctness never depends on vectors, because
      candidates come from codes).
    - tombstones/: truncated to the empty pinned-schema relation.

    Returns {"removed": n, "cells_rewritten": n, "cells_dropped": n}.
    Idempotent: a second call is a no-op."""
    tombs = read_tombstones(spark, path).localCheckpoint(eager=True)
    n_doom = tombs.count()
    if n_doom == 0:
        return {"removed": 0, "cells_rewritten": 0, "cells_dropped": 0}
    packed = spark.read.schema("cid long, codes array<int>, cell int").parquet(
        f"{path}/codes"
    )
    touched = (
        packed.join(F.broadcast(tombs), "cid")
        .select("cell")
        .distinct()
        .localCheckpoint(eager=True)
    )
    survivors = (
        packed.join(F.broadcast(touched), "cell")
        .join(F.broadcast(tombs), "cid", "left_anti")
        .localCheckpoint(eager=True)  # read fully BEFORE overwriting
    )
    emptied = [
        r["cell"]
        for r in touched.join(
            survivors.select("cell").distinct(), "cell", "left_anti"
        ).collect()
    ]
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        survivors.select("cid", "codes", "cell").write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(f"{path}/codes")
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    if emptied:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for cell in emptied:
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/codes/cell={cell}")
            p.getFileSystem(hconf).delete(p, True)
    vecs = (
        spark.read.parquet(f"{path}/vectors")
        .join(F.broadcast(tombs), "cid", "left_anti")
        .localCheckpoint(eager=True)
    )
    (
        vecs.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid")
        .write.mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    spark.createDataFrame([], "cid long").write.mode("overwrite").parquet(
        f"{path}/tombstones"
    )
    return {
        "removed": n_doom,
        "cells_rewritten": touched.count() - len(emptied),
        "cells_dropped": len(emptied),
    }


def ivfpq_tombstone_sink(
    path: str,
    id_col: str = "vec_id",
    compact_threshold: int | None = None,
):
    """``foreachBatch`` function maintaining the DELETE side of a
    persisted index from a stream of doomed ids (the CDC-delete feed):
    each micro-batch appends its ids to the tombstone set; when the
    live set reaches ``compact_threshold`` the compaction folds it in.

    Replay-safe without any keyed state: tombstone appends are
    idempotent in effect (the reader distincts) and ``compact`` is
    idempotent, so a batch replayed after checkpoint recovery changes
    nothing observable. A serving job that OPENS
    ``read_ivfpq_index_live`` before or after a compaction sees the
    same live rows. CAVEAT (round-7 review): the live view is LAZY —
    a single query whose codes scan and tombstone scan straddle a
    compaction's commit window can pair pre-compaction codes with the
    post-compaction (truncated) tombstone set and briefly serve doomed
    ids. Snapshot-isolated overlap needs the versioned flow
    (``publish_ivfpq_version`` per compaction); on this single-writer
    in-place path, re-open the index per query and avoid running
    probes concurrently with the compaction.

    Use::

        deletes.writeStream.foreachBatch(ivfpq_tombstone_sink(path, compact_threshold=1000))
               .option("checkpointLocation", cp).trigger(availableNow=True)
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select(id_col).dropDuplicates([id_col])
        if not ids.take(1):
            return
        write_tombstones(ids, path, id_col)
        if compact_threshold is not None:
            spark = batch_df.sparkSession
            if read_tombstones(spark, path).count() >= compact_threshold:
                compact_ivfpq_index(spark, path)

    return apply_batch


# ---- versioned publication + streaming maintenance ----------------

def _scan_complete_versions(spark: SparkSession, root: str) -> int | None:
    """Highest COMPLETE version dir under ``root`` (``v<N>`` whose
    ``meta/_SUCCESS`` exists — meta is the LAST dir both
    write_ivfpq_index and write_ivfflat_index commit, and writes are
    sequential, so its marker implies every other table landed; a
    crash between vectors and meta leaves a version this scan
    correctly skips — round-8 review finding). The recovery source of
    truth when the LATEST pointer is
    missing or torn."""
    import re

    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    rp = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(rp):
        return None
    best = None
    for st in fs.listStatus(rp):
        m = re.fullmatch(r"v(\d+)", st.getPath().getName())
        if m and _fs_exists(
            spark, f"{root}/v{m.group(1)}/meta/_SUCCESS"
        ):
            best = max(best or 0, int(m.group(1)))
    return best


def _latest_version(spark: SparkSession, root: str) -> int | None:
    """Read the LATEST pointer (one JSON row written through Spark).
    A MISSING or EMPTY pointer falls back to scanning the version dirs
    (a crash between the pointer delete and its rewrite must not reset
    versioning to v1 — that would overwrite an existing 'immutable'
    version and orphan the rest, the round-7 review's torn-flip
    scenario); a pointer that exists but can't be READ still raises —
    a transient FS error must propagate, not downgrade the version."""
    if not _fs_exists(spark, f"{root}/LATEST"):
        return _scan_complete_versions(spark, root)
    # explicit schema: an EMPTY pointer dir (crash mid-write) must read
    # as zero rows, not throw schema inference
    rows = spark.read.schema("version long").json(f"{root}/LATEST").collect()
    if not rows:  # pointer dir exists but is EMPTY: the torn state
        return _scan_complete_versions(spark, root)
    if "version" not in rows[0].asDict() or rows[0]["version"] is None:
        # present-but-garbage is CORRUPTION, not a torn flip: raise
        raise ValueError(f"corrupt LATEST pointer under {root}")
    return int(rows[0]["version"])


def publish_ivfpq_version(index: IvfPqIndex, root: str) -> int:
    """Publish ``index`` as the next immutable version under
    ``root/v<N>`` and flip the LATEST pointer — the serving contract
    for index updates: a reader that opened v<N-1> keeps a consistent
    snapshot while v<N> lands, and the pointer flip is the only
    mutation. The flip writes to a temp dir then RENAMES over LATEST
    (atomic on HDFS/local; on S3-like stores pair with conditional
    puts), and even a torn flip is healed: ``_latest_version`` falls
    back to scanning the complete version dirs, so recovery never
    resets to v1 over existing versions. Returns N."""
    spark = index.centroids.sparkSession
    cur = _latest_version(spark, root)
    nxt = 1 if cur is None else cur + 1
    write_ivfpq_index(index, f"{root}/v{nxt}")
    from pyspark.sql import Row

    tmp = f"{root}/LATEST__tmp"
    spark.createDataFrame([Row(version=nxt)]).coalesce(1).write.mode(
        "overwrite"
    ).json(tmp)
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    dst = jvm.org.apache.hadoop.fs.Path(f"{root}/LATEST")
    if fs.exists(dst):
        fs.delete(dst, True)
    # Hadoop rename signals failure by RETURNING false, not raising;
    # swallowing it would leave LATEST deleted and the tmp dir
    # lingering while readers silently depend on the scan fallback
    # (round-8 review finding). The version dir itself is committed
    # either way, so the raise is safe to retry: the next publish
    # continues from the scan.
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), dst):
        raise IOError(
            f"failed to flip LATEST -> v{nxt} under {root}: "
            f"rename({tmp}) returned false; the version dir is "
            "committed and recoverable via the version scan"
        )
    return nxt


def read_latest_ivfpq(spark: SparkSession, root: str) -> IvfPqIndex:
    v = _latest_version(spark, root)
    if v is None:
        raise FileNotFoundError(
            f"no published index version under {root} — bootstrap with "
            "build_ivfpq_index(...) + publish_ivfpq_version(index, root) "
            "before serving or streaming appends (ivfpq_stream_sink "
            "needs an existing quantizer: appends are frozen-quantizer)"
        )
    return read_ivfpq_index(spark, f"{root}/v{v}")


def ivfpq_stream_sink(
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` function maintaining a versioned IVFPQ index
    from a stream of new vectors: per micro-batch, open LATEST,
    anti-join the batch against the index's own vectors (ids already
    indexed are skipped — a REPLAYED batch after checkpoint recovery
    publishes nothing twice, the repo's MERGE/idempotency discipline),
    frozen-quantizer append, publish the next version. Versioning
    means the self-overwrite hazard never exists: the new version is
    written to a fresh directory while the old one remains readable.

    Use::

        stream.writeStream.foreachBatch(ivfpq_stream_sink(root))
              .option("checkpointLocation", cp).trigger(availableNow=True)
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = read_latest_ivfpq(spark, root)
        seen = idx.vectors.select(F.col("cid").alias(id_col))
        fresh = (
            batch_df.select(id_col, vec_col)
            .dropDuplicates([id_col])
            .join(seen, id_col, "left_anti")
            # materialize: the append below must not lazily re-read
            # LATEST-version tables mid-publish
            .localCheckpoint(eager=True)
        )
        if not fresh.take(1):
            return
        publish_ivfpq_version(append_to_ivfpq_index(idx, fresh, id_col, vec_col), root)

    return apply_batch


def probe_ivfpq_index(
    index: IvfPqIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """ADC top-k against a (possibly persisted) index — the serving
    path: broadcast centroids pick each query's n_probe cells,
    broadcast codebooks build the per-(query, cell) lookup table, the
    codes relation joins on (cell, j, code). With a persisted index
    the codes scan touches only probed cell partitions; nothing here
    depends on corpus size or on the build.

    The parameter-bounded quantizer tables (n_cells centroids,
    m×n_codes codewords) collect once per opened index and cache on
    the handle (``IvfPqIndex.quantizer_rows``)."""
    p = index.params
    cents_rows, cb_rows = index.quantizer_rows()
    return ivfpq_probe(
        cents_rows, cb_rows, index.codes, queries, p["dim"], id_col, vec_col,
        k, n_probe, p["m"], p["d2_round"],
    )


def rerank_from_index(
    index: IvfPqIndex,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_candidates: int = 50,
    n_probe: int = 2,
    sim_round: int = 6,
) -> DataFrame:
    """Two-stage serving from the persisted index: the ADC probe
    nominates ``n_candidates`` per query, then ONLY that sliver's raw
    vectors (the index's own ``vectors`` table — id-range-sorted, so
    the fetch prunes row groups) are read for the exact cosine re-rank
    to ``k``. Identical semantics to ``similarity.ann_rerank_topk``
    minus the per-call index build."""
    cands = probe_ivfpq_index(
        index, queries, id_col, vec_col, k=n_candidates, n_probe=n_probe
    ).select("query_id", "neighbor_id")
    c = index.vectors.select(F.col("cid").alias("neighbor_id"), "c_vec")
    return exact_rerank(cands, c, queries, id_col, vec_col, k, sim_round)
