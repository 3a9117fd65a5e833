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
- ``_MANIFEST``   written LAST (``sources/snapshot.write_group``): each
  table's schema and row count plus the build parameters. An index is
  complete iff it exists, and opening one reads it through the Hadoop
  FS and pins every schema — no Spark job. Served versions publish
  through the same module (``publish_ivfpq_version``).

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

from ..sources import snapshot
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


def _ivfpq_group(index: IvfPqIndex) -> dict:
    """The index as ``snapshot`` group arguments (tables, fields,
    partition_by). Codes pack to one row per vector — (cid, codes[])
    partitioned by cell (the inverted lists); every vector has exactly
    m codes for j = 0..m-1, so position i of the sorted array IS
    subspace i and the long form reconstructs losslessly. Vectors
    range-lay-out by id for candidate-fetch row-group pruning."""
    _require_integral_ids(index.codes, "cid", "write_ivfpq_index")
    packed = (
        index.codes.groupBy("cid", "cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("j", "code"))).alias("jc")
        )
        # pin the serialized types: the manifest records this schema,
        # so an EMPTY corpus (cell-partitioned write emits zero data
        # files) still round-trips instead of failing schema inference
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.col("cell").cast("int").alias("cell"),
            F.col("jc.code").cast("array<int>").alias("codes"),
        )
    )
    tables = {
        "centroids": index.centroids.coalesce(1),
        "codebooks": index.codebooks.coalesce(1),
        "codes": packed,
        "vectors": index.vectors.repartitionByRange(F.col("cid"))
        .sortWithinPartitions("cid"),
    }
    return {
        "tables": tables,
        "fields": {"params": index.params},
        "partition_by": {"codes": ("cell",)},
    }


def write_ivfpq_index(index: IvfPqIndex, path: str) -> None:
    """Persist the index under ``path`` as one complete group."""
    spark = index.centroids.sparkSession
    snapshot.write_group(spark, path=path, **_ivfpq_group(index))


def read_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Open a persisted index. Codes unpack to long form with a
    map-side posexplode; the cell partition column survives as a real
    column, so the probe's cell equi-join can partition-prune. No Spark
    job runs: the manifest carries the params and pins every schema."""
    tables, manifest = snapshot.open_group(spark, path)
    codes = tables["codes"].select(
        "cid",
        "cell",
        F.posexplode("codes").alias("j", "code"),
    ).withColumn("j", F.col("j").cast("int"))
    return IvfPqIndex(
        centroids=tables["centroids"],
        codebooks=tables["codebooks"],
        codes=codes,
        vectors=tables["vectors"],
        params=manifest["params"],
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
    """Persist the IVF-flat index as one group. ``c_vec`` keeps its
    NATIVE element type, recorded in the manifest so the read side pins
    the schema without inference (empty-corpus round-trip) — the former
    unconditional float32 cast silently truncated float64 vectors by
    ~29 mantissa bits, so a persisted-then-read index could re-rank
    differently than the in-memory twin at a rounded-sim tie (round-7
    review finding)."""
    _require_integral_ids(index.vectors, "cid", "write_ivfflat_index")
    vectors = index.vectors.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("cell").cast("int").alias("cell"),
        F.col("c_vec"),
    )
    snapshot.write_group(
        index.centroids.sparkSession,
        {"centroids": index.centroids.coalesce(1), "vectors": vectors},
        path,
        {"params": index.params},
        {"vectors": ("cell",)},
    )


def read_ivfflat_index(spark: SparkSession, path: str) -> IvfFlatIndex:
    tables, manifest = snapshot.open_group(spark, path)
    return IvfFlatIndex(
        centroids=tables["centroids"],
        vectors=tables["vectors"],
        params=manifest["params"],
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


def read_tombstones(spark: SparkSession, path: str) -> DataFrame:
    """The live tombstone set (distinct cids; empty frame when none
    were ever written — schema pinned, never inferred). Emptiness is
    decided by an FS existence probe, not by swallowing read errors:
    only a MISSING path may mean 'no tombstones' — a genuine read error
    (transient FS failure, corrupt footer) must propagate, or a server
    would silently serve deleted vectors."""
    fs, hpath = snapshot.hadoop_fs(spark, f"{path}/tombstones")
    if not fs.exists(hpath):
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

    The manifest is left as the build wrote it: schemas are unchanged,
    and its row counts stay those of the build.

    Returns {"removed": n, "cells_rewritten": n, "cells_dropped": n}.
    Idempotent: a second call is a no-op."""
    tombs = read_tombstones(spark, path).localCheckpoint(eager=True)
    n_doom = tombs.count()
    if n_doom == 0:
        return {"removed": 0, "cells_rewritten": 0, "cells_dropped": 0}
    tables, _ = snapshot.open_group(spark, path)
    packed = tables["codes"]
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
    for cell in emptied:
        fs, hcell = snapshot.hadoop_fs(spark, f"{path}/codes/cell={cell}")
        fs.delete(hcell, True)
    vecs = (
        tables["vectors"]
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

def publish_ivfpq_version(index: IvfPqIndex, root: str) -> int:
    """Publish ``index`` as the next immutable version under
    ``root/v<N>`` and flip the LATEST pointer (``snapshot.publish``) —
    the serving contract for index updates: a reader that opened
    v<N-1> keeps a consistent snapshot while v<N> lands, and the
    pointer flip is the only mutation. A torn flip heals from the
    newest complete version, and a complete version the pointer never
    reached is skipped, never overwritten. Returns N."""
    spark = index.centroids.sparkSession
    return snapshot.publish(spark, root=root, **_ivfpq_group(index))


def read_latest_ivfpq(spark: SparkSession, root: str) -> IvfPqIndex:
    v = snapshot.latest(spark, root)
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
