"""Session-scoped memoized parquet table loader for the query registry.

Every registry query used to call ``spark.read.parquet`` per table per
invocation; each call pays a driver-side file listing + footer/schema
read (~50-150 ms). Across a 64-query bench pass that fixed cost
dominated several sub-second queries (measured: star_join_revenue spent
~0.6 s of ~1.3 s wall just constructing its five-table DataFrame).

``load_table`` resolves each (session, sf_dir, table) once and hands
back the same immutable DataFrame; downstream ``.filter/.join/.groupBy``
build new plans on the already-resolved relation without re-listing.

Staleness guard: the cache key includes the parquet path's
``(st_mtime_ns, st_size)`` so a test that overwrites its fixture between
calls gets a fresh read instead of a stale file listing.

Timestamp normalization (reference parity): parquet written with
isAdjustedToUTC=false loads as TIMESTAMP_NTZ under Spark 4's NTZ
inference; we re-tag to TIMESTAMP. The session timezone is pinned to
UTC (session.py) so the cast is identical wall-clock micros — same
semantics DuckDB applies to naive timestamps.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# session -> {(path, mtime_ns, size): DataFrame}; weak keys so a stopped
# session's cache is collectable.
_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


import hashlib as _hashlib

#: test seam: simulating an object-store path swaps this for a stat
#: that raises OSError, forcing the catalog-stamp fallback below.
_LOCAL_STAT = os.stat


def _catalog_stamp(spark: SparkSession | None, path: str) -> tuple | None:
    """Manifest-based dataset stamp for paths ``os.stat`` cannot see
    (hdfs://, s3a://...): the content hash of the dataset's manifest
    file — ``_ingest_manifest.json`` (written by the ingest sink,
    sources/oa_datasource.py) or ``_MANIFEST`` (a complete group of
    the versioned-publish protocol, sources/snapshot.py) — read through
    ``snapshot.hadoop_fs``/``read_bytes``, which reach any store the
    session can. A manifest rewrites whenever the dataset
    republishes; the stamp combines its
    content hash WITH its FS modification time + length, because
    manifest CONTENT alone can collide across republishes (the ingest
    manifest records per-term counts — a one-document correction can
    leave counts identical) while the rewrite always refreshes the
    file's mtime (object stores version it per PUT). The worst case
    of the mtime term is a harmless extra rebuild, never a stale
    serve — the catalog-backed equivalent of the local
    ``(mtime, size)`` stamp (VERDICT r5 #8). Returns None when no
    manifest exists (caller falls back to path-only keying, matching
    plain ``spark.read`` semantics)."""
    if spark is None:
        return None
    try:
        from ..sources.snapshot import hadoop_fs, read_bytes

        for mf in ("_ingest_manifest.json", "_MANIFEST"):
            fs, p = hadoop_fs(spark, f"{path}/{mf}")
            if fs.exists(p):
                st = fs.getFileStatus(p)
                return (
                    "manifest",
                    mf,
                    _hashlib.md5(read_bytes(spark, f"{path}/{mf}")).hexdigest(),
                    int(st.getModificationTime()),
                    int(st.getLen()),
                )
    except Exception:  # noqa: BLE001 — stamp probe must never fail a read
        return None
    return None


def _path_stamp(path: str, spark: SparkSession | None = None) -> tuple:
    try:
        st = _LOCAL_STAT(path)
    except OSError:
        # Non-local path (hdfs://, s3a://...) or vanished file: key on
        # the dataset's manifest content hash when one exists, else
        # purely on path (matching spark.read semantics).
        cat = _catalog_stamp(spark, path)
        if cat is not None:
            return (path,) + cat
        return (path, None, None)
    return (path, st.st_mtime_ns, st.st_size)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, normalize_ntz: bool = True
) -> DataFrame:
    """Memoized ``spark.read.parquet(f"{sf_dir}/{name}.parquet")``."""
    path = f"{sf_dir}/{name}.parquet"
    per_session = _CACHE.setdefault(spark, {})
    key = _path_stamp(path, spark) + (normalize_ntz,)
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if normalize_ntz:
            ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
            if ntz:
                df = df.withColumns(
                    {c: F.col(c).cast("timestamp") for c in ntz}
                )
        per_session[key] = df
    return df


# ---- persisted derived-relation cache ------------------------------
# Build-once/serve-many for derived index relations (LSH band indexes,
# fingerprint sets): keyed by the SOURCE dataset's path stamp plus a
# caller-supplied parameter tag, persisted as parquet under the repo
# warehouse. The same discipline as the persisted ANN index
# (plans/multimodal_ann.py): a serving query pays the probe, never the
# index build; a regenerated dataset or changed parameters re-key and
# rebuild. (Stamps: local-FS (mtime, size) where os.stat works, the
# dataset's manifest content hash on object-store paths — see
# _catalog_stamp.)

# Overridable root so test runs point their build-once caches at a
# throwaway dir: every tmp-path dataset a test sweeps (empty/singleton
# fixtures) mints a fresh identity tag, and stale-sibling pruning is
# per-tag by design — under the repo warehouse those one-shot builds
# accumulated without bound (105 dirs by round 8; conftest.py now sets
# SPARK_GRAFT_CACHE_ROOT).
_CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_CACHE_ROOT",
    os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        "spark-warehouse",
    ),
)
_REL_CACHE_ROOT = os.path.join(_CACHE_ROOT, "rel_cache")


def persisted_relation(
    spark: SparkSession,
    name: str,
    source_paths: list[str],
    params: str,
    build,
) -> DataFrame:
    """Return the parquet-persisted result of ``build()`` for this
    (source stamp, params) key, building it on first use. ``build``
    must be deterministic — the parquet round-trip is served verbatim
    and correctness gates replay the build in SQL."""
    # two-part key: WHICH dataset+params (path strings — stable across
    # regenerations) and WHICH build (stats — stale when the data
    # changes). Pruning drops stale builds of the SAME dataset only,
    # so e.g. the sf0.01 correctness gate and the sf0.1 bench keep
    # independent live builds instead of evicting each other.
    ident = _hashlib.md5(repr((sorted(source_paths), params)).encode()).hexdigest()[:8]
    stamp = [_path_stamp(p, spark) for p in sorted(source_paths)] + [params]
    key = _hashlib.md5(repr(stamp).encode()).hexdigest()[:8]
    path = os.path.join(_REL_CACHE_ROOT, f"{name}_{ident}_{key}")
    # serve repeat opens from the session memo (the load_table
    # discipline): the path embeds source stamp + params, so a
    # regenerated dataset re-keys and never hits a stale entry
    per_session = _CACHE.setdefault(spark, {})
    cached = per_session.get(("rel", path))
    if cached is not None:
        return cached
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
        _prune_stale(
            _REL_CACHE_ROOT, f"{name}_{ident}_", keep=f"{name}_{ident}_{key}"
        )
    df = spark.read.parquet(path)
    per_session[("rel", path)] = df
    return df


def _prune_stale(root: str, prefix: str, keep: str) -> None:
    """Drop SIBLING cache dirs for the same relation name but a stale
    source stamp (regenerated dataset / changed params) — the cache
    holds one live build per name, not one per historical dataset.
    Single-host dev-loop hygiene; a shared deployment would version +
    garbage-collect through its catalog instead."""
    import shutil

    try:
        entries = os.listdir(root)
    except OSError:
        return
    for e in entries:
        if e.startswith(prefix) and e != keep:
            shutil.rmtree(os.path.join(root, e), ignore_errors=True)
