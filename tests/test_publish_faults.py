"""The versioned-publish protocol (sources/snapshot.py) under crashes.

Each caller — a snapshot group, an IVFPQ index version, a merge-sink
batch — is stopped right after every write step of its publish (each
table, the manifest, the pointer temp file, the rename) and then
replayed. A reader opened before, during and after sees exactly
v(N−1) or v(N), and no complete version is ever rewritten. Two named
cases pin defects of the older per-caller protocols, and the job-count
pins show that opening a published group runs no Spark job."""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyspark.sql.functions as F
import pytest

from scotustician_spark.operators.ann_index import (
    build_ivfflat_index,
    build_ivfpq_index,
    publish_ivfpq_version,
    read_ivfflat_index,
    read_ivfpq_index,
    read_latest_ivfpq,
    write_ivfflat_index,
    write_ivfpq_index,
)
from scotustician_spark.sources import snapshot
from scotustician_spark.streaming.incremental import exactly_once_merge_sink

DIM = 16


class _Crash(Exception):
    pass


_PUBLISH_STEPS = tuple(
    (snapshot, name) for name in ("observed_write", "_write_text", "_replace")
)


def _crash_after(mp: pytest.MonkeyPatch, k: int, steps=_PUBLISH_STEPS) -> None:
    """Raise ``_Crash`` right after the k-th call to any of ``steps``
    (``(owner, attribute)`` pairs): by default, the k-th write step of a
    publish."""
    done = [0]

    def step(fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            done[0] += 1
            if done[0] == k:
                raise _Crash(k)
            return out

        return wrapped

    for owner, name in steps:
        mp.setattr(owner, name, step(getattr(owner, name)))


def _complete(root: str) -> dict[int, list]:
    """{version: the files of that version with their mtimes} for every
    complete version under ``root``."""
    out = {}
    for name in os.listdir(root):
        vdir = os.path.join(root, name)
        if re.fullmatch(r"v\d+", name) and os.path.exists(
            os.path.join(vdir, snapshot.MANIFEST)
        ):
            out[int(name[1:])] = sorted(
                (os.path.relpath(os.path.join(d, f), vdir),
                 os.stat(os.path.join(d, f)).st_mtime_ns)
                for d, _, files in os.walk(vdir)
                for f in files
            )
    return out


def _assert_kept(before: dict, after: dict) -> None:
    for v, files in before.items():
        if v in after:  # pruning may drop it; rewriting it never
            assert after[v] == files, f"complete v{v} was rewritten"


def _fault_drive(template, tmp_path, publish, reader, old, new, n_steps):
    """Copy ``template`` (a root already at v(N−1)), stop ``publish``
    after each of its ``n_steps`` write steps, check what readers see,
    then replay. Returns the roots for caller-specific checks."""
    roots = []
    for k in range(1, n_steps + 2):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        roots.append(root)
        before = reader(root)
        complete = _complete(root)
        with pytest.MonkeyPatch.context() as mp:
            _crash_after(mp, k)
            if k <= n_steps:
                with pytest.raises(_Crash):
                    publish(root)
                assert before() == old
            else:  # one past the last write step: the publish completes
                publish(root)
        assert reader(root)() in (old, new), f"torn view after step {k}"
        _assert_kept(complete, _complete(root))
        complete = _complete(root)
        publish(root)  # the replay
        assert reader(root)() == new
        _assert_kept(complete, _complete(root))
    return roots


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: F.sin(F.col("id") * 7 + i * 13),
        ).alias("embedding"),
    )


def _ivfpq(vectors, n):
    return build_ivfpq_index(
        vectors.filter(F.col("vec_id") < n), DIM, n_cells=4, m=4, n_codes=4
    )


def test_snapshot_publish_faults(spark, tmp_path):
    def tables(n):
        return {
            "orders": spark.range(n).selectExpr("id", "id * 2 as v"),
            "users": spark.range(n // 2).selectExpr("id as uid"),
        }

    def reader(root):
        opened = snapshot.read(spark, root)
        return lambda: {k: sorted(map(tuple, df.collect())) for k, df in opened.items()}

    template = str(tmp_path / "template")
    snapshot.publish(spark, tables(6), template)
    old = reader(template)()
    staged = str(tmp_path / "staged")
    snapshot.publish(spark, tables(10), staged)
    new = reader(staged)()
    # publish already-written parquet: each replay is cheap to rerun
    _fault_drive(
        template, tmp_path,
        lambda root: snapshot.publish(spark, snapshot.read(spark, staged), root),
        reader, old, new, n_steps=5,  # 2 tables, manifest, temp, rename
    )


def test_ivfpq_version_publish_faults(spark, vectors, tmp_path):
    def reader(root):
        idx = read_latest_ivfpq(spark, root)
        return lambda: sorted(r[0] for r in idx.vectors.select("cid").collect())

    template = str(tmp_path / "template")
    publish_ivfpq_version(_ivfpq(vectors, 40), template)
    staged = str(tmp_path / "staged")
    write_ivfpq_index(_ivfpq(vectors, 60), staged)
    _fault_drive(
        template, tmp_path,
        lambda root: publish_ivfpq_version(read_ivfpq_index(spark, staged), root),
        reader, list(range(40)), list(range(60)),
        n_steps=7,  # 4 tables, manifest, temp, rename
    )


def test_merge_sink_batch_publish_faults(spark, tmp_path):
    def merge(base, p):
        return base.unionByName(p).groupBy("k").agg(F.sum("c").cast("long").alias("c"))

    def batch(rows):
        return spark.createDataFrame(rows, "k string, c long")

    def reader(root):
        opened = snapshot.read(spark, f"{root}/state__versions")["state"]
        return lambda: dict(map(tuple, opened.collect()))

    template = str(tmp_path / "template")
    exactly_once_merge_sink(
        spark, f"{template}/state", 0, batch([("a", 2), ("b", 1)]), merge
    )
    roots = _fault_drive(
        template, tmp_path,
        lambda root: exactly_once_merge_sink(
            spark, f"{root}/state", 1, batch([("a", 3)]), merge
        ),
        reader, {"a": 2, "b": 1}, {"a": 5, "b": 1},
        n_steps=4,  # 1 table, manifest, temp, rename
    )
    for root in roots:  # the published copy: merged once, never twice
        got = dict(map(tuple, spark.read.parquet(f"{root}/state").collect()))
        assert got == {"a": 5, "b": 1}


def test_complete_unpointed_ivfpq_version_is_never_overwritten(
    spark, vectors, tmp_path
):
    """A crash between a version's last write and the pointer flip
    leaves a complete v3 that LATEST does not name. The next publish
    must allocate v4: deriving N from the pointer alone overwrote v3
    in place (120 vectors became 40)."""
    root = str(tmp_path / "served")
    idx = _ivfpq(vectors, 40)
    assert publish_ivfpq_version(idx, root) == 1
    assert publish_ivfpq_version(idx, root) == 2
    write_ivfpq_index(_ivfpq(vectors, 120), f"{root}/v3")  # no flip

    assert publish_ivfpq_version(idx, root) == 4
    assert read_ivfpq_index(spark, f"{root}/v3").vectors.count() == 120
    assert read_latest_ivfpq(spark, root).vectors.count() == 40


def test_empty_snapshot_pointer_heals(spark, tmp_path):
    """An empty LATEST — what a crash inside an in-place pointer
    rewrite leaves — heals from the newest complete version instead of
    bricking the root (both the resolve and the next publish used to
    raise JSONDecodeError)."""
    root = str(tmp_path / "snap")
    snapshot.publish(spark, {"orders": spark.range(10)}, root)
    snapshot.publish(spark, {"orders": spark.range(20)}, root)
    open(os.path.join(root, "LATEST"), "w").close()

    assert snapshot.latest(spark, root) == 2
    assert snapshot.read(spark, root)["orders"].count() == 20
    assert snapshot.publish(spark, {"orders": spark.range(30)}, root) == 3
    assert snapshot.read(spark, root)["orders"].count() == 30


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"publish_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_opening_a_published_group_runs_no_job(spark, vectors, tmp_path):
    root = str(tmp_path / "served")
    publish_ivfpq_version(_ivfpq(vectors, 40), root)
    idx, n = _jobs(spark, lambda: read_latest_ivfpq(spark, root))
    assert n == 0
    assert idx.params == {"dim": DIM, "n_cells": 4, "m": 4, "n_codes": 4, "d2_round": 6}

    flat = str(tmp_path / "flat")
    write_ivfflat_index(build_ivfflat_index(vectors, n_cells=4), flat)
    _, n = _jobs(spark, lambda: read_ivfflat_index(spark, flat))
    assert n == 0

    snap = str(tmp_path / "snap")
    tables = {"orders": spark.range(10), "users": spark.range(3)}
    # one write job per table: row counts come from the write itself
    _, n = _jobs(spark, lambda: snapshot.publish(spark, tables, snap))
    assert n == len(tables)
    opened, n = _jobs(spark, lambda: snapshot.read(spark, snap))
    assert n == 0
    assert {k: df.count() for k, df in opened.items()} == {"orders": 10, "users": 3}


def test_compaction_faults(spark, sf_dir, tmp_path, monkeypatch):
    """A compaction rewrites a complete group in place: its codes,
    vectors and tombstones, then a fresh ``_MANIFEST``. Stopped after
    each rewrite step it leaves no ``_MANIFEST``, so the served path
    rebuilds the index; once a manifest is written its row counts are
    the files' counts (the build's manifest used to survive, with
    stale counts, and kept a half-rewritten group complete)."""
    import pyarrow.dataset as ds
    from pyspark.sql.readwriter import DataFrameWriter

    from scotustician_spark.operators import ann_index as ANN
    from scotustician_spark.plans import multimodal_ann as MA

    def served(root):  # each root is fresh, so no open is memoized yet
        monkeypatch.setattr(MA, "_INDEX_ROOT", root)
        return MA._served_compacted_index(spark, sf_dir)

    def group_dir(root):
        (name,) = os.listdir(root)
        return os.path.join(root, name)

    # a built, tombstoned, not yet compacted index: the template
    template = str(tmp_path / "template")
    with monkeypatch.context() as mp:
        mp.setattr(ANN, "compact_ivfpq_index", lambda *a: None)
        served(template)
    doomed = ANN.read_tombstones(spark, group_dir(template)).count()
    assert doomed > 0

    rewrites = (
        (DataFrameWriter, "save"),
        (DataFrameWriter, "parquet"),
        (snapshot, "_write_text"),
    )
    for k in range(1, 5):  # codes, vectors, tombstones, manifest
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        with monkeypatch.context() as mp:
            _crash_after(mp, k, rewrites)
            with pytest.raises(_Crash):
                served(root)
        path = group_dir(root)
        assert os.path.exists(os.path.join(path, snapshot.MANIFEST)) == (k == 4)

        idx = served(root)  # rebuilds unless the manifest landed
        manifest = snapshot.open_group(spark, path)[1]
        for name, t in manifest["tables"].items():
            on_disk = ds.dataset(
                os.path.join(path, name), format="parquet", partitioning="hive"
            ).count_rows()
            assert t["rows"] == on_disk, (k, name)
        live = idx.vectors.count()
        assert manifest["tables"]["vectors"]["rows"] == live
        assert ANN.read_tombstones(spark, path).count() == 0
        corpus = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"))
        assert live == corpus.count_rows() - doomed
