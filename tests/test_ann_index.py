"""Persistent IVFPQ index: build/probe split correctness.

The serving contract: probing a PERSISTED index must return exactly
what the one-shot build+probe composition returns (parquet round-trips
doubles and ints losslessly; the build is deterministic), and the
probe plan must not contain the build (no Lloyd assignment work)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from scotustician_spark.operators.ann_index import (
    build_ivfpq_index,
    probe_ivfpq_index,
    read_ivfpq_index,
    rerank_from_index,
    write_ivfpq_index,
)
from scotustician_spark.operators.similarity import (
    ann_rerank_topk,
    ivfpq_topk_onestep,
)

DIM = 16


@pytest.fixture(scope="module")
def corpus(spark):
    # deterministic synthetic vectors: vec_id 0..59, 16 dims
    return spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: F.sin(F.col("id") * 7 + i * 13),
        ).alias("embedding"),
    )


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    idx = build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4)
    write_ivfpq_index(idx, path)
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_persisted_probe_equals_oneshot(spark, corpus, index_dir):
    queries = corpus.filter(F.col("vec_id") < 5)
    idx = read_ivfpq_index(spark, index_dir)
    assert idx.params == {
        "dim": DIM, "n_cells": 4, "m": 4, "n_codes": 4, "d2_round": 6,
    }
    got = probe_ivfpq_index(idx, queries, k=3, n_probe=2)
    want = ivfpq_topk_onestep(
        corpus, queries, DIM, k=3, n_cells=4, n_probe=2, m=4, n_codes=4
    )
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 15  # 5 queries × k=3


def test_persisted_rerank_equals_oneshot(spark, corpus, index_dir):
    queries = corpus.filter(F.col("vec_id") < 5)
    idx = read_ivfpq_index(spark, index_dir)
    got = rerank_from_index(
        idx, queries, k=3, n_candidates=10, n_probe=2
    )
    want = ann_rerank_topk(
        corpus, queries, DIM, k=3, n_candidates=10,
        n_cells=4, n_probe=2, m=4, n_codes=4,
    )
    assert _rows(got) == _rows(want)


def test_probe_plan_contains_no_build(spark, corpus, index_dir):
    """The probe over a persisted index must SCAN the code/centroid
    tables, not rebuild them: neither the build's numpy argmin kernel
    (a MapInArrow node) nor its Lloyd re-centering (an avg() aggregate)
    may appear, and the shuffles stay bounded."""
    queries = corpus.filter(F.col("vec_id") < 5)
    idx = read_ivfpq_index(spark, index_dir)
    probe_plan = probe_ivfpq_index(idx, queries, k=3, n_probe=2)._jdf.queryExecution().executedPlan().toString()
    oneshot_plan = ivfpq_topk_onestep(
        corpus, queries, DIM, k=3, n_cells=4, n_probe=2, m=4, n_codes=4
    )._jdf.queryExecution().executedPlan().toString()
    # the persisted probe reads parquet index tables
    assert "parquet" in probe_plan.lower()
    # build signature: the one-shot plan encodes the corpus through
    # the MapInArrow kernel; a probe that shows it is rebuilding the
    # index per call
    assert "MapInArrow" in oneshot_plan
    assert "MapInArrow" not in probe_plan, probe_plan
    # the Lloyd re-centering runs in the build's own bounded collects,
    # so an avg() in the probe plan means the quantizer is retrained
    assert "avg(" not in probe_plan
    # absolute pin on the data-bearing SHUFFLE exchanges: candidate
    # aggregate + top-k window, with headroom to 4. Broadcasts are not
    # counted: besides the quantizer-table and LUT broadcasts, the
    # codes scan's dynamic partition pruning re-plans the LUT side as
    # a broadcast subquery (one more BroadcastExchange than the
    # one-shot plan, whose codes are not a partitioned scan)
    assert probe_plan.count("Exchange hashpartitioning") <= 4, probe_plan
    codes_scans = probe_plan.lower().count("partitionfilters")
    assert codes_scans >= 1  # cell-partitioned codes scan is prunable


def test_index_rebuild_is_reproducible(spark, corpus, tmp_path):
    """Same corpus → byte-identical index relations (determinism
    contract that makes cache-by-fingerprint sound)."""
    a = build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4)
    b = build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4)
    assert _rows(a.codes) == _rows(b.codes)
    assert _rows(a.centroids) == _rows(b.centroids)
    assert _rows(a.codebooks) == _rows(b.codebooks)


def test_append_frozen_quantizer_semantics(spark, corpus, index_dir):
    """FAISS add() contract: appended vectors encode with the FROZEN
    centroids/codebooks. A delta vector identical to a base vector
    must land in the same cell with the same codes; counts grow by
    exactly |delta|; batch-split append composes associatively."""
    from scotustician_spark.operators.ann_index import append_to_ivfpq_index

    idx = read_ivfpq_index(spark, index_dir)
    base_codes = idx.codes.collect()
    n_base = len(base_codes)

    # delta: clones of vec_id 7 and 23 under new ids, plus one new vector
    clones = corpus.filter(F.col("vec_id").isin(7, 23)).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    novel = spark.range(1).select(
        F.lit(2000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: F.cos(i * 3.1),
        ).alias("embedding"),
    )
    delta = clones.unionByName(novel)

    appended = append_to_ivfpq_index(idx, delta)
    all_codes = appended.codes.collect()
    assert len(all_codes) == n_base + 3 * 4  # m=4 codes per new vector
    assert appended.vectors.count() == idx.vectors.count() + 3

    by_id = {}
    for r in all_codes:
        by_id.setdefault(r["cid"], {})[r["j"]] = (r["cell"], r["code"])
    # clones encode identically to their base twins
    for orig, clone in [(7, 1007), (23, 1023)]:
        assert by_id[orig] == by_id[clone], orig

    # associativity: append(B1 ∪ B2) == append(B1) then append(B2)
    one_shot = append_to_ivfpq_index(idx, delta)
    two_step = append_to_ivfpq_index(
        append_to_ivfpq_index(idx, clones), novel
    )
    assert _rows(one_shot.codes) == _rows(two_step.codes)


def test_append_then_probe_finds_new_vectors(spark, corpus, index_dir):
    """An appended clone must be retrievable by its twin: it shares
    the twin's codes, so ADC ranks it at the twin's own quantization
    distance (ADC cannot separate same-code vectors — that is the
    re-rank stage's job), and the exact re-rank then surfaces it at
    cosine 1.0 as the top neighbor."""
    from scotustician_spark.operators.ann_index import (
        append_to_ivfpq_index,
        rerank_from_index,
    )

    idx = read_ivfpq_index(spark, index_dir)
    clone = corpus.filter(F.col("vec_id") == 7).select(
        F.lit(1007).alias("vec_id"), "embedding"
    )
    appended = append_to_ivfpq_index(idx, clone)
    q = corpus.filter(F.col("vec_id") == 7)
    adc = probe_ivfpq_index(appended, q, k=60, n_probe=1).collect()
    by_id = {r["neighbor_id"]: r["approx_d2"] for r in adc}
    assert 1007 in by_id
    # clone's ADC distance is the minimum over all candidates (it has
    # the query's own codes)
    assert by_id[1007] == min(by_id.values())
    top = rerank_from_index(appended, q, k=1, n_candidates=60, n_probe=1).collect()
    assert len(top) == 1
    assert top[0]["neighbor_id"] == 1007 and top[0]["sim"] == 1.0


def test_versioned_publish_and_stream_sink(spark, corpus, tmp_path):
    """Versioned serving contract: publish v1 from a base build, feed
    two micro-batches through the foreachBatch sink (fresh ids append
    + publish v2/v3), replay the last batch (no new version — the
    anti-join idempotency guard), and the final LATEST equals a direct
    append of all delta rows."""
    from scotustician_spark.operators.ann_index import (
        append_to_ivfpq_index,
        ivfpq_stream_sink,
        publish_ivfpq_version,
        read_latest_ivfpq,
    )
    from scotustician_spark.sources.snapshot import latest as _latest_version

    root = str(tmp_path / "served")
    base = corpus.filter(F.col("vec_id") < 40)
    delta1 = corpus.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
    delta2 = corpus.filter(F.col("vec_id") >= 50)

    v = publish_ivfpq_version(
        build_ivfpq_index(base, DIM, n_cells=4, m=4, n_codes=4), root
    )
    assert v == 1

    sink = ivfpq_stream_sink(root)
    sink(delta1, batch_id=0)
    sink(delta2, batch_id=1)
    assert _latest_version(spark, root) == 3
    # replay of batch 2 (checkpoint recovery): ids already indexed
    sink(delta2, batch_id=1)
    assert _latest_version(spark, root) == 3

    latest = read_latest_ivfpq(spark, root)
    direct = append_to_ivfpq_index(
        read_ivfpq_index(spark, f"{root}/v1"), delta1.unionByName(delta2)
    )
    assert _rows(latest.codes) == _rows(direct.codes)
    assert latest.vectors.count() == 60
    # older versions remain readable (snapshot isolation for readers)
    assert read_ivfpq_index(spark, f"{root}/v1").vectors.count() == 40


def test_stream_sink_through_real_stream(spark, corpus, tmp_path):
    """End-to-end through Structured Streaming: file source →
    AvailableNow → foreachBatch index maintenance; rerunning the
    stream with the same checkpoint publishes nothing new."""
    from scotustician_spark.operators.ann_index import (
        ivfpq_stream_sink,
        publish_ivfpq_version,
    )
    from scotustician_spark.sources.snapshot import latest as _latest_version

    root = str(tmp_path / "sroot")
    src = str(tmp_path / "src")
    cp = str(tmp_path / "cp")
    publish_ivfpq_version(
        build_ivfpq_index(
            corpus.filter(F.col("vec_id") < 50), DIM, n_cells=4, m=4, n_codes=4
        ),
        root,
    )
    corpus.filter(F.col("vec_id") >= 50).write.parquet(src)

    def run():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(src)
        q = (
            stream.writeStream.foreachBatch(ivfpq_stream_sink(root))
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert _latest_version(spark, root) == 2
    run()  # no new files -> no new version
    assert _latest_version(spark, root) == 2


def test_ivfflat_persisted_probe_equals_oneshot(spark, corpus, tmp_path):
    """IVF-flat serving sibling: persisted cell-partitioned raw-vector
    lists probe to exactly ivf_topk_onestep's results, and the probe
    scan is partition-prunable on cell."""
    from scotustician_spark.operators.ann_index import (
        build_ivfflat_index,
        probe_ivfflat_index,
        read_ivfflat_index,
        write_ivfflat_index,
    )
    from scotustician_spark.operators.similarity import ivf_topk_onestep

    path = str(tmp_path / "flat")
    write_ivfflat_index(build_ivfflat_index(corpus, n_cells=4), path)
    idx = read_ivfflat_index(spark, path)
    assert idx.params == {"n_cells": 4, "d2_round": 6}
    q = corpus.filter(F.col("vec_id") < 5)
    got = probe_ivfflat_index(idx, q, k=3, n_probe=2)
    want = ivf_topk_onestep(corpus, q, k=3, n_cells=4, n_probe=2)
    assert _rows(got) == _rows(want)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_delete_tombstone_compact_lifecycle(spark, corpus, tmp_path):
    """The full delete lifecycle: tombstone → live probe excludes the
    doomed ids with densely re-packed ranks → compaction rewrites ONLY
    the affected cell partitions (untouched inverted lists' files do
    not move) → compacted probe == tombstoned probe → tombstones
    cleared → second compact is a no-op."""
    import os

    from scotustician_spark.operators.ann_index import (
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        read_ivfpq_index_live,
        read_tombstones,
        write_tombstones,
    )

    path = str(tmp_path / "idx")
    idx = build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4)
    write_ivfpq_index(idx, path)
    queries = corpus.filter(F.col("vec_id") < 5)

    doomed = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    doom_ids = {r["vec_id"] for r in doomed.collect()}

    # 1. in-memory handle semantics: equals probing filtered codes
    live = delete_from_ivfpq_index(read_ivfpq_index(spark, path), doomed)
    got = probe_ivfpq_index(live, queries, k=3, n_probe=2)
    rows = got.collect()
    assert rows and not {r["neighbor_id"] for r in rows} & doom_ids
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), q

    # 2. tombstones persist; the live reader applies them
    write_tombstones(doomed, path)
    served = probe_ivfpq_index(
        read_ivfpq_index_live(spark, path), queries, k=3, n_probe=2
    )
    assert _rows(served) == _rows(got)

    # 3. compaction: affected cells rewritten, others' files untouched
    packed = spark.read.schema(
        "cid long, codes array<int>, cell int"
    ).parquet(f"{path}/codes")
    affected = {
        r["cell"]
        for r in packed.filter(F.col("cid").isin(doom_ids))
        .select("cell").distinct().collect()
    }
    untouched = sorted(
        set(range(4)) - affected
        & {r["cell"] for r in packed.select("cell").distinct().collect()}
    )
    def _listing(cell):
        d = f"{path}/codes/cell={cell}"
        return sorted(
            (f, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d) if f.endswith(".parquet")
        )
    before = {c: _listing(c) for c in untouched if c not in affected}
    stats = compact_ivfpq_index(spark, path)
    assert stats["removed"] == len(doom_ids)
    assert stats["cells_rewritten"] + stats["cells_dropped"] == len(affected)
    for c, listing in before.items():
        assert _listing(c) == listing, f"cell {c} files moved"

    # 4. compacted tables have no doomed ids; probe unchanged
    after = spark.read.schema(
        "cid long, codes array<int>, cell int"
    ).parquet(f"{path}/codes")
    assert after.filter(F.col("cid").isin(doom_ids)).count() == 0
    assert (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("cid").isin(doom_ids)).count() == 0
    )
    compacted = probe_ivfpq_index(
        read_ivfpq_index(spark, path), queries, k=3, n_probe=2
    )
    assert _rows(compacted) == _rows(got)

    # 5. tombstones cleared; second compact no-ops
    assert read_tombstones(spark, path).count() == 0
    assert compact_ivfpq_index(spark, path) == {
        "removed": 0, "cells_rewritten": 0, "cells_dropped": 0,
    }


def test_compact_drops_fully_deleted_cell(spark, corpus, tmp_path):
    """A cell whose every member is deleted disappears from disk (the
    zero-row dynamic-overwrite hole is closed by the FS delete) and
    probes never resurrect it."""
    from scotustician_spark.operators.ann_index import (
        compact_ivfpq_index,
        read_ivfpq_index,
        write_tombstones,
    )

    path = str(tmp_path / "idx")
    idx = build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4)
    write_ivfpq_index(idx, path)
    packed = spark.read.schema(
        "cid long, codes array<int>, cell int"
    ).parquet(f"{path}/codes")
    cells = [r["cell"] for r in packed.select("cell").distinct().collect()]
    victim = cells[0]
    victims = packed.filter(F.col("cell") == victim).select(
        F.col("cid").alias("vec_id")
    )
    write_tombstones(victims, path)
    stats = compact_ivfpq_index(spark, path)
    assert stats["cells_dropped"] >= 1
    import os

    assert not os.path.exists(f"{path}/codes/cell={victim}")
    after = read_ivfpq_index(spark, path)
    assert after.codes.filter(F.col("cell") == victim).count() == 0
    # every query still gets ranked results from the surviving cells
    out = probe_ivfpq_index(
        after, corpus.filter(F.col("vec_id") < 3), k=3, n_probe=4
    ).collect()
    assert out and all(r["rnk"] >= 1 for r in out)


def test_tombstone_sink_through_real_stream(spark, corpus, tmp_path):
    """CDC-delete feed → AvailableNow → foreachBatch tombstones, with
    threshold-triggered compaction; a checkpointed replay changes
    nothing observable."""
    from scotustician_spark.operators.ann_index import (
        compact_ivfpq_index,
        ivfpq_tombstone_sink,
        read_ivfpq_index_live,
        read_tombstones,
        write_ivfpq_index,
    )

    path = str(tmp_path / "idx")
    src = str(tmp_path / "deletes")
    cp = str(tmp_path / "cp")
    write_ivfpq_index(
        build_ivfpq_index(corpus, DIM, n_cells=4, m=4, n_codes=4), path
    )
    doomed = corpus.filter(F.col("vec_id") % 5 == 1).select("vec_id")
    doom_ids = {r["vec_id"] for r in doomed.collect()}
    doomed.write.parquet(src)

    def run():
        stream = spark.readStream.schema("vec_id long").parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                ivfpq_tombstone_sink(path, compact_threshold=10_000)
            )
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # threshold not reached: tombstones live, serving excludes them
    assert {
        r["cid"] for r in read_tombstones(spark, path).collect()
    } == doom_ids
    live = read_ivfpq_index_live(spark, path)
    assert live.codes.filter(F.col("cid").isin(doom_ids)).count() == 0
    probed = probe_ivfpq_index(
        live, corpus.filter(F.col("vec_id") < 4), k=3, n_probe=2
    ).collect()
    assert probed and not {r["neighbor_id"] for r in probed} & doom_ids

    run()  # replay: no new files, nothing changes
    assert {
        r["cid"] for r in read_tombstones(spark, path).collect()
    } == doom_ids

    # fold in; the same serving call now reads the compacted tables
    stats = compact_ivfpq_index(spark, path)
    assert stats["removed"] == len(doom_ids)
    assert read_tombstones(spark, path).count() == 0
    after = probe_ivfpq_index(
        read_ivfpq_index_live(spark, path),
        corpus.filter(F.col("vec_id") < 4),
        k=3,
        n_probe=2,
    )
    assert _rows(after) == sorted(tuple(r) for r in probed)


def test_tombstone_and_latest_read_errors_propagate(spark, tmp_path):
    """Only a MISSING path means 'no tombstones / no version' — a
    path that EXISTS but cannot be read must raise, not silently
    serve deleted vectors or reset versioning to v1 over an existing
    immutable version dir."""
    import os

    import pytest

    from scotustician_spark.operators.ann_index import read_tombstones
    from scotustician_spark.sources.snapshot import latest as _latest_version

    # missing paths: clean empties
    assert read_tombstones(spark, str(tmp_path / "idx")).count() == 0
    assert _latest_version(spark, str(tmp_path / "idx")) is None

    # corrupt tombstones: a non-parquet FILE at the tombstones path
    bad = tmp_path / "bad_idx"
    bad.mkdir()
    (bad / "tombstones").write_text("this is not parquet")
    with pytest.raises(Exception):
        read_tombstones(spark, str(bad)).collect()

    # corrupt LATEST pointer: present but unreadable as {version: N}
    root = tmp_path / "bad_root"
    os.makedirs(root)
    (root / "LATEST").write_text("{\"nonsense\": true}")
    with pytest.raises(Exception):
        _latest_version(spark, str(root))


def test_torn_latest_pointer_recovers_from_version_scan(spark, corpus, tmp_path):
    """Round-7 review: a crash between the LATEST delete and its
    rewrite must NOT reset versioning to v1 (which would overwrite an
    'immutable' version dir). A missing or empty pointer now falls
    back to scanning the complete version dirs; the next publish
    continues the sequence and repairs the pointer."""
    import os

    from scotustician_spark.operators.ann_index import (
        publish_ivfpq_version,
        read_latest_ivfpq,
    )
    from scotustician_spark.sources.snapshot import latest as _latest_version

    root = str(tmp_path / "torn")
    idx = build_ivfpq_index(
        corpus.filter(F.col("vec_id") < 40), DIM, n_cells=4, m=4, n_codes=4
    )
    assert publish_ivfpq_version(idx, root) == 1
    assert publish_ivfpq_version(idx, root) == 2

    # simulate the torn flip: pointer gone, version dirs intact
    os.remove(f"{root}/LATEST")
    assert _latest_version(spark, root) == 2  # healed from the scan
    assert read_latest_ivfpq(spark, root).vectors.count() == 40
    assert publish_ivfpq_version(idx, root) == 3  # continues, not v1
    assert _latest_version(spark, root) == 3

    # empty pointer file (crash mid-write) heals the same way
    open(f"{root}/LATEST", "w").close()
    assert _latest_version(spark, root) == 3


def test_partial_version_dir_is_not_recovered_to(spark, corpus, tmp_path):
    """A crash BETWEEN the vectors and manifest writes
    leaves a version dir with vectors/_SUCCESS but no manifest — a
    scan that called that complete would resolve torn-pointer recovery
    to a version whose open then fails. The scan probes _MANIFEST (the
    truly-last write of every group), so recovery skips the partial
    dir, reads the previous
    complete version, and the next publish OVERWRITES the partial v3
    rather than orphaning it."""
    import os
    import shutil

    from scotustician_spark.operators.ann_index import (
        publish_ivfpq_version,
        read_latest_ivfpq,
    )
    from scotustician_spark.sources.snapshot import latest as _latest_version

    root = str(tmp_path / "partial")
    idx = build_ivfpq_index(
        corpus.filter(F.col("vec_id") < 40), DIM, n_cells=4, m=4, n_codes=4
    )
    assert publish_ivfpq_version(idx, root) == 1
    assert publish_ivfpq_version(idx, root) == 2

    # simulate the mid-publish crash: v3 has everything BUT its
    # manifest, and the LATEST pointer was already deleted for the flip
    shutil.copytree(f"{root}/v2", f"{root}/v3")
    os.remove(f"{root}/v3/_MANIFEST")
    os.remove(f"{root}/LATEST")
    assert os.path.exists(f"{root}/v3/vectors/_SUCCESS")

    assert _latest_version(spark, root) == 2  # v3 is torn: skipped
    assert read_latest_ivfpq(spark, root).vectors.count() == 40  # readable
    # the next publish retries v3 in place and repairs the pointer
    assert publish_ivfpq_version(idx, root) == 3
    assert _latest_version(spark, root) == 3
    assert read_latest_ivfpq(spark, root).vectors.count() == 40


def test_index_writes_reject_lossy_column_types(spark, tmp_path):
    """Round-7 review: persisting an index with non-integral ids
    silently cast every cid to NULL (probes then return NULL
    neighbors); ivf-flat persistence of float64 vectors silently
    truncated 29 mantissa bits vs the in-memory index. Both now fail
    fast with the remedy in the message."""
    import pytest

    from scotustician_spark.operators.ann_index import (
        build_ivfflat_index,
        write_ivfflat_index,
        write_ivfpq_index,
        write_tombstones,
    )

    str_ids = spark.createDataFrame(
        [(f"doc_{i}", [float(i)] * DIM) for i in range(8)],
        f"vec_id string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="integral id"):
        write_tombstones(str_ids.select("vec_id"), str(tmp_path / "t"))

    idx = build_ivfpq_index(
        spark.createDataFrame(
            [(f"d{i}", [float(i)] * DIM) for i in range(8)],
            "vec_id string, embedding array<double>",
        ),
        DIM,
        n_cells=2,
        m=4,
        n_codes=2,
    )
    with pytest.raises(ValueError, match="integral id"):
        write_ivfpq_index(idx, str(tmp_path / "pq"))

    # ivf-flat: float64 vectors now round-trip LOSSLESSLY (the former
    # unconditional float32 cast truncated them silently)
    from scotustician_spark.operators.ann_index import read_ivfflat_index

    flat = build_ivfflat_index(
        spark.createDataFrame(
            [(i, [float(i) + 1e-12] * DIM) for i in range(8)],
            "vec_id long, embedding array<double>",
        ),
        n_cells=2,
    )
    write_ivfflat_index(flat, str(tmp_path / "flat"))
    back = read_ivfflat_index(spark, str(tmp_path / "flat"))
    assert back.vectors.schema["c_vec"].dataType.simpleString() == "array<double>"
    assert sorted(
        tuple(r["c_vec"]) for r in back.vectors.collect()
    ) == sorted(tuple(r["c_vec"]) for r in flat.vectors.collect())


def test_compact_probe_heals_unfolded_tombstones(spark):
    """ann_compact_probe's served helper: a crash between the
    tombstone write and the compaction leaves _MANIFEST present
    with a non-empty tombstone set — the reopen path must fold the
    stragglers in (and read the live view), not serve doomed ids.
    Simulated by re-appending the doomed set to the compacted index
    and dropping the session memo so the next call takes the
    open-from-disk branch."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from scotustician_spark.operators import ann_index as ANN
    from scotustician_spark.plans import multimodal_ann as MA
    from scotustician_spark.plans.tables import load_table

    # honor the same env override every other dataset-driven test does
    # (conftest.SF_DIR; tests/ is not a package, so read it directly)
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

    idx = MA._served_compacted_index(spark, sf)
    q = load_table(spark, sf, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    before = sorted(
        tuple(r)
        for r in ANN.probe_ivfpq_index(idx, q, k=5, n_probe=2)
        .select("query_id", "neighbor_id", "approx_d2", "rnk")
        .collect()
    )
    # derive the on-disk path deterministically (a scan of the session
    # memo could match a DIFFERENT dataset's compacted index memoized
    # by an earlier test in the same session — order-dependent)
    fp = MA._embeddings_fingerprint(sf, "compact")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = os.path.join(MA._INDEX_ROOT, f"ivfpqc_{tag}_{fp}")
    per_session = MA._OPEN_INDEX_CACHE[spark]
    assert ("ivfpq", path) in per_session
    e = load_table(spark, sf, "embeddings", normalize_ntz=False)
    ANN.write_tombstones(
        e.filter(F.expr(MA._DELETE_PRED)).select("vec_id"), path
    )
    assert ANN.read_tombstones(spark, path).count() > 0
    per_session.pop(("ivfpq", path))

    healed = MA._served_compacted_index(spark, sf)
    after = sorted(
        tuple(r)
        for r in ANN.probe_ivfpq_index(healed, q, k=5, n_probe=2)
        .select("query_id", "neighbor_id", "approx_d2", "rnk")
        .collect()
    )
    assert after == before
    # the heal folded the stragglers: tombstone set is empty again
    assert ANN.read_tombstones(spark, path).count() == 0


def test_compact_build_crash_window_rebuilds(spark):
    """The OTHER crash window (round-9 advice, medium): tombstones
    commit BEFORE write_ivfpq_index, so a crash mid-build leaves
    tombstones on disk with no _MANIFEST. The reopen must take the
    build branch again (duplicate tombstone appends collapse at read
    time) and still never serve the doomed slice. Simulated by
    deleting _MANIFEST from a healthy compacted index and dropping
    the session memo."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from scotustician_spark.operators import ann_index as ANN
    from scotustician_spark.plans import multimodal_ann as MA
    from scotustician_spark.plans.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    idx = MA._served_compacted_index(spark, sf)
    q = load_table(spark, sf, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    cols = ["query_id", "neighbor_id", "approx_d2", "rnk"]
    before = sorted(
        tuple(r)
        for r in ANN.probe_ivfpq_index(idx, q, k=5, n_probe=2)
        .select(*cols)
        .collect()
    )
    fp = MA._embeddings_fingerprint(sf, "compact")
    tag = hashlib.md5(sf.encode()).hexdigest()[:8]
    path = os.path.join(MA._INDEX_ROOT, f"ivfpqc_{tag}_{fp}")
    os.remove(os.path.join(path, "_MANIFEST"))
    MA._OPEN_INDEX_CACHE[spark].pop(("ivfpq", path))

    rebuilt = MA._served_compacted_index(spark, sf)
    assert os.path.exists(os.path.join(path, "_MANIFEST"))
    after = sorted(
        tuple(r)
        for r in ANN.probe_ivfpq_index(rebuilt, q, k=5, n_probe=2)
        .select(*cols)
        .collect()
    )
    assert after == before
    assert ANN.read_tombstones(spark, path).count() == 0


@pytest.mark.parametrize("bad", ["null", "short"])
def test_build_rejects_null_or_ragged_vectors(spark, corpus, bad):
    """One NULL or short embedding must fail the build: the numpy
    kernel flattens a whole batch, so a missing row would misalign
    every later row's values instead of failing."""
    from scotustician_spark.operators.similarity import ivfpq_build

    bad_vec = (
        F.lit(None).cast("array<double>")
        if bad == "null"
        else F.slice(F.col("embedding"), 1, DIM - 1)
    )
    bad_corpus = corpus.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 50, bad_vec).otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match=f"every vector must hold {DIM} values"):
        ivfpq_build(bad_corpus, DIM, n_cells=4, m=4, n_codes=4)


@pytest.mark.parametrize("entry", ["pq_topk_onestep", "ivfpq_build", "ivfpq_probe"])
def test_dim_not_divisible_by_m_raises(spark, entry):
    """m must divide dim: a remainder would silently drop the trailing
    dimensions from every subspace slice. The check is a ValueError,
    not an assert, so it survives ``python -O``."""
    from scotustician_spark.operators import similarity as SIM

    dim = 10
    vecs = spark.createDataFrame(
        [(i, [float(i + d) for d in range(dim)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    calls = {
        "pq_topk_onestep": lambda: SIM.pq_topk_onestep(vecs, vecs, dim, m=4),
        "ivfpq_build": lambda: SIM._ivfpq_build_tables(
            vecs, dim, "vec_id", "embedding", 2, 4, 2, 6
        ),
        "ivfpq_probe": lambda: SIM.ivfpq_probe(
            [], [], vecs.select(F.col("vec_id").alias("cid")), vecs, dim, m=4
        ),
    }
    with pytest.raises(ValueError, match="divide evenly"):
        calls[entry]()
