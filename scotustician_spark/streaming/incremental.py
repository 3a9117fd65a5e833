"""Incremental / scheduled-micro-batch semantics (reference §2.9).

The reference's "stream" is a twice-weekly batch over ONLY-new files:
new-file discovery by anti-join against processed keys
(processors.py:86-116), idempotent keyed INSERTs (helpers.py:250-346),
quarantine instead of watermarks (helpers.py:235-248). Two equivalent
Spark paths, same transform code:

* batch: ``incremental_filter`` (left_anti) + ``idempotent_append`` —
  the drop-in restatement.
* streaming: Structured Streaming file source (which tracks processed
  files natively in the checkpoint, replacing the SELECT DISTINCT
  probe) + ``Trigger.AvailableNow`` for the scheduled-run shape +
  ``foreachBatch`` idempotent merge for exactly-once sink semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from scotustician_spark.sources import snapshot
from scotustician_spark.sources.sinks import idempotent_append


def exactly_once_merge_sink(
    spark: SparkSession,
    state_path: str,
    batch_id: int,
    partial: DataFrame,
    merge,
    publish=None,
) -> None:
    """Replay-safe copy-on-write merge for foreachBatch sum-merge
    sinks (CMS cells, word frequencies, quantile histograms).

    foreachBatch is AT-LEAST-ONCE: a batch replayed after a crash
    between the state overwrite and the streaming-checkpoint commit
    would be merged twice, double-counting. This helper makes the
    merge exactly-once by versioning state per batch id:

    - versions publish through ``sources/snapshot.publish`` under
      ``{state_path}__versions``, one per applied batch, with the
      batch id in the version's manifest;
    - batch N merges ``partial`` into the LATEST version — never into
      the published copy — and publishes the result; a replayed batch
      (id <= the latest manifest's) merges nothing and only
      re-publishes, so it is a no-op on the counts;
    - ``state_path`` itself is a PUBLISHED copy of the latest
      version, refreshed after every apply/replay, so readers keep
      the plain ``spark.read.parquet(state_path)`` contract; a crash
      mid-publish is healed by the next drain's republish while the
      versioned copy stays intact;
    - ``publish`` (optional DataFrame→DataFrame) projects the state
      into its published view — the versioned copies keep the FULL
      merge state (e.g. CDC sequence numbers and tombstones, which
      the merge needs to make cross-batch redeliveries no-ops) while
      readers see the clean table;
    - versions older than the latest are pruned after publish.

    Contract: a state path is bound to ONE streaming checkpoint
    (standard foreachBatch practice) — batch ids restart at 0 on a
    fresh checkpoint, which also re-reads the whole source.

    State tables in this family are bounded by construction (sketch
    width / vocabulary / groups×bins), so the extra publish read+write
    per batch is O(state), never O(history)."""
    versions = state_path + "__versions"
    v = snapshot.latest(spark, versions)
    tables, manifest = (
        snapshot.open_group(spark, f"{versions}/v{v}")
        if v is not None
        else ({}, {"batch_id": -1})
    )
    if batch_id > manifest["batch_id"]:
        merged = merge(tables["state"], partial) if tables else partial
        v = snapshot.publish(
            spark,
            {"state": merged.localCheckpoint(eager=True)},
            versions,
            {"batch_id": batch_id},
        )
        tables, _ = snapshot.open_group(spark, f"{versions}/v{v}")
    # publish (also heals a previous torn publish on replay)
    published = tables["state"]
    if publish is not None:
        published = publish(published)
    published.write.mode("overwrite").parquet(state_path)
    snapshot.prune(spark, versions, keep=1)


def incremental_filter(
    new_df: DataFrame, processed: DataFrame, key_cols: list[str]
) -> DataFrame:
    """P11/P13: keep only rows whose key is not already processed.
    left_anti shuffles on the key only; with the processed side small
    (a key list) AQE broadcasts it."""
    return new_df.join(processed.select(*key_cols), key_cols, "left_anti")


def stream_json_corpus(
    spark: SparkSession, src_dir: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Structured Streaming file source over a JSON-lines corpus dir.
    The checkpoint's file index replaces the reference's
    processed-keys probe (ST4)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(src_dir)


def run_available_now(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
    key_cols: list[str],
) -> None:
    """ST1+ST3: process everything currently available, then stop —
    the scheduled-micro-batch shape — writing through the idempotent
    keyed sink so replays (or overlapping batch backfills) cannot
    duplicate. Blocks until the trigger drains.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(transform(batch_df), out_path, key_cols)

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_quantile_state_update(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
) -> None:
    """Streaming maintenance of the mergeable quantile state
    (operators/quantiles.py): each micro-batch aggregates to histogram
    partials and column-wise-SUM-merges into the persisted state table
    — the percentile twin of the CDC/MV sinks above. The state is one
    row per group × n_bins long columns, so every merge reads/writes a
    table whose size tracks GROUP CARDINALITY, never history; the
    checkpoint dedupes redelivered files. Copy-on-write like
    merge_upsert: read state, merge, rewrite (swap for a Delta/Iceberg
    MERGE in a table-format deployment). Blocks until AvailableNow
    drains."""
    from ..operators.quantiles import quantile_merge, quantile_partial

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = quantile_partial(
            batch_df, group_cols, value_col, lo, hi, n_bins
        )
        exactly_once_merge_sink(
            spark,
            state_path,
            batch_id,
            partial,
            lambda base, p: quantile_merge(group_cols, n_bins, base, p),
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_cms_state_update(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    item_col: str,
    width: int = 8192,
) -> None:
    """Streaming maintenance of the count-min sketch
    (operators/frequency.py::cms_cells): each micro-batch sketches its
    items into the fixed 4×width cell relation and merges into the
    persisted state by SUMMING cells — sketch addition is exact, so
    the maintained state equals the single-pass sketch of everything
    ever streamed. State size is 4×width rows forever, independent of
    stream length or item cardinality — the frequency twin of the
    histogram-quantile sink above (same copy-on-write merge; swap for
    a Delta/Iceberg MERGE in a table-format deployment). Blocks until
    AvailableNow drains."""
    from pyspark.sql import functions as F

    from ..operators.frequency import cms_cells

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = cms_cells(batch_df, item_col, width)
        exactly_once_merge_sink(
            spark,
            state_path,
            batch_id,
            partial,
            lambda base, p: base.unionByName(p)
            .groupBy("r", "bucket")
            .agg(F.sum("c").cast("long").alias("c")),
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_cdc_apply(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
) -> None:
    """Streaming CDC apply: each micro-batch of change rows
    (op ∈ {'I','U','D'} + optional source sequence) merges into the
    keyed parquet table — the Debezium-feed-to-table pattern with
    AvailableNow semantics. Blocks until the trigger drains.

    Routed through ``exactly_once_merge_sink`` (round-7 review): the
    former direct ``merge_apply_cdc`` overwrite could lose the WHOLE
    table when a crash landed between the overwrite's delete and its
    commit (the replay saw an empty path and re-created the table from
    just its own batch) — the same torn-overwrite hazard the other
    sinks in this family were migrated off in round 6. The versioned
    state keeps the op and sequence columns so, with ``seq_col`` set,
    a STALE change redelivered in a LATER batch is a row-level no-op
    too (the merge takes the max-sequence change per key; deletes
    persist as tombstones in the state). The PUBLISHED table at
    ``table_path`` stays the clean view — tombstones and meta columns
    are projected away, so ``spark.read.parquet(table_path)`` reads
    exactly the applied table. Without ``seq_col`` there is no
    cross-batch order, so later batches win per key (within-batch
    still at-most-one change per key, as before).
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        seq = (
            F.col(seq_col)
            if seq_col is not None
            # batch id stands in for the source sequence: later
            # batches win per key, matching the old overwrite order
            else F.lit(batch_id).alias("__seq")
        )
        partial = batch_df.withColumn("__seq", seq.cast("long"))
        w = W.partitionBy(*key_cols).orderBy(F.col("__seq").desc())
        partial = (
            partial.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", *([seq_col] if seq_col else []))
        )

        def merge(base: DataFrame, p: DataFrame) -> DataFrame:
            # ties go to the NEW batch (src=1), matching the former
            # in-place semantics where the batch replaced the table row
            u = base.withColumn("__src", F.lit(0)).unionByName(
                p.withColumn("__src", F.lit(1))
            )
            mw = W.partitionBy(*key_cols).orderBy(
                F.col("__seq").desc(), F.col("__src").desc()
            )
            return (
                u.withColumn("__rn", F.row_number().over(mw))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__src")
            )

        exactly_once_merge_sink(
            spark,
            table_path,
            batch_id,
            partial,
            merge,
            # clean published view: tombstones out, meta columns off
            publish=lambda s: s.filter(~F.col(op_col).eqNullSafe("D")).drop(
                op_col, "__seq"
            ),
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_topk_state_update(
    stream_df: DataFrame,
    queries_df: DataFrame,
    state_path: str,
    checkpoint: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Streaming maintenance of per-query top-k similarity state
    (operators/similarity.py::incremental_topk): each micro-batch of
    NEW corpus vectors scores against the (small, broadcast) query
    set, merges with the persisted top-k state and re-ranks — the
    similarity-search member of the mergeable-state sink family
    (MV/quantile/CDC above). State is |queries| × k rows forever,
    independent of how many vectors have streamed past; the base
    corpus is never rescanned. Exact by the selection property — the
    batch boundary cannot change the result: top-k(A ∪ B) =
    top-k(top-k(A) ∪ top-k(B)), so merging two top-k STATES is a
    union + re-rank.

    Routed through ``exactly_once_merge_sink`` (round 6): a plain
    in-place state overwrite had two replay hazards — a crash
    mid-overwrite left no/torn state and the replayed batch silently
    RESET to first-batch semantics, and an already-applied batch
    re-merged its scores (duplicate (query, neighbor) rows evicting
    real neighbors). Versioned batch-id state makes both no-ops."""
    from pyspark.sql import functions as F

    from ..operators.similarity import rank_topk, score_queries

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = rank_topk(
            score_queries(queries_df, batch_df, id_col, vec_col)
            .groupBy("query_id", "neighbor_id")
            .agg(F.max("sim").alias("sim")),
            k,
        )

        def merge(base: DataFrame, part: DataFrame) -> DataFrame:
            u = base.select("query_id", "neighbor_id", "sim").unionByName(
                part.select("query_id", "neighbor_id", "sim")
            )
            return rank_topk(
                u.groupBy("query_id", "neighbor_id").agg(
                    F.max("sim").alias("sim")
                ),
                k,
            )

        exactly_once_merge_sink(spark, state_path, batch_id, partial, merge)

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_components_state_update(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
) -> None:
    """Streaming maintenance of a connected-components labeling
    (operators/components.py::incremental_components): each micro-batch
    of NEW edges (id_a, id_b) merges into the persisted (doc_id,
    component_id) state by contraction — the graph member of the
    mergeable-state sink family (MV / quantile / top-k / CDC). The
    standing near-dup graph of a streaming corpus stays resolved
    without ever re-materializing the historical pair relation: state
    is one row per vertex, and each batch's propagation runs over
    |state| + |batch| edges only. Exact — the contraction argument
    makes the batch boundary invisible to the result, and it also
    makes two LABELINGS mergeable: a labeling re-read as
    (vertex → label) edges preserves connectivity, so
    merge(state_a, state_b) = incremental_components(state_a,
    edges(state_b)).

    Routed through ``exactly_once_merge_sink`` (round 6) — the plain
    in-place overwrite could silently reset to first-batch semantics
    when a crash landed between the state delete and write (replay
    saw no state), discarding every previously streamed edge."""
    from pyspark.sql import functions as F

    from ..operators.components import (
        connected_components,
        incremental_components,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        verts = (
            batch_df.select(F.col("id_a").alias("doc_id"))
            .unionByName(batch_df.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        partial = connected_components(batch_df, verts)

        def merge(base: DataFrame, part: DataFrame) -> DataFrame:
            return incremental_components(
                base,
                part.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("component_id").alias("id_b"),
                ),
            )

        exactly_once_merge_sink(spark, state_path, batch_id, partial, merge)

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_dsir_state_update(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    target_col: str = "is_target",
    text_col: str = "text",
    n_buckets: int = 256,
) -> None:
    """Streaming maintenance of DSIR's sufficient statistic
    (operators/corpus.py::dsir_bucket_counts): each micro-batch's
    hashed-n-gram bucket counts — raw pool and target subset — merge
    into the persisted (__b, cr, ct) table by SUMMING. Counts are
    exact and associative, so the maintained state equals the batch
    counts of everything ever streamed at any batch split, and
    ``dsir_score_from_counts`` serves importance weights off the state
    alone — the corpus is featurized exactly once per document
    forever, and re-scoring after the target distribution drifts costs
    one bounded llr rebuild, never a corpus pass. State is n_buckets
    rows, history-independent (the flattest state in the sink family).
    ``target_col`` must be a boolean column on the stream (the target
    predicate is evaluated upstream so the sink stays
    predicate-agnostic). Blocks until AvailableNow drains."""
    from pyspark.sql import functions as F

    from ..operators.corpus import dsir_bucket_counts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = dsir_bucket_counts(
            batch_df, F.col(target_col), text_col, n_buckets
        )
        exactly_once_merge_sink(
            spark,
            state_path,
            batch_id,
            partial,
            lambda base, p: base.unionByName(p)
            .groupBy("__b")
            .agg(
                F.sum("cr").cast("long").alias("cr"),
                F.sum("ct").cast("long").alias("ct"),
            ),
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_word_freq_state_update(
    stream_df: DataFrame,
    state_path: str,
    checkpoint: str,
    text_col: str = "text",
) -> None:
    """Streaming maintenance of the BPE trainer's sufficient statistic
    (operators/tokenizer.py): each micro-batch's word counts merge
    into the persisted (word, freq) table by SUMMING — counts are
    exact and associative, so the maintained state equals the batch
    ``word_frequencies`` of everything ever streamed, at any batch
    split. State size is vocabulary-bounded (never corpus-bounded);
    the retrain decision then runs off the state alone, so the corpus
    is touched exactly once per document forever. Same copy-on-write
    merge as the CMS/histogram sinks above (swap for a table-format
    MERGE in a Delta/Iceberg deployment). Blocks until AvailableNow
    drains."""
    from pyspark.sql import functions as F

    from ..operators.tokenizer import word_frequencies

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = word_frequencies(batch_df, text_col)
        exactly_once_merge_sink(
            spark,
            state_path,
            batch_id,
            partial,
            lambda base, p: base.unionByName(p)
            .groupBy("word")
            .agg(F.sum("freq").cast("long").alias("freq")),
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def bpe_merges_stale(
    spark,
    state_path: str,
    saved_merges: list[tuple],
    n_merges: int = 8,
    max_words: int = 400,
) -> bool:
    """Retrain trigger: re-learn merges from the maintained
    word-frequency state (driver-side over the vocab-capped table —
    seconds, no corpus pass) and report whether they diverge from the
    served merge table. The deployment loop: stream counts →
    ``bpe_merges_stale`` on a schedule → ``write_bpe`` a new version
    only when the answer is yes."""
    from ..operators.tokenizer import train_bpe

    current = train_bpe(
        spark.read.parquet(state_path), n_merges=n_merges, max_words=max_words
    )
    return current != list(saved_merges)


def run_lsh_index_update(
    stream_df: DataFrame,
    bucket_path: str,
    checkpoint: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> list[dict[str, int]]:
    """Streaming maintenance of the LSH ANN bucket index
    (operators/similarity.py::lsh_bucket_relation): each micro-batch
    of NEW corpus vectors is bucketed (an in-row map — the hyperplanes
    are a broadcast one-row table) and appended to the persisted
    (neighbor_id, c_vec, bucket) relation through the keyed idempotent
    sink, so redelivered batches and re-sent vectors are no-ops. The
    base corpus is never rescanned; index growth costs one map pass
    over the delta — the LSH member of the index-maintenance family
    (ANN tombstones/append, dedup fp/band update). Serving probes the
    maintained relation via ``lsh_bucket_topk(corpus_buckets=...)``.

    CONTRACT: the corpus is APPEND-ONLY with immutable vectors — the
    index is keyed on ``neighbor_id`` alone, so a vector redelivered
    with a CHANGED embedding is treated as a duplicate and SKIPPED
    (the stale bucket keeps serving). For mutable corpora route
    updates through a delete/tombstone path like the IVFPQ index
    (operators/ann_index.py::delete_from_ivfpq). To make violations
    observable, per-batch insert/skip counts are returned (and a
    nonzero skip on a batch the caller believes is all-new is the
    drift signal to alert on).

    Blocks until AvailableNow drains; returns one
    ``{"batch_id", "inserted", "skipped"}`` dict per micro-batch."""
    from ..operators.similarity import lsh_bucket_relation
    from ..sources.sinks import idempotent_append

    stats: list[dict[str, int]] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        buckets = lsh_bucket_relation(
            batch_df, dim, id_col, vec_col, n_planes, seed
        )
        counts = idempotent_append(buckets, bucket_path, ["neighbor_id"])
        stats.append({"batch_id": int(batch_id), **counts})

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stats
