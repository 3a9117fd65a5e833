"""Physical-plan regression tests for the headline queries.

At 100 TB the plan is the contract: a filter that stops reaching the
parquet scan, a pruned column that starts being read, or a broadcast
that silently becomes a shuffle join are order-of-magnitude
regressions that row-count tests never see. These assertions pin the
plan properties we tuned for."""

from __future__ import annotations

import pytest

from scotustician_spark.plans import QUERY_REGISTRY


def _final_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()  # finalize AQE
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")  # untruncated ReadSchema
    plan = _final_plan(QUERY_REGISTRY["pricing_summary"].fn(spark, sf_dir))
    # date filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    # column pruning: 16-column lineitem scan reads only the 7 needed
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert read.count(":") == 7 and "l_comment" not in read, read
    # single shuffle (partial agg then final), whole-stage codegen on
    assert plan.count("Exchange") == 1 and "HashAggregate" in plan, plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["star_join_revenue"].fn(spark, sf_dir))
    # customer, nation, region ride broadcasts — the fact table is
    # never shuffled for them
    assert plan.count("BroadcastHashJoin") == 3, plan
    # orders date filter is pushed down
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan, plan


def test_weighted_vec_avg_shuffles_scalars_not_vectors(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["weighted_vec_avg"].fn(spark, sf_dir))
    # the (group, dim) partial-aggregation design: map-side partial
    # HashAggregate before the exchange, so the shuffle carries one
    # partial sum per (group, dim), never whole vectors
    before_shuffle = plan.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in before_shuffle, plan


def test_asof_join_single_exchange_full_query(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["asof_prior_purchase"].fn(spark, sf_dir))
    assert plan.count("Exchange") == 1, plan  # one shuffle on user_id, ever


def test_simhash_is_pure_map(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["simhash_signatures"].fn(spark, sf_dir))
    # signature is one in-row expression: no aggregation anywhere, and
    # the only exchange is the parallelism repartition of the scan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert plan.count("Exchange") == 1 and "REPARTITION" in plan, plan


def test_minhash_lsh_single_signature_pass(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["minhash_lsh_pairs"].fn(spark, sf_dir))
    # in-row signatures + in-row bucket pair generation: NO join
    # anywhere (a self-join would compute the signature map twice —
    # Spark does not reuse the exchange across self-join sides), and
    # exactly 3 exchanges: compute repartition, bucket groupBy, pair
    # distinct
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 3, plan
    # one md5 per shingle: the signature expression appears in ONE
    # projection (the let-binding blocks ProjectCollapse duplication)
    assert plan.count("conv(substring(md5") <= 1, plan


def test_doc_repetition_is_pure_map(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["doc_repetition"].fn(spark, sf_dir))
    # repetition stats are in-row HOF expressions: no aggregation, no
    # join; the only exchange is the parallelism repartition
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1 and "REPARTITION" in plan, plan


def test_contamination_corpus_never_shuffles_for_eval_join(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["contamination_ngrams"].fn(spark, sf_dir))
    # default (pandas) kernel: the eval shingle set rides a
    # SparkContext broadcast into the Arrow kernel — the corpus side is
    # one ArrowEvalPython map pass with NO join node and no corpus
    # aggregation; the only exchange is the parallelism repartition
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_pq_codebooks_and_lut_broadcast(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["pq_ann_topk"].fn(spark, sf_dir))
    # every codebook/LUT join is broadcast; the corpus-side code table
    # is never the shuffled side of a sort-merge join
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_bloom_semi_prefilters_fact_before_join(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["bloom_semi_revenue"].fn(spark, sf_dir))
    # the bloom probe (xxhash64 positions + bit tests) must sit in a
    # Filter on the fact side, upstream of the exact semi join
    semi_at = plan.find("LeftSemi")
    assert semi_at > 0, plan
    assert "xxhash64" in plan[semi_at:], plan
    # the one-row bloom rides a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_boilerplate_hot_set_joins_broadcast_anti(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["boilerplate_chunks"].fn(spark, sf_dir))
    # the hot-chunk set anti-joins as a broadcast (default config):
    # corpus chunk rows never shuffle for the boilerplate filter
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_incremental_mv_merge_single_final_exchange(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["incremental_mv_orders"].fn(spark, sf_dir))
    # base partial + delta partial + merge: partial aggregation is
    # map-side (HashAggregate before every exchange), and the merge
    # re-aggregation introduces no extra full-data exchange beyond the
    # per-batch group-by shuffles
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "HashAggregate" in plan, plan


def test_bm25_single_tiny_agg_then_broadcast(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["bm25_relevance"].fn(spark, sf_dir))
    # no explode anywhere; global stats come back as a broadcast, and
    # the corpus itself never hash-shuffles
    assert "Generate" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_heavy_hitters_recount_is_broadcast_semi(spark, sf_dir):
    from scotustician_spark.operators.frequency import token_heavy_hitters
    from scotustician_spark.plans.tables import load_table

    docs = load_table(spark, sf_dir, "documents", normalize_ntz=False)
    # MG arm (the above-threshold plan): candidates come from the
    # map-side Misra-Gries pass (mapInPandas node), and the exact
    # recount joins them BROADCAST semi — the full token stream never
    # hash-shuffles un-filtered: every hashpartitioning exchange sits
    # above the semi-join (candidate-filtered rows or the tiny
    # candidate set itself)
    plan = _final_plan(
        token_heavy_hitters(docs, "text", 200, strategy="misra_gries")
    )
    assert "MapInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the registered query auto-selects: at test-file sizes that is the
    # groupby arm — one whole-stage hash aggregate, zero Python
    plan_auto = _final_plan(QUERY_REGISTRY["token_heavy_hitters"].fn(spark, sf_dir))
    assert "MapInPandas" not in plan_auto, plan_auto
    assert "HashAggregate" in plan_auto, plan_auto


def test_ts_gapfill_single_join_no_cartesian_calendar(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["ts_gapfill"].fn(spark, sf_dir))
    # the dense axis is born in-row (explode of sequence()) — Generate
    # present, and the only join in the plan is dense⋈observed; the
    # bounds scalar rides a broadcast, never a cartesian calendar join
    assert "Generate explode" in plan, plan
    assert "CartesianProduct" not in plan, plan
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    )
    # dense⋈observed plus the broadcast of the 1-row bounds
    assert joins <= 2, plan


def test_fuzzy_pairs_block_equijoin_no_cartesian(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["fuzzy_name_pairs"].fn(spark, sf_dir))
    # the self-join is an EQUI-join on the blocking key — levenshtein
    # never appears in a nested-loop/cartesian condition
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "levenshtein" in plan, plan


def test_duplicate_spans_hot_set_broadcast_semi(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["duplicate_spans"].fn(spark, sf_dir))
    # duplicated-fingerprint probe is a broadcast semi join; span merge
    # is a per-document window (single hashpartitioning on doc_id
    # beyond the shingle groupBy) — no cartesian anywhere
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The runtime half of the skew story (operators/skew.py salts
    KNOWN hot keys; AQE must catch the unknown ones): a 95%-one-key
    join, forced to SMJ, must come out of adaptive execution with the
    hot partition split (SortMergeJoin(skew=true) + skewed
    AQEShuffleRead) and exact results."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("p"),
        )
        dim = spark.range(0, 200_000, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("d")
        )
        j = fact.join(dim, "k")
        # collect() drives THIS DataFrame's QueryExecution, so the
        # adaptive final plan is inspectable afterwards (a write sink
        # clones the plan into its own execution)
        assert len(j.collect()) == 190_011
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cbo_statistics_drive_broadcast_choice(spark, sf_dir, tmp_path):
    """Cost-based optimization: with table statistics ANALYZEd, Catalyst
    broadcasts the small side of an un-hinted join on its own — the
    100 TB discipline of keeping stats fresh so the planner (not the
    query author) picks join strategies. Without stats and with the
    auto-broadcast threshold disabled, the same join sort-merges."""
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.statistics.size.autoUpdate.enabled", "true")
    # the tuned session disables STATIC auto-broadcast (estimates lie;
    # AQE + hints carry production joins) — re-enable it here precisely
    # because ANALYZE makes the estimates trustworthy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    wh = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbo_t LOCATION '{wh}'")
    try:
        small = spark.read.parquet(f"{sf_dir}/nation.parquet")
        big = spark.read.parquet(f"{sf_dir}/customer.parquet")
        small.write.mode("overwrite").saveAsTable("cbo_t.nation")
        big.write.mode("overwrite").saveAsTable("cbo_t.customer")
        spark.sql("ANALYZE TABLE cbo_t.nation COMPUTE STATISTICS")
        spark.sql("ANALYZE TABLE cbo_t.customer COMPUTE STATISTICS")
        joined = spark.sql(
            """SELECT c.c_custkey, n.n_name
               FROM cbo_t.customer c JOIN cbo_t.nation n
                 ON c.c_nationkey = n.n_nationkey"""
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # stats are visible to the optimizer (sizeInBytes + rowCount)
        stats = spark.sql(
            "DESCRIBE TABLE EXTENDED cbo_t.nation"
        ).collect()
        stat_row = [r for r in stats if r.col_name == "Statistics"]
        assert stat_row and "rows" in stat_row[0].data_type, stats
    finally:
        spark.sql("DROP DATABASE IF EXISTS cbo_t CASCADE")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.statistics.size.autoUpdate.enabled")


def test_stride_chunks_no_hash_shuffle(spark, sf_dir):
    # chunking is a pure map: the only Exchange is the parallelism
    # round-robin (repartition_for_compute on the narrow test scan) —
    # no hash/range shuffle anywhere
    plan = _final_plan(QUERY_REGISTRY["doc_stride_chunks"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan


def test_source_overlap_single_scan_no_joins(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["source_overlap_jaccard"].fn(spark, sf_dir))
    # round-9 single-pass rewrite: the postings aggregate is consumed
    # exactly once (self-pairs carry the per-source sizes; n_a/n_b are
    # window maxes over the tiny pair relation) — so the plan has ONE
    # corpus scan and NO join of any kind; the former shape (size
    # relations re-derived through broadcast joins) scanned and
    # shingled the corpus three times
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # pair generation is the in-row expansion over posting lists
    assert "explode" in plan.lower(), plan


def test_ivfpq_assignment_partial_combines_map_side(spark, sf_dir):
    # The build's argmin passes run in a numpy mapInArrow kernel (raw
    # distances per candidate; round + least/CASE argmin in the JVM),
    # so the corpus encodes in a pure map: the final plan carries the
    # MapInArrow node and NO corpus-grain exchange. A regression to the
    # relational argmin (a partial_min struct aggregate shuffled on
    # cid) or to a row_number sort window would re-shuffle the corpus
    # and the two negative asserts catch it.
    # ann_build is the row that pays the inline build (ivfpq_ann_topk
    # serves the persisted index, so the build never appears in its
    # plan).
    plan = _final_plan(QUERY_REGISTRY["ann_build"].fn(spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "partial_min(struct(d2r" not in plan, plan
    assert "hashpartitioning(cid" not in plan, plan


def test_ivfpq_headline_serves_persisted_index(spark, sf_dir):
    # the serving headline must read the persisted index tables, never
    # rebuild inline: no quantizer argmin in the plan, and the scans
    # come from the warehouse index layout
    plan = _final_plan(QUERY_REGISTRY["ivfpq_ann_topk"].fn(spark, sf_dir))
    assert "partial_min(struct(d2r" not in plan, plan
    assert "ann_index/ivfpq_" in plan, plan


def test_transition_matrix_broadcast_normalizer(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["event_transition_matrix"].fn(spark, sf_dir))
    # the per-from totals join back via broadcast; the only window is
    # the per-user lead (keyed, never a global single-partition sort)
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_key_skew_profile_no_global_sort(spark, sf_dir):
    plan = _final_plan(QUERY_REGISTRY["key_skew_profile"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # totals attach via broadcast nested loop (single-row cross join)
    assert "rangepartitioning" not in plan, plan


def test_registry_plan_lints_one_sweep(spark, sf_dir):
    """Registry-wide scale lints, one planning sweep over every query:

    1. No CartesianProduct — every cross join must ride a broadcast
       (tiny side) so nothing ever pairs two shuffled relations
       blindly. MLlib's ALS is the one whitelisted internal exception.
    2. No BatchEvalPython — Python compute may appear only as
       Arrow-batched kernels (ArrowEvalPython / MapInPandas /
       FlatMapGroupsInPandas), which the compute-heavy operators use
       deliberately.
    """
    from scotustician_spark.plans import QUERY_REGISTRY

    cartesian_allowed = {"als_recommendations"}  # MLlib-internal
    offenders = {}
    for name, q in sorted(QUERY_REGISTRY.items()):
        plan = (
            q.fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        problems = []
        if "CartesianProduct" in plan and name not in cartesian_allowed:
            problems.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF")
        if problems:
            offenders[name] = problems
    assert not offenders, f"plan lints failed: {offenders}"


@pytest.mark.parametrize("n_rows", [0, 1])
def test_registry_survives_empty_tables(spark, tmp_path, n_rows):
    """Robustness sweep: every registry query must plan AND execute
    against EMPTY (n_rows=0) and SINGLETON (n_rows=1) copies of all
    ten tables without crashing — the guard against 1/n seeds, schema
    inference on zero-file partitioned writes, n−1 divisions
    (variance/correlation/dof), zero-MAD and single-source statistics,
    and null-propagation edge cases a fresh partition or a tiny
    incremental delta hits in production. The one MLlib `.fit` query
    (ALS, declared rows-only) legitimately refuses to fit on ≤1 row
    and is whitelisted; the deterministic Lloyd/power-iteration ML
    queries must survive like everything else."""
    from scotustician_spark.plans import QUERY_REGISTRY

    fit_whitelist = {
        "als_recommendations",  # the one remaining MLlib .fit query
    }
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            n_rows
        ).write.parquet(f"{tmp_path}/{t}.parquet")
    fails = {}
    for name, q in sorted(QUERY_REGISTRY.items()):
        if name in fit_whitelist:
            continue
        try:
            q.fn(spark, str(tmp_path)).limit(5).collect()
        except Exception as ex:  # noqa: BLE001 — report, don't mask
            fails[name] = f"{type(ex).__name__}: {str(ex)[:120]}"
    assert not fails, f"queries crashed on {n_rows}-row tables: {fails}"


def test_registry_survives_adversarial_text(spark, tmp_path):
    """Crash-robustness sweep with pathological DOCUMENT content — the
    inputs a real crawl serves daily: null bytes and control chars,
    astral-plane emoji, CJK (no spaces), RTL text, a 100k-char single
    token, whitespace-only, pipe/quote/regex metacharacters (the
    minhash band separator and SQL-ish injection shapes), and mixed
    exotic whitespace. Values are not oracle-compared here (regex
    engines differ on exotic classes) — the contract is: every query
    plans and executes. Other tables are one-row copies."""
    rows = [
        (1, "null\x00byte and \x01control\x02chars", "en", "a", 30),
        (2, "emoji \U0001f600\U0001f680 mixed with text tokens", "en", "a", 40),
        (3, "中文没有空格的长句子测试中文没有空格", "zh", "b", 19),
        (4, "نص عربي من اليمين إلى اليسار مع كلمات", "ar", "b", 37),
        (5, "x" * 100_000, "en", "c", 100_000),
        (6, " \t\n\r\x0b\x0c ", "en", "c", 7),
        (7, "pipe|sep 'quote' \"dq\" back\\slash $(cmd) %s {brace}", "en", "d", 50),
        (8, "regex .* meta [a-z]+ (group) ^anchor$ char?", "en", "d", 43),
        (9, "    unicode­spacing​ marks", "en", "e", 30),
        (10, "normal control document with plain words here", "en", "e", 45),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events embeddings"
    ).split():
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            1
        ).write.parquet(f"{tmp_path}/{t}.parquet")
    fit_whitelist = {
        "als_recommendations",  # the one remaining MLlib .fit query
    }
    fails = {}
    for name, q in sorted(QUERY_REGISTRY.items()):
        if name in fit_whitelist:
            continue
        try:
            q.fn(spark, str(tmp_path)).limit(5).collect()
        except Exception as ex:  # noqa: BLE001 — report, don't mask
            fails[name] = f"{type(ex).__name__}: {str(ex)[:120]}"
    assert not fails, f"queries crashed on adversarial text: {fails}"


def test_repartition_for_compute_node_match_not_substring(spark):
    """The lineage probe matches the Repartition NODE, not a bare
    substring: a column literally named like the node must not make
    the helper silently skip the widening (r10 VERDICT item 5), and a
    frame whose lineage really pins a repartition is returned as-is."""
    from scotustician_spark.session import local_relation, repartition_for_compute

    df = local_relation(
        spark, [(1, "x"), (2, "y")], "RepartitionFlag long, v string"
    ).filter("RepartitionFlag > 0")
    out = repartition_for_compute(df, min_partitions=4)
    # the decoy column name must NOT suppress the widening
    assert out is not df
    assert "Repartition" in out._jdf.queryExecution().analyzed().toString()
    # a genuinely pinned frame is returned untouched, no probe executed
    pinned = df.repartition(4)
    assert repartition_for_compute(pinned, min_partitions=8) is pinned
