"""Similarity search over embedding columns (``array<float>``).

The reference's vector search is pgvector cosine top-k over case
embeddings (clustering/helpers.py:185-226, W2 in SURVEY §2.6). Each
search step is one function here, shared by every family that runs it:
``score_queries`` scores, ``rank_topk`` ranks (sim desc, id asc),
``_adc_topk`` ranks by asymmetric distance, ``_sq_l2`` is the
squared-L2 fold and ``lloyd_assignments`` the deterministic
quantizer. The families:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against one corpus scan. ``incremental_topk`` maintains
  the same top-k under corpus inserts.
- ``lsh_bucket_topk`` — deterministic random-hyperplane bucketing
  (``lsh_bucket_relation``); only same-bucket pairs are scored.
- ``ivf_topk_onestep`` — IVF-flat: a Lloyd quantizer, then
  ``ivfflat_probe`` (nearest cells, exact scoring inside them).
  ``ivf_topk`` is the MLlib-KMeans-quantizer arm.
- ``pq_topk_onestep`` — product quantization, asymmetric distances.
- ``ivfpq_topk_onestep`` — IVF + residual PQ: ``ivfpq_build`` then
  ``ivfpq_probe``; ``ann_rerank_topk`` re-ranks its candidates with
  ``exact_rerank``. ``operators/ann_index.py`` persists the same
  index and serves it through the same probe and re-rank.
- ``semantic_dedup_cells`` — in-cell cosine dedup over the quantizer.
- ``pairwise_cosine_blocked`` — all-pairs cosine ≥ threshold by
  block matrix multiply.
- ``mmr_diversify`` — maximal-marginal-relevance result pages.
"""

from __future__ import annotations

import math
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.vector import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries are broadcast (small side); the corpus is scanned once.
    Ranking uses row_number over (query, -sim) with id tie-break so
    results are deterministic.
    """
    return rank_topk(score_queries(queries, corpus, id_col, vec_col, None), k)


# session -> {(dim, n_planes, seed): relation}; weak keys drop a
# stopped session's entries (the tables._CACHE discipline — id()-keyed
# caches can alias a new session after GC)
_PLANES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _hyperplane_relation(spark, dim: int, n_planes: int, seed: int) -> DataFrame:
    """One-row broadcast relation of the seeded sinusoid hyperplanes,
    memoized per (session, dim, n_planes, seed) — the table is a pure
    function of its parameters (NOT of any dataset), so caching it is
    the constant-folding every call repaid: the former per-call
    createDataFrame planned as a pickled-RDD scan whose broadcast
    build launched a 32-task Python-worker job PER QUERY CALL (~0.3 s
    wall / 6 s CPU measured on lsh_ann_topk at sf0.1); now it is an
    Arrow-native local relation (guide §4) built once per session."""
    per_session = _PLANES_CACHE.setdefault(spark, {})
    key = (dim, n_planes, seed)
    got = per_session.get(key)
    if got is not None:
        return got
    from ..session import local_relation

    planes = [
        [math.sin(seed + p * dim + i) for i in range(dim)] for p in range(n_planes)
    ]
    pdf = local_relation(spark, [(planes,)], "__planes array<array<double>>")
    per_session[key] = pdf
    return pdf


def lsh_bucket_relation(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    id_out: str = "neighbor_id",
    vec_out: str = "c_vec",
) -> DataFrame:
    """The (id, vec, bucket) LSH index relation: sign-bit bucketing
    against the deterministic seeded hyperplanes. Factored out of
    ``lsh_bucket_topk`` so a serving path can PERSIST the corpus's
    bucket relation (build once) and pay only the query-side bucketing
    per call — at 100 TB the corpus bucketing is a full map pass you
    run once, not per query batch."""
    spark = df.sparkSession
    pdf = _hyperplane_relation(spark, dim, n_planes, seed)
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), F.col("__planes")[p], lambda x, h: x * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.crossJoin(F.broadcast(pdf)).select(
        F.col(id_col).alias(id_out),
        F.col(vec_col).alias(vec_out),
        bucket.alias("bucket"),
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    sim_round: int | None = None,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket.

    At 100 TB this replaces the broadcast-scan (which is per-query
    linear) with an equi-join on bucket: corpus partitions by bucket
    once, each query probes one partition. Recall is tunable via
    n_planes (fewer planes → bigger buckets → higher recall and cost).

    ``sim_round``: round similarities BEFORE ranking so the rank order
    (rounded-sim desc, id asc) is reproducible across engines.

    The hyperplanes ride along as a broadcast single-row table rather
    than inline literals: n_planes×dim literal nodes (512 here) cost
    ~0.5-1 s of analysis per query call, while a broadcast column
    reference is free to the planner — same values (driver-computed
    sinusoids), measured ~25% faster end-to-end, and the plan size no
    longer grows with the plane count.

    ``corpus_buckets``: a precomputed (PERSISTED) corpus bucket
    relation from ``lsh_bucket_relation`` — the serving path skips the
    corpus-side bucketing entirely.
    """
    cb = (
        corpus_buckets
        if corpus_buckets is not None
        else lsh_bucket_relation(
            corpus, dim, id_col, vec_col, n_planes, seed, "neighbor_id", "c_vec"
        )
    )
    qb = lsh_bucket_relation(
        queries, dim, id_col, vec_col, n_planes, seed, "query_id", "q_vec"
    )
    sim = cosine_similarity("q_vec", "c_vec")
    if sim_round is not None:
        sim = F.round(sim, sim_round)
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
        .select("query_id", "neighbor_id", "sim")
    )
    return rank_topk(scored, k)


def _sq_l2(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance between two array columns as a Catalyst HOF:
    element differences squared in the arrays' own type, folded left
    into a double from 0.0. The oracles replay exactly this arithmetic,
    so it is not ``functions.vector.l2_distance``, which widens to
    double first."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _d2r(a: Column | str, b: Column | str, d2_round: int) -> Column:
    """``_sq_l2`` rounded to ``d2_round``: the engine-stable ``d2r``
    that every quantizer argmin, probe-cell choice and ADC lookup
    ranks by."""
    return F.round(_sq_l2(a, b), d2_round)


def _pq_sub(dim: int, m: int) -> int:
    """Subspace width ``dim // m``; raises unless ``m`` divides ``dim``
    (a remainder would silently drop the trailing dimensions)."""
    if m <= 0 or dim % m:
        raise ValueError(f"dim={dim} must divide evenly into m={m} subspaces")
    return dim // m


def lloyd_assignments(
    c: DataFrame, n_cells: int, n_iters: int = 1, d2_round: int = 6
) -> tuple[DataFrame, DataFrame]:
    """Deterministic ``n_iters``-step Lloyd (k-means) quantizer: seed
    cells from the ``n_cells`` lowest-id vectors, then ``n_iters``
    rounds of (assign to nearest centroid, re-center as the element-
    wise cell mean), then a final assignment against the last
    centroids. ``c`` must have columns (cid, c_vec). Returns
    (assignments (cid, c_vec, cell), centroids (cell, centroid)).

    The whole recurrence is SQL-reproducible on any engine (distances
    round to ``d2_round`` BEFORE every argmin; ties break by cell
    asc; centroid means are per-(cell, pos) avgs) — the same rounding
    discipline proven for the IVFPQ build, extended from the one-step
    refinement to a converged k-means. ``n_iters=1`` is the one-step
    refinement shared by IVF-flat search and semantic dedup.

    Scale shape: each round is one broadcast of the |n_cells| centroid
    table + one map-side-combined partial aggregation over the corpus
    — no corpus shuffle, rounds cost O(corpus × n_cells) compute and
    the centroid relation is localCheckpointed per round so the plan
    stays ``n_iters``-flat instead of exponentially nested."""

    seeds = (
        c.orderBy("cid")
        .limit(n_cells)
        .select(
            (F.row_number().over(W.orderBy("cid")) - 1).cast("int").alias("cell"),
            F.col("c_vec").alias("centroid"),
        )
    )

    def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        # argmin as a STRUCT-MIN hash aggregate, not a row_number sort
        # window: lexicographic min over (d2r, cell, vec) is exactly the
        # (d2r asc, cell asc) tie-break, and a HashAggregate partial-
        # combines map-side — the |corpus|×n_cells relation collapses to
        # one row per vector BEFORE the exchange, where the window
        # formulation shuffled and sorted all of it
        return (
            vecs.crossJoin(F.broadcast(cents))
            .withColumn("d2r", _d2r("c_vec", "centroid", d2_round))
            .groupBy("cid")
            .agg(F.min(F.struct("d2r", "cell", "c_vec")).alias("__m"))
            .select("cid", F.col("__m.c_vec").alias("c_vec"), F.col("__m.cell").alias("cell"))
        )

    # each Lloyd step: element-wise mean per cell (long-form avg keeps
    # the arithmetic SQL-reproducible: avg per (cell, pos))
    cents = seeds
    for _ in range(n_iters):
        a = _assign(c, cents)
        cents = (
            a.select("cell", F.posexplode("c_vec").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.col("pm.m").alias("centroid"))
        )
        if n_iters > 1:  # keep multi-round plans flat; tiny relation
            cents = cents.localCheckpoint(eager=True)
    return _assign(c, cents), cents


def semantic_dedup_cells(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.4,
    d2_round: int = 6,
    sim_round: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): the
    all-pairs cosine search is restricted to pairs sharing a quantizer
    cell — the approximation that makes embedding dedup tractable at
    corpus scale (pair cost is Σ |cell|², not corpus²; more cells →
    cheaper and stricter). High-similarity pairs then resolve to
    components with a min-id keeper per duplicate group.

    Returns (id_col, cell, component_id, component_size, is_keeper) —
    one row per corpus vector; singletons keep themselves. Exactly
    reproducible in SQL: the quantizer is the deterministic one-step
    Lloyd shared with ``ivf_topk_onestep``, similarities round before
    thresholding.
    """
    from .components import dedup_resolution

    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    # the quantizer output feeds THREE consumers (both self-join sides
    # and the final cell join-back) — materialize once so the two-pass
    # Lloyd assignment isn't re-evaluated per consumer (same lineage-cut
    # discipline as triangle_counts / the components loop)
    assigned, _ = lloyd_assignments(c, n_cells, 1, d2_round)
    assigned = assigned.localCheckpoint(eager=True)
    # in-cell pairs only: the equi-join on cell bounds the explosion
    a = assigned.select(
        F.col("cid").alias("id_a"), F.col("c_vec").alias("v_a"), "cell"
    )
    b = assigned.select(
        F.col("cid").alias("id_b"), F.col("c_vec").alias("v_b"), "cell"
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_similarity("v_a", "v_b"), sim_round))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b")
    )
    resolved = dedup_resolution(pairs, c.select(F.col("cid").alias("doc_id")))
    cells = assigned.select(F.col("cid").alias("doc_id"), "cell")
    return resolved.join(cells, "doc_id").select(
        F.col("doc_id").alias(id_col),
        "cell",
        "component_id",
        "component_size",
        "is_keeper",
    )


def ivf_topk_onestep(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    d2_round: int = 6,
    sim_round: int = 6,
    n_iters: int = 1,
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC Lloyd coarse quantizer
    (``lloyd_assignments``, shared with ``semantic_dedup_cells``) —
    the oracle-checkable sibling of ``ivf_topk`` (whose MLlib KMeans
    quantizer is iterative and engine-specific). Build, then probe:
    the quantizer labels every corpus vector with its cell, then
    ``ivfflat_probe`` — the same probe the persisted IVF-flat index
    serves — scores each query's ``n_probe`` nearest cells exactly.

    Seeds are the vectors with the ``n_cells`` smallest ids; one Lloyd
    refinement (assign to nearest seed, re-center as the element-wise
    cell mean) gives data-adapted centroids that any SQL engine can
    reproduce. ``n_iters`` > 1 runs the quantizer to a deeper Lloyd
    convergence — the deterministic, oracle-replayable equivalent of a
    learned k-means quantizer.
    """
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    assigned, cents = lloyd_assignments(c, n_cells, n_iters, d2_round)
    inverted = assigned.select(F.col("cid").alias("neighbor_id"), "c_vec", "cell")
    return ivfflat_probe(
        cents, inverted, queries, id_col, vec_col, k, n_probe, d2_round, sim_round
    )


def ivfflat_probe(
    centroids: DataFrame,
    inverted: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    d2_round: int,
    sim_round: int,
) -> DataFrame:
    """The IVF-flat probe: each query's ``n_probe`` nearest cells by
    rounded squared L2 (ties by cell asc), then exact rounded cosine
    inside those cells, ranked by ``rank_topk``. ``centroids`` is
    (cell, centroid); ``inverted`` is the cell-labelled corpus
    (neighbor_id, cell, c_vec). Centroids and the per-query probe
    rows broadcast; the inverted lists join on cell (a persisted,
    cell-partitioned list prunes to the probed cells) — candidates
    scale with list sizes, never corpus²."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    wp = W.partitionBy("query_id").orderBy(F.asc("d2r"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d2r", _d2r("q_vec", "centroid", d2_round))
        .withColumn("p_rnk", F.row_number().over(wp))
        .filter(F.col("p_rnk") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    scored = (
        inverted.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine_similarity("q_vec", "c_vec"), sim_round))
        .select("query_id", "neighbor_id", "sim")
    )
    return rank_topk(scored, k)


def pq_topk_onestep(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    d2_round: int = 6,
) -> DataFrame:
    """Product-quantization ANN (4th family after brute force / LSH /
    IVF): vectors compress to ``m`` one-byte codes (nearest codeword
    per subspace), queries rank candidates by asymmetric distance —
    sum over subspaces of query-to-codeword distances read from a
    per-query lookup table. This is the compressed-domain path that
    matters at 100 TB: the scan touches m bytes per vector instead of
    ``dim`` floats (16× here, 256× at dim 1024), and distance
    evaluation is table lookups, not arithmetic over raw vectors.

    Codebooks use the same DETERMINISTIC one-step Lloyd as
    ``ivf_topk_onestep`` (seed codewords from the ``n_codes``
    lowest-id vectors' subvectors, one assign + re-center), distances
    round before every argmin/rank, so a SQL oracle reproduces the
    result bit-for-bit.

    Plan shape: codebooks are tiny (m×n_codes rows) and broadcast;
    encoding is a map-side pass over the corpus; the LUT is
    queries×m×n_codes rows, broadcast; candidate scoring is one
    groupBy(query, candidate) over the m-row-per-vector code table.
    Nothing ever shuffles on the corpus but the final k-row-per-query
    top-k. Compose with an exact re-rank of the top candidates when
    recall matters.
    """
    sub = _pq_sub(dim, m)

    def _subvecs(df: DataFrame, id_alias: str) -> DataFrame:
        return _pq_subvecs(df, [F.col(id_col).alias(id_alias)], vec_col, m, sub)

    def _assign(sv: DataFrame, id_alias: str, cb: DataFrame) -> DataFrame:
        # struct-min argmin (see lloyd_assignments): hash agg with
        # map-side partials instead of a sort window
        return (
            sv.join(F.broadcast(cb), "j")
            .withColumn("d2r", _d2r("sv", "cw", d2_round))
            .groupBy(id_alias, "j")
            .agg(F.min(F.struct("d2r", "code", "sv")).alias("__m"))
            .select(
                id_alias,
                "j",
                F.col("__m.code").alias("code"),
                F.col("__m.sv").alias("sv"),
            )
        )

    csub = _subvecs(corpus, "cid")
    # seed codewords: subvectors of the n_codes lowest-id vectors
    seeds = _subvecs(
        corpus.orderBy(id_col).limit(n_codes), "sid"
    ).select(
        "j",
        (F.row_number().over(W.partitionBy("j").orderBy("sid")) - 1)
        .cast("int")
        .alias("code"),
        F.col("sv").alias("cw"),
    )
    # one Lloyd step per subspace: re-center codewords as element means
    a0 = _assign(csub, "cid", seeds)
    cb1 = (
        a0.select("j", "code", F.posexplode("sv").alias("spos", "v"))
        .groupBy("j", "code", "spos")
        .agg(F.avg("v").alias("mv"))
        .groupBy("j", "code")
        .agg(F.array_sort(F.collect_list(F.struct("spos", "mv"))).alias("pm"))
        .select("j", "code", F.col("pm.mv").alias("cw"))
    )

    codes = _assign(csub, "cid", cb1).select(
        F.col("cid").alias("neighbor_id"), "j", "code"
    )
    lut = (
        _subvecs(queries, "query_id")
        .join(F.broadcast(cb1), "j")
        .select("query_id", "j", "code", _d2r("sv", "cw", d2_round).alias("lut_d2"))
    )
    return _adc_topk(codes, lut, ["j", "code"], k, d2_round)


def _pq_subvecs(
    df: DataFrame, id_cols: list[Column | str], vcol: str, m: int, sub: int
) -> DataFrame:
    """Explode an array column into its ``m`` subspace slices:
    one row per (ids…, j, sv) with sv = dims [j*sub, (j+1)*sub).
    ``id_cols`` are column names or (aliased) Columns of ``df``."""
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(vcol), j * sub + 1, sub)
                .cast("array<double>")
                .alias("sv"),
            )
            for j in range(m)
        ]
    )
    exploded = df.select(*id_cols, F.explode(parts).alias("s"))
    return exploded.select(
        *exploded.columns[:-1], F.col("s.j").alias("j"), F.col("s.sv").alias("sv")
    )


def _adc_topk(
    codes: DataFrame, lut: DataFrame, keys: list[str], k: int, d2_round: int
) -> DataFrame:
    """Asymmetric-distance top-k, shared by PQ and IVFPQ: ``codes``
    (neighbor_id, keys…) joins the broadcast per-query lookup table
    ``lut`` (query_id, keys…, lut_d2) on ``keys``, each candidate's
    distance is the sum of its m entries, ranked (approx_d2 asc,
    neighbor_id asc)."""
    approx = (
        codes.join(F.broadcast(lut), keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        # only m addends: rounding the sum removes engine-order ulps
        .agg(F.round(F.sum("lut_d2"), d2_round).alias("approx_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("neighbor_id"))
    return approx.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def _ivfpq_build_tables(
    corpus: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    n_cells: int,
    m: int,
    n_codes: int,
    d2_round: int,
) -> tuple[list, list, DataFrame]:
    """IVFPQ build with the quantizer tables COLLECTED (bounded: n_cells
    centroids + m×n_codes codewords — parameter-sized, corpus-size-
    independent) and every corpus argmin pass run by a numpy
    ``mapInArrow`` kernel (``_raw_d2``).

    Four bounded collects run in order: the ``n_cells`` lowest-id seed
    vectors; the one-step re-centered centroids (seed argmin, then a
    per-(cell, pos) avg); the PQ seed codebook (residual slices of the
    ``n_codes`` lowest-id vectors); and the one-step re-centered
    codebook (per-subspace argmin over all residuals, then avg). The
    final encoding is a map-only pass over the corpus.

    Each argmin pass hands whole Arrow batches to the kernel, which
    returns the RAW squared distance to every candidate, accumulated
    one dim at a time so the sum associates left like the ``_sq_l2``
    fold: float32 element arithmetic (each squared term widened to
    double before the add) against the float32 seeds, all-double after.
    Rounding to ``d2_round`` and the argmin stay in the JVM — a
    ``least()`` over the rounded distances and a first-match CASE,
    i.e. the (d2r, index)-ascending tie-break. Residuals subtract the
    chosen centroid, held as exact double literals (``repr`` through
    CAST), inside a ``zip_with``. The SQL oracles replay the whole
    build bit-for-bit.

    Returns (cents1 rows [(cell, [double])], cb1 rows [(j, code,
    [double])], codes DataFrame (cid, cell, j, code) — a map-only plan).
    """
    sub = _pq_sub(dim, m)
    from ..session import repartition_for_compute

    # the kernel passes are cheap, but a small corpus still
    # scans as ONE split; widen before compute (no-op at 100 TB)
    c = repartition_for_compute(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec"))
    )

    def _lit(v: float, t: str) -> str:
        # repr() is the shortest round-trip decimal; string CAST parses
        # it back to the identical double (or to the identical float —
        # every collected value IS f32-representable on the float side)
        return f"CAST('{float(v)!r}' AS {t})"

    def _raw_d2(
        df: DataFrame, vecs_by_group: list, vcol: str, width: int, float_arith: bool
    ) -> DataFrame:
        """df + ``__draw`` = array<double> of RAW (unrounded) squared
        distances to every candidate, concatenated group-major.

        The kernel is a numpy ``mapInArrow`` pass (guide §4.2: hand
        whole batches to vectorized native code): per candidate it
        accumulates over the dims IN ORDER — ``acc += (x_i - c_i)^2``
        one dim at a time across the whole batch — so every row's sum
        associates left exactly like the former F.aggregate fold (whose
        leading 0.0 + t1 == t1 for non-negative squares), in float32
        element arithmetic on the seed pass (term cast to double before
        the add) and all-double afterwards. Rounding and the
        (d2r, index)-ascending argmin stay in the JVM (same round()
        expression as before), so the Python side never rounds.
        ``vecs_by_group``: list of groups, each a list of (offset,
        candidate_vec) — offset slices ``vcol`` for PQ subspaces.
        Every ``vcol`` value must hold exactly ``width`` elements: a
        NULL or ragged vector raises instead of shifting the flattened
        values of every later row in the batch."""
        import pyarrow as pa

        flat = [
            (off, [float(x) for x in cv])
            for group in vecs_by_group
            for off, cv in group
        ]
        in_schema = df.schema
        out_ddl = (
            ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
            + ", __draw array<double>"
        )
        n_cand = len(flat)

        def kernel(batches):
            import numpy as np

            for batch in batches:
                idx = batch.schema.get_field_index(vcol)
                col = batch.column(idx)
                n = len(col)
                vals = col.flatten().to_numpy(zero_copy_only=False)
                if col.null_count or len(vals) != n * width:
                    raise ValueError(
                        f"{vcol}: every vector must hold {width} values "
                        f"(got {col.null_count} NULL vectors and "
                        f"{len(vals)} values over {n} rows)"
                    )
                X = vals.reshape(n, width)
                X64 = X.astype(np.float64)
                out = np.empty((n, n_cand), dtype=np.float64)
                for ci, (off, cv) in enumerate(flat):
                    acc = np.zeros(n, dtype=np.float64)
                    if float_arith:
                        for i, cvi in enumerate(cv):
                            d = X[:, off + i] - np.float32(cvi)
                            acc += (d * d).astype(np.float64)
                    else:
                        for i, cvi in enumerate(cv):
                            d = X64[:, off + i] - cvi
                            acc += d * d
                    out[:, ci] = acc
                arr = pa.FixedSizeListArray.from_arrays(
                    pa.array(out.reshape(-1), type=pa.float64()), n_cand
                ).cast(pa.list_(pa.float64()))
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i) for i in range(batch.num_columns)] + [arr],
                    schema=pa.schema(
                        list(batch.schema) + [pa.field("__draw", pa.list_(pa.float64()))]
                    ),
                )

        return df.mapInArrow(kernel, out_ddl)

    def _assign_k(df: DataFrame, vecs: list, float_arith: bool) -> DataFrame:
        """df + ``__k`` = position of the (d2r asc, position asc)-min
        candidate: numpy raw distances, JVM round + least + first-match
        CASE (the positional tie-break)."""
        n = len(vecs)
        withd = _raw_d2(
            df, [[(0, v) for v in vecs]], "c_vec", dim, float_arith
        ).selectExpr(
            "*",
            *[f"round(__draw[{k}], {d2_round}) AS __d{k}" for k in range(n)],
        )
        mm = (
            "least(" + ", ".join(f"__d{k}" for k in range(n)) + ")"
            if n > 1
            else "__d0"
        )
        case = (
            "CASE "
            + " ".join(f"WHEN __d{k} = __m THEN {k}" for k in range(n))
            + " END"
        )
        return (
            withd.selectExpr("*", f"{mm} AS __m")
            .selectExpr("*", f"{case} AS __k")
            .drop("__m", "__draw", *[f"__d{k}" for k in range(n)])
        )

    seed_rows = c.orderBy("cid").limit(n_cells).select("c_vec").collect()
    seeds = [list(r[0]) for r in seed_rows]  # cid-ascending: cell == rank
    if not seeds:
        empty = c.selectExpr(
            "cid",
            "CAST(NULL AS INT) AS cell",
            "CAST(NULL AS INT) AS j",
            "CAST(NULL AS INT) AS code",
        ).limit(0)
        return [], [], empty

    # --- ACTION 1: one-step re-center over the seed argmin
    # (seed centroids are raw float32 corpus vectors — FLOAT terms)
    cents1_rows = (
        _assign_k(c, seeds, float_arith=True)
        .selectExpr("__k AS cell", "c_vec")
        .select("cell", F.posexplode("c_vec").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.col("pm.m").alias("centroid"))
        .collect()
    )
    cents1 = sorted((int(r[0]), list(r[1])) for r in cents1_rows)
    cent_ids = [i for i, _ in cents1]
    cent_vecs = [v for _, v in cents1]
    cells_lit = "array(" + ", ".join(str(i) for i in cent_ids) + ")"
    cents_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(_lit(x, "DOUBLE") for x in vec) + ")"
            for vec in cent_vecs
        )
        + ")"
    )

    def _resid(src: DataFrame) -> DataFrame:
        # (cid, cell, r_vec): refined-centroid argmin (all-double) +
        # element-wise residual against the literal centroid table
        return _assign_k(src, cent_vecs, float_arith=False).selectExpr(
            "cid",
            f"element_at({cells_lit}, __k + 1) AS cell",
            f"zip_with(c_vec, element_at({cents_lit}, __k + 1),"
            " (x, y) -> CAST(x AS DOUBLE) - y) AS r_vec",
        )

    def _pq_assign(df: DataFrame, cb_by_j: list, codes_by_j: list | None) -> DataFrame:
        """df(cid, cell, r_vec) + ``__c{j}`` = the (d2r, code)-argmin
        code per subspace: numpy raw distances over the r_vec slices,
        JVM round + least + first-match CASE (codes ascend within a
        subspace, so first match IS the lowest-code tie-break)."""
        groups = [
            [(j * sub, w) for w in cb_by_j[j]] for j in range(m)
        ]
        withd = _raw_d2(df, groups, "r_vec", dim, float_arith=False)
        offs = [0]
        for j in range(m):
            offs.append(offs[-1] + len(cb_by_j[j]))
        rounds = [
            f"round(__draw[{offs[j] + k}], {d2_round}) AS __d{j}_{k}"
            for j in range(m)
            for k in range(len(cb_by_j[j]))
        ]
        withd = withd.selectExpr("*", *rounds)
        msel = []
        for j in range(m):
            dn = [f"__d{j}_{k}" for k in range(len(cb_by_j[j]))]
            msel.append(
                ("least(" + ", ".join(dn) + ")" if len(dn) > 1 else dn[0])
                + f" AS __m{j}"
            )
        csel = []
        for j in range(m):
            case = (
                "CASE "
                + " ".join(
                    f"WHEN __d{j}_{k} = __m{j} THEN "
                    f"{codes_by_j[j][k] if codes_by_j is not None else k}"
                    for k in range(len(cb_by_j[j]))
                )
                + " END"
            )
            csel.append(f"{case} AS __c{j}")
        return withd.selectExpr("*", *msel).selectExpr(
            "cid", "cell", "r_vec", *csel
        )

    # --- ACTION 2a: PQ seed codebook = residual slices of the n_codes
    # lowest-id vectors, code == rank by id asc (slicing happens on the
    # driver over collected exact doubles — no arithmetic)
    cb0_rows = sorted(
        (r[0], list(r[1]))
        for r in _resid(c.orderBy("cid").limit(n_codes)).select("cid", "r_vec").collect()
    )
    cb0_by_j = [
        [vec[j * sub : (j + 1) * sub] for _, vec in cb0_rows] for j in range(m)
    ]

    # --- ACTION 2b: one Lloyd step per subspace over residuals
    stack0 = (
        "array("
        + ", ".join(
            f"struct({j} AS j, __c{j} AS code,"
            f" slice(r_vec, {j * sub + 1}, {sub}) AS sv)"
            for j in range(m)
        )
        + ")"
    )
    cb1_rows = (
        _pq_assign(_resid(c), cb0_by_j, None)
        .selectExpr(f"explode({stack0}) AS a")
        .select(
            F.col("a.j").alias("j"),
            F.col("a.code").alias("code"),
            F.posexplode("a.sv").alias("spos", "v"),
        )
        .groupBy("j", "code", "spos")
        .agg(F.avg("v").alias("mv"))
        .groupBy("j", "code")
        .agg(F.array_sort(F.collect_list(F.struct("spos", "mv"))).alias("pm"))
        .select("j", "code", F.col("pm.mv").alias("cw"))
        .collect()
    )
    cb1 = sorted((int(r[0]), int(r[1]), list(r[2])) for r in cb1_rows)

    cb1_by_j: list[list] = [[] for _ in range(m)]
    for j, code, cw in cb1:
        cb1_by_j[j].append((code, cw))

    # --- final encoding: map-only over the corpus (cid, cell, j, code)
    stack1 = (
        "array("
        + ", ".join(f"struct({j} AS j, __c{j} AS code)" for j in range(m))
        + ")"
    )
    codes = (
        _pq_assign(
            _resid(c),
            [[cw for _, cw in per_j] for per_j in cb1_by_j],
            [[cd for cd, _ in per_j] for per_j in cb1_by_j],
        )
        .selectExpr("cid", "cell", f"explode({stack1}) AS a")
        .selectExpr("cid", "cell", "a.j AS j", "a.code AS code")
    )
    return cents1, cb1, codes


def ivfpq_build(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    m: int = 4,
    n_codes: int = 8,
    d2_round: int = 6,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IVFPQ index construction — the BUILD half of the FAISS IVFADC
    layout, split from the probe so the index can be built once,
    persisted (``operators/ann_index.py``) and probed many times.

    Returns three relations:
    - centroids (cell int, centroid array<double>) — n_cells rows
    - codebooks (j int, code int, cw array<double>) — m × n_codes rows
    - codes (cid, cell, j, code) — m rows per corpus vector: the PQ
      codes of the vector's RESIDUAL (v − centroid(cell))

    Deterministic end-to-end (one-step-Lloyd seeds from the lowest-id
    vectors, distances rounded before every argmin, ties by cell/code
    asc) so a SQL oracle replays the build bit-for-bit — which also
    makes the persisted index reproducible: rebuilding from the same
    corpus yields byte-identical tables.

    Plan shape: the quantizer tables are bounded collects and the
    corpus argmin passes run in a numpy ``mapInArrow`` kernel — see
    ``_ivfpq_build_tables``. The returned centroid/codebook DataFrames
    are Arrow-native local relations holding exactly the collected
    values; ``codes`` is a map-only plan over the corpus.
    """
    from ..session import local_relation

    spark = corpus.sparkSession
    cents1, cb1, codes = _ivfpq_build_tables(
        corpus, dim, id_col, vec_col, n_cells, m, n_codes, d2_round
    )
    cents_df = local_relation(spark, cents1, "cell int, centroid array<double>")
    cb_df = local_relation(spark, cb1, "j int, code int, cw array<double>")
    return cents_df, cb_df, codes


def ivfpq_probe(
    cents_rows: list,
    cb_rows: list,
    codes: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    m: int = 4,
    d2_round: int = 6,
) -> DataFrame:
    """The PROBE half of IVFPQ: rank each query's candidates in its
    ``n_probe`` nearest cells by asymmetric distance — a per-(query,
    probed cell) lookup table over the residual codebooks, summed per
    candidate over its m codes. Takes the collected quantizer rows —
    ``cents_rows`` [(cell, centroid)] and ``cb_rows`` [(j, code, cw)],
    as ``_ivfpq_build_tables`` returns them and ``IvfPqIndex`` caches
    them — and the long-form ``codes`` relation (in-memory or read
    back from a persisted index). The serving-path cost is therefore
    |probed lists| × m codes, independent of corpus size, embedding
    width, and (crucially) of the index BUILD cost, which is paid
    once, not per query.

    The quantizer rows are parameter-bounded (n_cells / m×n_codes), so
    they ride as one-row broadcast arrays and the probe-cell selection
    and the ADC lookup table are IN-ROW expressions — a map over the
    (tiny) query relation. The only join is the codes-side ADC
    equi-join on (cell, j, code), which partition-prunes a persisted
    index's codes to the probed cells.
    """
    from ..session import local_relation

    sub = _pq_sub(dim, m)
    cb_by_j: list[list] = [[] for _ in range(m)]
    for j, code, cw in cb_rows:
        cb_by_j[j].append((code, cw))
    tables_b = local_relation(
        queries.sparkSession,
        [(
            [v for _, v in cents_rows],
            [i for i, _ in cents_rows],
            [[cd for cd, _ in per_j] for per_j in cb_by_j],
            [[cw for _, cw in per_j] for per_j in cb_by_j],
        )],
        "__c1v array<array<double>>, __c1i array<int>, "
        "__cbc array<array<int>>, __cbw array<array<array<double>>>",
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    # in-row probe-cell selection: sort (d2r asc, cell asc), keep n_probe
    best_cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("__c1v"),
                lambda cv, i: F.struct(
                    _d2r("q_vec", cv, d2_round).alias("d2r"),
                    F.element_at(F.col("__c1i"), i + 1).alias("cell"),
                    cv.alias("centroid"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = (
        q.crossJoin(F.broadcast(tables_b))
        .select("query_id", F.explode(best_cells).alias("b"), "__cbc", "__cbw",
                F.zip_with("q_vec", F.col("b.centroid"),
                           lambda x, ce: x - ce).alias("qr_vec"))
        .select("query_id", F.col("b.cell").alias("cell"), "qr_vec",
                "__cbc", "__cbw")
    )
    # per-(query, probed cell) ADC lookup table, in-row:
    # queries×n_probe×m×n_codes rows after the explode
    lut_entries = F.flatten(
        F.transform(
            F.col("__cbw"),
            lambda cws, j: F.zip_with(
                F.element_at(F.col("__cbc"), j + 1),
                cws,
                lambda code, cw: F.struct(
                    j.alias("j"),
                    code.alias("code"),
                    _d2r(
                        F.slice(F.col("qr_vec"), j * sub + 1, sub).cast(
                            "array<double>"
                        ),
                        cw,
                        d2_round,
                    ).alias("lut_d2"),
                ),
            ),
        )
    )
    lut = probes.select(
        "query_id", "cell", F.explode(lut_entries).alias("e")
    ).select(
        "query_id",
        "cell",
        F.col("e.j").alias("j"),
        F.col("e.code").alias("code"),
        F.col("e.lut_d2").alias("lut_d2"),
    )
    neighbors = codes.select(F.col("cid").alias("neighbor_id"), "cell", "j", "code")
    return _adc_topk(neighbors, lut, ["cell", "j", "code"], k, d2_round)


def ivfpq_topk_onestep(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    d2_round: int = 6,
) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC design): the coarse one-step-
    Lloyd quantizer shards the corpus into ``n_cells`` inverted lists,
    each vector stores only the PQ codes of its RESIDUAL (v − centroid),
    and a query ranks candidates in its ``n_probe`` nearest cells by
    asymmetric distance. This composition is the actual 100 TB ANN
    layout: the probe bounds *which* vectors are touched (inverted
    lists), PQ bounds *how much* of each is read (m bytes, not dim
    floats), so scan cost is |probed lists| × m bytes — independent of
    both corpus size and embedding width.

    Residual encoding is what makes the composition better than either
    part alone: residuals have far less variance than raw vectors, so
    the same codebook budget quantizes them much more finely.

    One-shot convenience composition of ``ivfpq_build`` + ``ivfpq_probe``
    — build cost is paid inside the call. For the serving shape (build
    once, persist, probe many times) use ``operators/ann_index.py``.
    Deterministic end-to-end, so a SQL oracle replays the whole
    index build + search bit-for-bit.
    """
    cents1, cb1, codes = _ivfpq_build_tables(
        corpus, dim, id_col, vec_col, n_cells, m, n_codes, d2_round
    )
    return ivfpq_probe(
        cents1, cb1, codes, queries, dim, id_col, vec_col, k, n_probe, m, d2_round
    )


def pairwise_cosine_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
    sim_round: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via distributed block matrix
    multiply — the scalable dense formulation.

    Rows hash into ``n_blocks`` buckets; each unordered block pair
    (i ≤ j) becomes one ``applyInPandas`` group that multiplies its two
    normalized sub-matrices with numpy (BLAS) and emits only pairs over
    the threshold. Every row is replicated ~n_blocks/2 times (the
    standard block-matmul cost), each group holds two blocks — size
    n_blocks so a block pair fits executor memory; compute is embar-
    rassingly parallel across the n_blocks·(n_blocks+1)/2 groups.
    ~40× faster than a dimension-exploded equi-join on dense vectors.
    """
    import numpy as np
    import pandas as pd

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # row in block b serves as LEFT for block pairs (b, j≥b) and as
    # RIGHT for (i≤b, b): each unordered pair of docs meets exactly once
    left = base.withColumn(
        "bb", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).select(F.col("blk").alias("ba"), "bb", F.lit(0).alias("side"), "id", "vec")
    right = base.withColumn(
        "ba", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("ba", F.col("blk").alias("bb"), F.lit(1).alias("side"), "id", "vec")
    both = left.unionByName(right)

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        lmask = pdf["side"] == 0
        L, R = pdf[lmask], pdf[~lmask]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if L.empty or R.empty:
            return empty
        A = np.array(L["vec"].tolist(), dtype=np.float64)
        B = np.array(R["vec"].tolist(), dtype=np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        S = A @ B.T
        if sim_round is not None:
            S = np.round(S, sim_round)
        ia, ib = np.nonzero(S >= threshold)
        ids_a = L["id"].to_numpy()[ia]
        ids_b = R["id"].to_numpy()[ib]
        if ba == bb:  # diagonal block: both orientations present once
            keep = ids_a < ids_b
            ids_a, ids_b, ia, ib = ids_a[keep], ids_b[keep], ia[keep], ib[keep]
        else:  # off-diagonal: unique pair, order ids
            lo = np.minimum(ids_a, ids_b)
            hi = np.maximum(ids_a, ids_b)
            ids_a, ids_b = lo, hi
        return pd.DataFrame(
            {"id_a": ids_a, "id_b": ids_b, "cos_sim": S[ia, ib]}
        )

    return both.groupBy("ba", "bb").applyInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: a KMeans coarse quantizer shards
    the corpus into ``n_cells`` inverted lists; each query probes its
    ``n_probe`` nearest cells and re-ranks candidates exactly.

    The third ANN family next to the broadcast scan (per-query linear)
    and LSH buckets (data-independent): IVF adapts cell boundaries to
    the data distribution, so recall/cost concentrates where vectors
    do. At 100 TB: quantizer fits on a sample, assignment is one model
    pass, the probe is an equi-join on cell id — candidates scale with
    list sizes, never corpus². ``n_probe == n_cells`` degrades to
    exact brute force (the correctness anchor the tests pin).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cv = corpus.withColumn("__v", array_to_vector(F.col(vec_col)))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="__v", predictionCol="__cell"
    ).fit(cv)
    inverted = model.transform(cv).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("__cell").alias("cell"),
    )

    from ..session import local_relation

    spark = corpus.sparkSession
    centroids = local_relation(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    # squared euclidean to each centroid (same metric as the assignment)
    wp = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d2", _sq_l2("q_vec", "centroid"))
        .withColumn("p_rnk", F.row_number().over(wp))
        .filter(F.col("p_rnk") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )

    scored = (
        inverted.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_similarity("q_vec", "c_vec"))
        .select("query_id", "neighbor_id", "sim")
    )
    return rank_topk(scored, k)


def score_queries(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_round: int | None = 6,
) -> DataFrame:
    """(query_id, neighbor_id, sim) for every query×corpus pair
    (self-pairs excluded) — the un-ranked scoring stage shared by the
    brute-force and incremental top-k paths. Queries broadcast; the
    corpus side is scanned once, map-only."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    sim = cosine_similarity("q_vec", "c_vec")
    if sim_round is not None:
        sim = F.round(sim, sim_round)
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", sim)
        .select("query_id", "neighbor_id", "sim")
    )


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Rank (query_id, neighbor_id, sim) rows to per-query top-k with
    the engine-stable ordering (sim desc, neighbor_id asc)."""
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rnk") <= k)


def incremental_topk(
    state: DataFrame,
    queries: DataFrame,
    delta: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_round: int | None = 6,
) -> DataFrame:
    """Maintain per-query top-k neighbors under corpus inserts WITHOUT
    rescanning the base corpus (the interactive-session incremental
    top-k pattern; cf. EDBT 2020 "Incremental Based Framework for
    Efficient Top-K Similarity Search in Interactive Data Analysis
    Sessions"): score queries against the DELTA batch only, union with
    the prior top-k state, re-rank, keep k. Exact by the selection
    property — top-k(base ∪ delta) = top-k(top-k(base) ∪ scores(delta))
    under one total order (rounded sim desc, id asc) — the same
    partial-state-merge discipline as the MV/quantile/HLL operators,
    applied to similarity search. State size: |queries| × k rows,
    independent of corpus growth."""
    delta_scores = score_queries(queries, delta, id_col, vec_col, sim_round)
    merged = state.select("query_id", "neighbor_id", "sim").unionByName(
        delta_scores
    )
    # collapse duplicate (query, neighbor) rows BEFORE ranking: a
    # re-sent vector (batch overlap, replay) would otherwise occupy
    # two ranks and permanently evict a real neighbor from the k;
    # max(sim) is deterministic and a no-op for identical resends
    merged = merged.groupBy("query_id", "neighbor_id").agg(
        F.max("sim").alias("sim")
    )
    return rank_topk(merged, k)


def ann_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_candidates: int = 50,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 8,
    d2_round: int = 6,
    sim_round: int = 6,
) -> DataFrame:
    """Two-stage retrieval (the production ANN serving shape): the
    compressed-domain IVFPQ index nominates ``n_candidates`` per query,
    then ONLY that sliver's raw vectors are fetched for an exact cosine
    re-rank to ``k``. This is how recall is bought back from a lossy
    index: the PQ stage decides WHAT to read cheaply (m bytes/vector in
    probed lists), the re-rank stage reads full vectors for
    queries × n_candidates rows — a constant-size retrieval regardless
    of corpus size, vs the brute-force scan's full-corpus read.

    Plan shape: stage 1 is ``ivfpq_topk_onestep``'s plan; stage 2 joins
    the candidate sliver to the corpus on id (shuffle carries only the
    sliver; at scale the raw-vector side prunes to the candidate ids)
    plus a broadcast of the query vectors. Deterministic end-to-end
    (rounded distances/sims, id-asc ties), so a SQL oracle replays
    both stages.
    """
    cands = ivfpq_topk_onestep(
        corpus,
        queries,
        dim,
        id_col=id_col,
        vec_col=vec_col,
        k=n_candidates,
        n_cells=n_cells,
        n_probe=n_probe,
        m=m,
        n_codes=n_codes,
        d2_round=d2_round,
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    return exact_rerank(cands, c, queries, id_col, vec_col, k, sim_round)


def exact_rerank(
    cands: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    sim_round: int,
) -> DataFrame:
    """The re-rank stage of two-stage retrieval: fetch the raw
    ``vectors`` (neighbor_id, c_vec) of the (query_id, neighbor_id)
    candidate sliver only, score exact rounded cosine against the
    broadcast queries, ``rank_topk`` to ``k``."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cands.join(vectors, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "sim", F.round(cosine_similarity("q_vec", "c_vec"), sim_round)
        )
        .select("query_id", "neighbor_id", "sim")
    )
    return rank_topk(scored, k)


def mmr_diversify(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_candidates: int = 50,
    lam: float = 0.7,
    sim_round: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998) of a cosine candidate page:

        pick_1  = argmax rel(c)
        pick_r  = argmax lam*rel(c) - (1-lam)*max_{s in picked} sim(c, s)

    ``query`` is a single-row (vec,) relation. The candidate page is
    the top-``n_candidates`` by relevance via TakeOrderedAndProject
    (never a global window), pairwise candidate sims are a broadcast
    self-join of the BOUNDED page (n_candidates^2 rows — serving-page
    metadata, independent of corpus size), and the greedy loop is
    ``k - 1`` unrolled rounds over those bounded relations: anti-join
    the picked set, join the pairwise max, TakeOrdered 1. Fully
    distributed — no driver-side collect; the oracle replays the same
    recurrence as unrolled MATERIALIZED CTEs.

    Determinism: rel and pairwise sims round to ``sim_round`` BEFORE
    any argmax (HOF-fold cosine matches DuckDB's ascending-position
    sum bit-for-bit), ties break on id ascending; the MMR score is
    exact IEEE arithmetic on the rounded inputs. pick_1's mmr_score
    is pinned to rel (no diversity term exists yet).

    Returns (id_col, mmr_rank, relevance, mmr_score).
    """
    q = query.select(F.col(vec_col).alias("__q_vec"))
    rel = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            F.round(cosine_similarity("__q_vec", vec_col), sim_round).alias("rel"),
        )
    )
    cand = (
        rel.orderBy(F.desc("rel"), F.asc("__id"))
        .limit(n_candidates)
        .localCheckpoint(eager=True)
    )
    a = cand.select(F.col("__id").alias("ia"), F.col("__vec").alias("va"))
    b = cand.select(F.col("__id").alias("ib"), F.col("__vec").alias("vb"))
    pw = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(cosine_similarity("va", "vb"), sim_round).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    page = cand.select("__id", "rel")
    sel = (
        page.orderBy(F.desc("rel"), F.asc("__id"))
        .limit(1)
        .select(
            "__id",
            "rel",
            F.col("rel").alias("mmr_score"),
            F.lit(1).alias("mmr_rank"),
        )
    )
    for r in range(2, k + 1):
        picked = sel.select(F.col("__id").alias("ib"))
        rem = page.join(
            picked.select(F.col("ib").alias("__id")), "__id", "left_anti"
        )
        mx = (
            pw.join(F.broadcast(picked), "ib")
            .groupBy("ia")
            .agg(F.max("s").alias("max_s"))
        )
        pick = (
            rem.join(mx, rem["__id"] == mx["ia"])
            .select(
                "__id",
                "rel",
                (F.lit(lam) * F.col("rel")
                 - F.lit(1.0 - lam) * F.col("max_s")).alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), F.asc("__id"))
            .limit(1)
            .withColumn("mmr_rank", F.lit(r))
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        F.col("__id").alias(id_col),
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        "rel",
        F.round("mmr_score", sim_round).alias("mmr_score"),
    )
