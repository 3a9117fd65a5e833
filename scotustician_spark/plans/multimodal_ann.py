"""Multimodal plumbing + approximate-nearest-neighbor queries.

The multimodal queries manufacture binary content from ``documents``
(``encode(text)``) so the REAL distributed plumbing — Arrow-batched
mapInPandas decode, 1→N frame fan-out — runs under the driver's
oracle gate: the deterministic fake extractor is md5/length-based,
which DuckDB reproduces in SQL.

``lsh_ann_topk`` registers the similarity-search scale path
(seeded-hyperplane bucketing) with a full SQL twin, including the
bucket computation.

The ANN family splits one-shot vs served: ``ann_build`` pays the
index build inside the call (the batch-job shape, and the honest
build benchmark), while ``ivfpq_ann_topk`` (the 50-query serving
headline) / ``ann_probe_only`` / ``ann_rerank_topk`` /
``ann_append_probe`` serve from a PERSISTED index cached under
spark-warehouse by dataset fingerprint (build once, probe many — the
FAISS/pgvector serving reality; see operators/ann_index.py).
"""

from __future__ import annotations

import hashlib
import math
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import ann_index as ANN
from ..operators import multimodal as MM
from ..operators import similarity as SIM
from ..sources.snapshot import MANIFEST
from .registry import register
from .tables import load_table

_N_DIMS = 8
_ASCII = "^[ -~]*$"  # printable-ASCII docs: byte offsets == char offsets


def _docs_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents", normalize_ntz=False)
        .select("doc_id", F.encode("text", "utf-8").alias("content"), "text")
    )


_FEAT_COLS = ", ".join(
    f"CAST(ascii(substring(md5(text), {j + 1}, 1)) AS DOUBLE) AS f{j}"
    for j in range(_N_DIMS)
)


@register(
    "multimodal_features",
    f"""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           {_FEAT_COLS}
    FROM documents
    """,
    doc="Multimodal feature extraction: opaque binary column → feature "
    "vector; decode stubbed with a deterministic md5-derived feature "
    "vector, computed as Catalyst expressions, so the full distributed "
    "path is oracle-verifiable.",
    bench=True,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = MM.extract_media_features(
        _docs_binary(spark, sf_dir), "content", "doc_id", n_dims=_N_DIMS
    )
    return feats.select(
        "id",
        "n_bytes",
        "content_md5",
        *[F.col("features")[j].alias(f"f{j}") for j in range(_N_DIMS)],
    )


@register(
    "multimodal_frames",
    """
    WITH ascii_docs AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE regexp_matches(text, '^[ -~]*$')),
    frames AS (
        SELECT doc_id AS id, CAST(f.range AS INTEGER) AS frame_idx,
               CAST(f.range * (n // 4) AS BIGINT) AS byte_start,
               CAST(n // 4 AS BIGINT) AS byte_len,
               md5(substring(text, CAST(f.range * (n // 4) + 1 AS INTEGER),
                             CAST(n // 4 AS INTEGER))) AS frame_md5
        FROM ascii_docs, range(4) f
        WHERE n // 4 > 0)
    SELECT * FROM frames
    """,
    doc="Video-style frame sampling plumbing: 1 binary row → N frame "
    "rows via mapInPandas (UDTF fan-out shape) with byte-range metadata "
    "and per-frame digests; ASCII-restricted so the SQL twin can slice "
    "by chars.",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_binary(spark, sf_dir).filter(F.col("text").rlike(_ASCII))
    return MM.sample_frames(docs, "content", "doc_id", n_frames=4)


def _lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42, k: int = 5) -> str:
    # same seeded sinusoid hyperplanes as similarity.lsh_bucket_relation
    return f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    planes AS (
        SELECT p.range AS p, d.range AS pos,
               sin({seed} + p.range * {dim} + d.range) AS h
        FROM range({n_planes}) p, range({dim}) d),
    proj AS (
        SELECT vec_id, p, sum(v * h) AS s
        FROM ex JOIN planes USING (pos) GROUP BY vec_id, p),
    buckets AS (
        SELECT vec_id, CAST(sum(CASE WHEN s >= 0 THEN 2**p ELSE 0 END) AS INTEGER) AS bucket
        FROM proj GROUP BY vec_id),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
    dots AS (
        SELECT p.query_id, p.neighbor_id, sum(a.v * b.v) AS dot
        FROM pairs p
        JOIN ex a ON a.vec_id = p.query_id
        JOIN ex b ON b.vec_id = p.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
    scored AS (
        SELECT query_id, neighbor_id,
               round(d.dot / (nq.nrm * nc.nrm), 6) AS sim
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@register(
    "lsh_ann_topk",
    _lsh_oracle(),
    doc="ANN scale path (W2 at 100 TB): seeded-hyperplane LSH buckets + "
    "equi-join on bucket — corpus partitions by bucket once instead of "
    "a per-query linear scan; brute-force cosine_topk is the exact "
    "baseline it approximates. The corpus bucket relation is PERSISTED "
    "per dataset stamp (tables.py::persisted_relation) — calls pay the "
    "query-side bucketing + bucket join only, the serving discipline "
    "shared with the IVFPQ/dedup indexes.",
    bench=True,
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import persisted_relation

    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    cb = persisted_relation(
        spark,
        "lsh_buckets",
        [f"{sf_dir}/embeddings.parquet"],
        "dim64_p8_s42",
        lambda: SIM.lsh_bucket_relation(e, dim=64, id_col="vec_id", vec_col="embedding"),
    )
    out = SIM.lsh_bucket_topk(
        e,
        e.filter(F.col("vec_id") < 10),
        dim=64,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        sim_round=6,
        corpus_buckets=cb,
    )
    return out.select("query_id", "neighbor_id", "sim", "rnk")


def _ivf_oracle(n_cells: int = 8, n_probe: int = 2, k: int = 5) -> str:
    return f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec_id
        FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_cells})),
    seedvecs AS (
        SELECT s.cell, e.pos, e.v FROM seeds s JOIN ex e ON e.vec_id = s.vec_id),
    d0 AS (
        SELECT e.vec_id, sv.cell,
               round(sum((e.v - sv.v) * (e.v - sv.v)), 6) AS d2r
        FROM ex e JOIN seedvecs sv ON sv.pos = e.pos
        GROUP BY e.vec_id, sv.cell),
    a0 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS r
            FROM d0) WHERE r = 1),
    cents AS (
        SELECT a0.cell, e.pos, avg(e.v) AS m
        FROM ex e JOIN a0 USING (vec_id) GROUP BY a0.cell, e.pos),
    d1 AS (
        SELECT e.vec_id, c.cell,
               round(sum((e.v - c.m) * (e.v - c.m)), 6) AS d2r
        FROM ex e JOIN cents c ON c.pos = e.pos
        GROUP BY e.vec_id, c.cell),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS r
            FROM d1) WHERE r = 1),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS r
            FROM d1 WHERE vec_id < 10) WHERE r <= {n_probe}),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cand AS (
        SELECT p.query_id, a1.vec_id AS neighbor_id
        FROM probes p JOIN a1 ON a1.cell = p.cell AND a1.vec_id <> p.query_id),
    dots AS (
        SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS dot
        FROM cand c
        JOIN ex a ON a.vec_id = c.query_id
        JOIN ex b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (nq.nrm * nc.nrm), 6) AS sim
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@register(
    "ivf_ann_topk",
    _ivf_oracle(),
    doc="Third ANN family (brute force / LSH / IVF), oracle-gated via a "
    "deterministic one-step-Lloyd quantizer: seed cells from the "
    "lowest-id vectors, one assign+re-center refinement, probe the 2 "
    "nearest cells, re-rank exactly. Distances/sims round before "
    "ranking so the argmin is engine-stable. ivf_kmeans_topk is the "
    "3-step-Lloyd sibling (also oracle-gated); ivfflat_probe_only "
    "serves the same probe (similarity.ivfflat_probe) from a "
    "persisted index.",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    out = SIM.ivf_topk_onestep(
        e,
        e.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_cells=8,
        n_probe=2,
    )
    return out.select("query_id", "neighbor_id", "sim", "rnk")


def _pq_oracle(
    dim: int = 64, m: int = 4, n_codes: int = 8, k: int = 5, r: int = 6
) -> str:
    sub = dim // m
    return f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    sub AS (
        SELECT vec_id, pos // {sub} AS j, pos % {sub} AS spos, v FROM ex),
    seed_ids AS (
        SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_codes})),
    seeds AS (
        SELECT s.j, si.code, s.spos, s.v
        FROM sub s JOIN seed_ids si ON s.vec_id = si.vec_id),
    d0 AS (
        SELECT s.vec_id, s.j, sd.code,
               round(sum((s.v - sd.v) * (s.v - sd.v)), {r}) AS d2r
        FROM sub s JOIN seeds sd ON sd.j = s.j AND sd.spos = s.spos
        GROUP BY s.vec_id, s.j, sd.code),
    a0 AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2r, code) AS rr
            FROM d0) WHERE rr = 1),
    cb AS (
        SELECT a0.j, a0.code, s.spos, avg(s.v) AS mv
        FROM sub s JOIN a0 ON a0.vec_id = s.vec_id AND a0.j = s.j
        GROUP BY a0.j, a0.code, s.spos),
    d1 AS (
        SELECT s.vec_id, s.j, c.code,
               round(sum((s.v - c.mv) * (s.v - c.mv)), {r}) AS d2r
        FROM sub s JOIN cb c ON c.j = s.j AND c.spos = s.spos
        GROUP BY s.vec_id, s.j, c.code),
    codes AS (
        SELECT vec_id AS neighbor_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2r, code) AS rr
            FROM d1) WHERE rr = 1),
    lut AS (
        SELECT vec_id AS query_id, j, code, d2r AS lut_d2
        FROM d1 WHERE vec_id < 10),
    approx AS (
        SELECT l.query_id, c.neighbor_id,
               round(sum(l.lut_d2), {r}) AS approx_d2
        FROM codes c JOIN lut l ON l.j = c.j AND l.code = c.code
        WHERE l.query_id <> c.neighbor_id
        GROUP BY l.query_id, c.neighbor_id)
    SELECT query_id, neighbor_id, approx_d2, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rnk
          FROM approx)
    WHERE rnk <= {k}
    """


@register(
    "pq_ann_topk",
    _pq_oracle(),
    doc="Fourth ANN family — product quantization: vectors compress to "
    "m=4 one-byte codes (one-step-Lloyd codebooks per 16-dim subspace, "
    "same deterministic quantizer as ivf_ann_topk), queries rank by "
    "asymmetric distance summed from a broadcast lookup table. The "
    "compressed-domain scan is the 100 TB path: m bytes per vector "
    "instead of dim floats, distances are table lookups.",
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    return SIM.pq_topk_onestep(
        e,
        e.filter(F.col("vec_id") < 10),
        dim=64,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        m=4,
        n_codes=8,
    ).select("query_id", "neighbor_id", "approx_d2", "rnk")


def _ivfpq_oracle(
    dim: int = 64,
    m: int = 4,
    n_cells: int = 8,
    n_probe: int = 2,
    n_codes: int = 8,
    k: int = 5,
    r: int = 6,
    base_pred: str = "TRUE",
    exclude_pred: str = "FALSE",
    final_select: str | None = None,
    query_pred: str = "vec_id < 10",
) -> str:
    # ``final_select``: replaces the default top-k SELECT (may open
    # with further CTE definitions, continuing the WITH list) — used
    # by diagnostics that read the build tables (pq_code_balance)
    # instead of the search output.
    # ``base_pred``: the TRAINING population (seeds, centroid means,
    # codebook means are computed over base rows only). With the
    # default TRUE this is the plain one-shot build; with a narrower
    # predicate it replays build-on-base + frozen-quantizer encoding
    # of the rest — exactly ann_index.append_to_ivfpq_index, because
    # cell assignment (d1) and code assignment (pd1) are per-vector
    # argmins over the frozen tables, the same formula for base and
    # appended vectors.
    # ``exclude_pred``: rows dropped from the CANDIDATE pool only (the
    # codes CTE) — training unchanged — which is exactly the frozen-
    # quantizer delete contract of ann_index.delete_from_ivfpq_index.
    sub = dim // m
    return f"""
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, vec_id
        FROM (SELECT DISTINCT vec_id FROM embeddings
              WHERE {base_pred} ORDER BY vec_id LIMIT {n_cells})),
    seedvecs AS (
        SELECT s.cell, e.pos, e.v FROM seeds s JOIN ex e ON e.vec_id = s.vec_id),
    d0 AS (
        SELECT e.vec_id, sv.cell,
               round(sum((e.v - sv.v) * (e.v - sv.v)), {r}) AS d2r
        FROM ex e JOIN seedvecs sv ON sv.pos = e.pos
        WHERE e.vec_id IN (SELECT vec_id FROM embeddings WHERE {base_pred})
        GROUP BY e.vec_id, sv.cell),
    a0 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rr
            FROM d0) WHERE rr = 1),
    cents AS (
        SELECT a0.cell, e.pos, avg(e.v) AS cm
        FROM ex e JOIN a0 USING (vec_id) GROUP BY a0.cell, e.pos),
    d1 AS (
        SELECT e.vec_id, c.cell,
               round(sum((e.v - c.cm) * (e.v - c.cm)), {r}) AS d2r
        FROM ex e JOIN cents c ON c.pos = e.pos
        GROUP BY e.vec_id, c.cell),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rr
            FROM d1) WHERE rr = 1),
    -- corpus residuals w.r.t. the assigned cell's refined centroid
    rsub AS (
        SELECT e.vec_id, a1.cell, e.pos // {sub} AS j, e.pos % {sub} AS spos,
               e.v - c.cm AS rv
        FROM ex e JOIN a1 USING (vec_id)
        JOIN cents c ON c.cell = a1.cell AND c.pos = e.pos),
    seed_ids AS (
        SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT DISTINCT vec_id FROM embeddings
              WHERE {base_pred} ORDER BY vec_id LIMIT {n_codes})),
    pqseeds AS (
        SELECT s.j, si.code, s.spos, s.rv
        FROM rsub s JOIN seed_ids si ON s.vec_id = si.vec_id),
    pd0 AS (
        SELECT s.vec_id, s.j, sd.code,
               round(sum((s.rv - sd.rv) * (s.rv - sd.rv)), {r}) AS d2r
        FROM rsub s JOIN pqseeds sd ON sd.j = s.j AND sd.spos = s.spos
        WHERE s.vec_id IN (SELECT vec_id FROM embeddings WHERE {base_pred})
        GROUP BY s.vec_id, s.j, sd.code),
    pa0 AS (
        SELECT vec_id, j, code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2r, code) AS rr
            FROM pd0) WHERE rr = 1),
    cb AS (
        SELECT pa0.j, pa0.code, s.spos, avg(s.rv) AS mv
        FROM rsub s JOIN pa0 ON pa0.vec_id = s.vec_id AND pa0.j = s.j
        GROUP BY pa0.j, pa0.code, s.spos),
    pd1 AS (
        SELECT s.vec_id, s.j, c.code,
               round(sum((s.rv - c.mv) * (s.rv - c.mv)), {r}) AS d2r
        FROM rsub s JOIN cb c ON c.j = s.j AND c.spos = s.spos
        GROUP BY s.vec_id, s.j, c.code),
    codes AS (
        SELECT p.vec_id AS neighbor_id, a1.cell, p.j, p.code FROM (
            SELECT vec_id, j, code,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2r, code) AS rr
            FROM pd1) p JOIN a1 ON a1.vec_id = p.vec_id
        WHERE p.rr = 1
          AND NOT ({exclude_pred.replace('vec_id', 'p.vec_id')})),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rr
            FROM d1 WHERE {query_pred}) WHERE rr <= {n_probe}),
    qrsub AS (
        SELECT p.query_id, p.cell, e.pos // {sub} AS j, e.pos % {sub} AS spos,
               e.v - c.cm AS rv
        FROM probes p
        JOIN ex e ON e.vec_id = p.query_id
        JOIN cents c ON c.cell = p.cell AND c.pos = e.pos),
    lut AS (
        SELECT q.query_id, q.cell, q.j, c.code,
               round(sum((q.rv - c.mv) * (q.rv - c.mv)), {r}) AS lut_d2
        FROM qrsub q JOIN cb c ON c.j = q.j AND c.spos = q.spos
        GROUP BY q.query_id, q.cell, q.j, c.code),
    approx AS (
        SELECT l.query_id, c.neighbor_id,
               round(sum(l.lut_d2), {r}) AS approx_d2
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.j = c.j AND l.code = c.code
        WHERE l.query_id <> c.neighbor_id
        GROUP BY l.query_id, c.neighbor_id)
    {final_select or f'''SELECT query_id, neighbor_id, approx_d2, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, neighbor_id) AS rnk
          FROM approx)
    WHERE rnk <= {k}'''}
    """


@register(
    "ann_build",
    _ivfpq_oracle(),
    bench=True,
    doc="IVF + PQ one-shot BUILD+search benchmark (the FAISS IVFADC "
    "layout, operators/similarity.py::ivfpq_topk_onestep): the "
    "one-step-Lloyd coarse quantizer bounds WHICH vectors a query "
    "touches (n_probe inverted lists), residual product-quantization "
    "bounds HOW MUCH of each is read (m one-byte codes, "
    "asymmetric-distance lookup tables) — scan cost is |probed lists| "
    "× m bytes, independent of both corpus size and embedding width. "
    "Residual encoding is the composition dividend: residuals have far "
    "less variance than raw vectors, so the same codebook budget "
    "quantizes finer. This row pays the FULL index construction inside "
    "the call — the build-cost benchmark; the serving headline "
    "(ivfpq_ann_topk) probes the persisted index instead. The oracle "
    "replays the full index build (cells, residuals, codebooks) and "
    "the ADC search in one SQL chain.",
)
def ann_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    return SIM.ivfpq_topk_onestep(
        e,
        e.filter(F.col("vec_id") < 10),
        dim=64,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_cells=8,
        n_probe=2,
        m=4,
        n_codes=8,
    ).select("query_id", "neighbor_id", "approx_d2", "rnk")


@register(
    "ivfpq_ann_topk",
    _ivfpq_oracle(query_pred="vec_id < 50"),
    bench=True,
    doc="Headline ANN top-k, SERVED: 50 queries probe the PERSISTED "
    "IVFPQ index (operators/ann_index.py — broadcast centroid/codebook "
    "LUTs, packed codes partitioned BY CELL so the scan "
    "partition-prunes to the probed inverted lists; probe cost is "
    "|probed lists| × m bytes regardless of corpus size). The index "
    "builds once per dataset fingerprint (ann_build benchmarks that "
    "cost); repeat calls — the serving reality — touch only the "
    "persisted tables. Oracle: the full deterministic build replayed "
    "in SQL with the 50-query slice; the persisted build parquet "
    "round-trips exactly, proven by ann_probe_only sharing this "
    "oracle family.",
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfpq_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 50
    )
    return ANN.probe_ivfpq_index(idx, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "approx_d2", "rnk"
    )


# ---- served (persisted) IVFPQ index -------------------------------
# Build-once/probe-many: the index tables live under the repo's
# spark-warehouse keyed by a fingerprint of the embeddings files
# (path + size + mtime) and the build parameters, so a regenerated
# testdata set or a parameter change triggers a rebuild while repeat
# probes — the serving reality — read the persisted tables only.
# Each index is a sources/snapshot group: its _MANIFEST is written
# LAST, so it marks a complete index; a partial write is rebuilt.
# (Fingerprinting stats the local filesystem — swap for a
# catalog/manifest check on an object store.)

# shares the overridable cache root with tables.py so test runs keep
# their one-shot tmp-dataset index builds out of the repo warehouse
from .tables import _CACHE_ROOT

_INDEX_ROOT = os.path.join(_CACHE_ROOT, "ann_index")
_IVFPQ_DIM = 64
_IVFPQ_PARAMS = {"n_cells": 8, "m": 4, "n_codes": 8, "d2_round": 6}
# on-disk layout tag: part of every fingerprint, so index dirs of an
# older layout re-key and prune as stale siblings
_INDEX_FORMAT = "manifest"


def _embeddings_fingerprint(sf_dir: str, extra: str = "") -> str:
    p = f"{sf_dir}/embeddings.parquet"
    st = []
    if os.path.isdir(p):
        for root, _, files in sorted(os.walk(p)):
            for fn in sorted(files):
                fp = os.path.join(root, fn)
                s = os.stat(fp)
                st.append((fp, s.st_size, int(s.st_mtime)))
    else:
        s = os.stat(p)
        st.append((p, s.st_size, int(s.st_mtime)))
    st.append(
        tuple(sorted(_IVFPQ_PARAMS.items())) + (_IVFPQ_DIM, extra, _INDEX_FORMAT)
    )
    return hashlib.md5(repr(st).encode()).hexdigest()[:16]


# session -> {(kind, path): opened index}. A server opens its index
# once and probes many times: an open reads the manifest and lists the
# tables' files, and the handle keeps the quantizer rows its first
# probe collected (IvfPqIndex.quantizer_rows). The path embeds the
# dataset fingerprint AND the build params, so a regenerated dataset
# or a parameter change re-keys and the stale entry is simply never
# looked up again; weak keys drop a stopped session's entries (the
# tables._CACHE discipline).
_OPEN_INDEX_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _served_ivfpq_index(
    spark: SparkSession, sf_dir: str, base_pred: str | None = None
) -> ANN.IvfPqIndex:
    """Open (building if absent) the persisted index for ``sf_dir``.
    ``base_pred`` restricts the indexed population (the append query
    trains on a base slice and appends the rest); it participates in
    the cache key. Opened indexes memoize per (session, path) —
    build once, OPEN once, probe many."""
    from .tables import _prune_stale

    fp = _embeddings_fingerprint(sf_dir, base_pred or "")
    # identity tag (dataset path + variant — stable across data
    # regenerations) in the dir name, so stale-stamp pruning only ever
    # drops old builds of the SAME dataset/variant: the sf0.01 gate,
    # the sf0.1 bench, and the append-base variant each keep one live
    # build
    tag = hashlib.md5(f"{sf_dir}|{base_pred or ''}".encode()).hexdigest()[:8]
    path = os.path.join(_INDEX_ROOT, f"ivfpq_{tag}_{fp}")
    per_session = _OPEN_INDEX_CACHE.setdefault(spark, {})
    cached = per_session.get(("ivfpq", path))
    if cached is not None:
        return cached
    if not os.path.exists(os.path.join(path, MANIFEST)):
        e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
        if base_pred:
            e = e.filter(F.expr(base_pred))
        idx = ANN.build_ivfpq_index(e, dim=_IVFPQ_DIM, **_IVFPQ_PARAMS)
        ANN.write_ivfpq_index(idx, path)
        _prune_stale(_INDEX_ROOT, f"ivfpq_{tag}_", keep=f"ivfpq_{tag}_{fp}")
    opened = ANN.read_ivfpq_index(spark, path)
    per_session[("ivfpq", path)] = opened
    return opened


@register(
    "ann_probe_only",
    _ivfpq_oracle(),
    bench=True,
    doc="Serving-path ANN: the IVFPQ probe against a PERSISTED index "
    "(operators/ann_index.py — centroids/codebooks broadcast from tiny "
    "parquet tables, packed codes partitioned BY CELL so the probe "
    "scan partition-prunes to the probed inverted lists). The index "
    "builds once per dataset fingerprint and is reused across calls — "
    "the FAISS/pgvector serving reality, vs ivfpq_ann_topk which pays "
    "the build inside every call. Same oracle as ivfpq_ann_topk: the "
    "persisted build is deterministic and parquet round-trips exactly.",
)
def ann_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfpq_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    return ANN.probe_ivfpq_index(idx, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "approx_d2", "rnk"
    )


def _served_ivfflat_index(spark: SparkSession, sf_dir: str) -> ANN.IvfFlatIndex:
    from .tables import _prune_stale

    fp = _embeddings_fingerprint(sf_dir, "flat")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_INDEX_ROOT, f"ivfflat_{tag}_{fp}")
    per_session = _OPEN_INDEX_CACHE.setdefault(spark, {})
    cached = per_session.get(("ivfflat", path))
    if cached is not None:
        return cached
    if not os.path.exists(os.path.join(path, MANIFEST)):
        e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
        ANN.write_ivfflat_index(
            ANN.build_ivfflat_index(e, n_cells=8, d2_round=6), path
        )
        _prune_stale(_INDEX_ROOT, f"ivfflat_{tag}_", keep=f"ivfflat_{tag}_{fp}")
    opened = ANN.read_ivfflat_index(spark, path)
    per_session[("ivfflat", path)] = opened
    return opened


@register(
    "ivfflat_probe_only",
    _ivf_oracle(),
    bench=True,
    doc="Served IVF-FLAT probe (pgvector's ivfflat layout, "
    "operators/ann_index.py::IvfFlatIndex — the reference's warehouse "
    "would use exactly this index for its case-embedding search): raw "
    "vectors in cell-partitioned inverted lists, probed cells "
    "re-ranked EXACTLY — no compression, no separate re-rank stage. "
    "Same persisted-index serving discipline as ann_probe_only; same "
    "oracle as ivf_ann_topk (identical deterministic quantizer, "
    "identical exact in-cell cosine).",
)
def ivfflat_probe_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfflat_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    return ANN.probe_ivfflat_index(idx, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "sim", "rnk"
    )


_APPEND_BASE = "vec_id % 10 < 9"


@register(
    "ann_append_probe",
    _ivfpq_oracle(base_pred=_APPEND_BASE),
    bench=True,
    doc="Incremental index maintenance (the FAISS add() contract, "
    "operators/ann_index.py::append_to_ivfpq_index): the persisted "
    "IVFPQ index trains on a 90% base slice, the 10% delta is "
    "assigned to its nearest FROZEN cell and encoded with the FROZEN "
    "residual codebooks — two broadcast joins over the delta only, "
    "the base corpus never rescanned — then the probe runs over the "
    "merged inverted lists. Oracle: the IVFPQ oracle with training "
    "CTEs restricted to the base predicate; per-vector cell/code "
    "assignment is the same frozen-argmin formula for base and "
    "appended vectors, so append == build-with-frozen-training "
    "exactly.",
)
def ann_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    idx = _served_ivfpq_index(spark, sf_dir, base_pred=_APPEND_BASE)
    delta = e.filter(~F.expr(_APPEND_BASE))
    appended = ANN.append_to_ivfpq_index(idx, delta)
    q = e.filter(F.col("vec_id") < 10)
    return ANN.probe_ivfpq_index(appended, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "approx_d2", "rnk"
    )


_DELETE_PRED = "vec_id % 10 = 7"


@register(
    "ann_delete_probe",
    _ivfpq_oracle(exclude_pred=_DELETE_PRED),
    bench=True,
    doc="Index deletion (the FAISS remove_ids() / pgvector DELETE "
    "contract, operators/ann_index.py::delete_from_ivfpq_index): ~10% "
    "of the corpus is tombstoned against the PERSISTED full-corpus "
    "index — quantizer frozen, doomed ids dropped from the candidate "
    "pool by a broadcast anti-join BEFORE the per-query top-k, so "
    "ranks re-pack densely and no deleted vector is ever served. "
    "Between compactions this anti-join IS the serving path "
    "(read_ivfpq_index_live); compact_ivfpq_index later folds the "
    "tombstones in, rewriting only the affected cell partitions. "
    "Oracle: the IVFPQ oracle with the exclusion applied to its codes "
    "CTE only — training untouched, the same frozen-delete semantics.",
)
def ann_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    idx = _served_ivfpq_index(spark, sf_dir)  # shared full-corpus build
    doomed = e.filter(F.expr(_DELETE_PRED)).select("vec_id")
    live = ANN.delete_from_ivfpq_index(idx, doomed)
    q = e.filter(F.col("vec_id") < 10)
    return ANN.probe_ivfpq_index(live, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "approx_d2", "rnk"
    )


def _served_compacted_index(spark: SparkSession, sf_dir: str) -> ANN.IvfPqIndex:
    """A dedicated persisted copy of the full-corpus index whose
    ~10% doomed slice has been tombstoned on disk and FOLDED IN by
    ``compact_ivfpq_index`` — the post-maintenance serving state, as
    opposed to ``ann_delete_probe``'s between-compactions anti-join
    state. Dedicated copy because compaction mutates the layout in
    place; the build is deterministic, so the copy equals the shared
    index byte-for-semantics. One-time per dataset fingerprint:
    tombstone → build → compact (tombstones commit first so the
    index's _MANIFEST implies they are persisted); after that,
    opens memoize per (session, path) like every served index."""
    from .tables import _prune_stale

    fp = _embeddings_fingerprint(sf_dir, "compact")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_INDEX_ROOT, f"ivfpqc_{tag}_{fp}")
    per_session = _OPEN_INDEX_CACHE.setdefault(spark, {})
    cached = per_session.get(("ivfpq", path))
    if cached is not None:
        return cached
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    if not os.path.exists(os.path.join(path, MANIFEST)):
        # tombstones BEFORE the index build commit: _MANIFEST is
        # write_ivfpq_index's last artifact, so committing tombstones
        # first makes it imply the tombstone set is on disk — a crash
        # between the two re-enters this branch (no _MANIFEST) and
        # the append-mode tombstone write is idempotent-in-effect
        # (read_tombstones collapses duplicates). The old order left a
        # completed-looking index with no tombstones: every later open
        # skipped the build, read an empty tombstone set, never
        # compacted, and served the doomed slice permanently.
        ANN.write_tombstones(
            e.filter(F.expr(_DELETE_PRED)).select("vec_id"), path
        )
        idx = ANN.build_ivfpq_index(e, dim=_IVFPQ_DIM, **_IVFPQ_PARAMS)
        ANN.write_ivfpq_index(idx, path)
        _prune_stale(_INDEX_ROOT, f"ivfpqc_{tag}_", keep=f"ivfpqc_{tag}_{fp}")
    # fold in any tombstones not yet compacted — also heals a crash
    # between the index commit and the compaction (_MANIFEST already
    # exists then, so the build branch won't rerun)
    if ANN.read_tombstones(spark, path).take(1):
        ANN.compact_ivfpq_index(spark, path)
    # read_..._live: belt-and-braces — after compaction the tombstone
    # set is empty, so the anti-join is against an empty broadcast
    opened = ANN.read_ivfpq_index_live(spark, path)
    per_session[("ivfpq", path)] = opened
    return opened


@register(
    "ann_compact_probe",
    _ivfpq_oracle(exclude_pred=_DELETE_PRED),
    bench=True,
    doc="Index compaction (operators/ann_index.py::compact_ivfpq_index "
    "— the RocksDB-compaction analog for the parquet index layout): "
    "the same ~10% doomed slice as ann_delete_probe is tombstoned ON "
    "DISK and folded in, rewriting ONLY the affected cell partitions "
    "(dynamic partition overwrite; untouched inverted lists' files "
    "never move — at 100 TB compaction cost is proportional to the "
    "affected lists, not the corpus), then the probe runs over the "
    "compacted index with an EMPTY tombstone set. Oracle: identical "
    "to ann_delete_probe's — compaction is result-invariant by "
    "contract, so the same exclusion oracle pins the tombstone-"
    "serving path and the post-compaction path to the same answer. "
    "Completes the driver-verified index lifecycle: build → append → "
    "delete → compact → probe.",
)
def ann_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_compacted_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    return ANN.probe_ivfpq_index(idx, q, k=5, n_probe=2).select(
        "query_id", "neighbor_id", "approx_d2", "rnk"
    )


def _rerank_oracle(k: int = 5, n_candidates: int = 50, r: int = 6) -> str:
    # stage 1 = the IVFPQ oracle at k=n_candidates, nested as a CTE
    # (its own WITH chain scopes inside the parentheses); stage 2 =
    # exact cosine over only the candidate sliver
    return f"""
    WITH cand AS ({_ivfpq_oracle(k=n_candidates)}),
    ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (
        SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS dot
        FROM cand c
        JOIN ex a ON a.vec_id = c.query_id
        JOIN ex b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (nq.nrm * nc.nrm), {r}) AS sim
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@register(
    "ann_rerank_topk",
    _rerank_oracle(),
    bench=True,
    doc="Two-stage retrieval from the PERSISTED index "
    "(operators/ann_index.py::rerank_from_index) — the production ANN "
    "serving shape: the ADC probe nominates 50 candidates per query "
    "from the cell-partitioned codes, then ONLY that sliver's raw "
    "vectors (the index's id-range-sorted vectors table — the fetch "
    "prunes row groups) are read for the exact cosine re-rank to 5. "
    "Recall is bought back from the lossy index at a constant "
    "per-query cost regardless of corpus size, and the index build is "
    "paid once per dataset, not per call (the one-shot composition "
    "remains as similarity.ann_rerank_topk). The oracle replays index "
    "build + ADC nomination + re-rank; the persisted build is "
    "deterministic, so served results match it exactly.",
)
def ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfpq_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    return ANN.rerank_from_index(
        idx, q, k=5, n_candidates=50, n_probe=2, sim_round=6
    ).select("query_id", "neighbor_id", "sim", "rnk")


def _ivf_lloyd_oracle(
    n_cells: int = 8, n_iters: int = 3, n_probe: int = 2, k: int = 5
) -> str:
    from .ml_analysis import lloyd_ctes

    return f"""
    WITH {lloyd_ctes(n_cells, n_iters)},
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS r
            FROM dfin WHERE vec_id < 10) WHERE r <= {n_probe}),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cand AS (
        SELECT p.query_id, afin.vec_id AS neighbor_id
        FROM probes p JOIN afin ON afin.cell = p.cell AND afin.vec_id <> p.query_id),
    dots AS (
        SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS dot
        FROM cand c
        JOIN ex a ON a.vec_id = c.query_id
        JOIN ex b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
        GROUP BY 1, 2),
    scored AS (
        SELECT d.query_id, d.neighbor_id,
               round(d.dot / (nq.nrm * nc.nrm), 6) AS sim
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


@register(
    "ivf_kmeans_topk",
    _ivf_lloyd_oracle(),
    doc="IVF with a LEARNED k-means coarse quantizer, VALUE-ORACLE-"
    "GATED (round 6; was rows-only): a deterministic 3-step Lloyd "
    "(operators/similarity.py::lloyd_assignments) adapts the cells to "
    "the data distribution — the converged-quantizer production shape "
    "(ivf_ann_topk is the one-step sibling); queries probe their 2 "
    "nearest cells and re-rank exactly via an equi-join on cell id. "
    "Every Lloyd round is a broadcast + map-side partial agg, SQL-"
    "replayable by the rounded-distance recurrence. The MLlib KMeans "
    "quantizer arm (similarity.ivf_topk) stays covered by "
    "tests/test_ml_clustering.py, which pins exactness at "
    "n_probe == n_cells (its labels are init-dependent, so it cannot "
    "carry a cross-engine value oracle).",
)
def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    out = SIM.ivf_topk_onestep(
        e,
        e.filter(F.col("vec_id") < 10),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_cells=8,
        n_probe=2,
        n_iters=3,
    )
    return out.select("query_id", "neighbor_id", "sim", "rnk")


def _semantic_dedup_oracle(n_cells: int = 8, thr: float = 0.4, r: int = 6) -> str:
    return f"""
    WITH RECURSIVE ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    seeds AS (
        SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {n_cells})),
    d0 AS (
        SELECT e.vec_id, s.cell, round(sum((e.v - se.v) * (e.v - se.v)), {r}) AS d2r
        FROM ex e
        JOIN seeds s ON TRUE
        JOIN ex se ON se.vec_id = s.vec_id AND se.pos = e.pos
        GROUP BY e.vec_id, s.cell),
    a0 AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rr
            FROM d0) WHERE rr = 1),
    cents AS (SELECT a0.cell, e.pos, avg(e.v) AS m
              FROM ex e JOIN a0 USING (vec_id) GROUP BY a0.cell, e.pos),
    d1 AS (SELECT e.vec_id, c.cell, round(sum((e.v - c.m) * (e.v - c.m)), {r}) AS d2r
           FROM ex e JOIN cents c ON c.pos = e.pos GROUP BY e.vec_id, c.cell),
    a1 AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2r, cell) AS rr
            FROM d1) WHERE rr = 1),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    cand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
             FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id),
    dots AS (SELECT c.id_a, c.id_b, sum(xa.v * xb.v) AS dot
             FROM cand c
             JOIN ex xa ON xa.vec_id = c.id_a
             JOIN ex xb ON xb.vec_id = c.id_b AND xb.pos = xa.pos
             GROUP BY 1, 2),
    pairs AS (SELECT id_a, id_b FROM dots d
              JOIN norms na ON d.id_a = na.vec_id
              JOIN norms nb ON d.id_b = nb.vec_id
              WHERE round(d.dot / (na.nrm * nb.nrm), {r}) >= {thr}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
        SELECT vec_id AS u, vec_id AS comp FROM embeddings
        UNION
        SELECT e.v AS u, rch.comp AS comp
        FROM reach rch JOIN edges e ON e.u = rch.u),
    comps AS (SELECT u AS vec_id, min(comp) AS component_id
              FROM reach GROUP BY u)
    SELECT c.vec_id, a1.cell, c.component_id,
           CAST(count(*) OVER (PARTITION BY c.component_id) AS BIGINT)
               AS component_size,
           c.vec_id = c.component_id AS is_keeper
    FROM comps c JOIN a1 ON a1.vec_id = c.vec_id
    """


@register(
    "semantic_dedup",
    _semantic_dedup_oracle(),
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023): "
    "the all-pairs cosine search runs only INSIDE quantizer cells "
    "(deterministic one-step-Lloyd, shared with ivf_ann_topk), so pair "
    "cost is sum-of-|cell| squared, never corpus squared — then "
    "high-similarity pairs resolve to connected components with a "
    "min-id keeper. The oracle replays cells, in-cell pairs AND the "
    "component recursion in one recursive CTE. "
    "operators/similarity.py::semantic_dedup_cells.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    return SIM.semantic_dedup_cells(
        e, id_col="vec_id", vec_col="embedding", n_cells=8, threshold=0.4
    )


@register(
    "incremental_topk_sim",
    """
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings),
    norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.v * c.v) AS dot
        FROM ex q JOIN ex c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
        GROUP BY 1, 2),
    scored AS (
        SELECT query_id, neighbor_id,
               round(d.dot / (nq.nrm * nc.nrm), 6) AS sim
        FROM dots d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.neighbor_id = nc.vec_id)
    SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
        FROM scored)
    WHERE rnk <= 5
    """,
    doc="Incremental top-k similarity maintenance (the interactive-"
    "session pattern, EDBT 2020): the corpus is split into a base and "
    "an insert batch; the per-query top-k STATE (|queries|×k rows) "
    "merges with scores against the DELTA only — the base is never "
    "rescanned. Exact by the selection property, so the oracle is the "
    "plain full-corpus top-k. The MV/quantile/HLL partial-state-merge "
    "discipline applied to similarity search. "
    "operators/similarity.py::incremental_topk.",
)
def incremental_topk_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    queries = e.filter(F.col("vec_id") < 10)
    base = e.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") < 10))
    delta = e.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 10))
    state = SIM.rank_topk(SIM.score_queries(queries, base), k=5)
    return SIM.incremental_topk(state, queries, delta, k=5)


# ---- ANN self-diagnostics ------------------------------------------

from .registry import QUERY_REGISTRY as _REG  # noqa: E402  (import-order
# safe: vectors_text registers cosine_topk before this module loads)

_RECALL_ORACLE = f"""
    WITH exact AS ({_REG["cosine_topk"].oracle}),
    approx AS ({_ivfpq_oracle()})
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS k_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)
               AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@register(
    "ann_recall_at_k",
    _RECALL_ORACLE,
    doc="Recall@k of the IVFPQ index against the exact brute-force "
    "top-k, per query — the metric an ANN deployment is actually "
    "tuned by (n_probe/m/n_codes trade recall for scan cost). "
    "Spark side joins the served-index probe (ann_probe_only's plan) "
    "against cosine_topk's exact ranking; the oracle composes the two "
    "registered oracle CTEs and replays the identical overlap count. "
    "Self-measuring quality: the harness that evaluates the index "
    "ships with the index.",
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _REG["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        ann_probe_only(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("k_exact"),
            F.count("__hit").cast("bigint").alias("n_hit"),
            F.round(F.count("__hit") / F.count("*"), 6).alias("recall_at_k"),
        )
    )


_KNN_ORACLE = f"""
    WITH exact AS ({_REG["cosine_topk"].oracle}),
    votes AS (
        SELECT e.query_id, CAST(emb.label AS INT) AS label, count(*) AS c
        FROM exact e JOIN embeddings emb ON emb.vec_id = e.neighbor_id
        GROUP BY 1, 2),
    pred AS (
        SELECT query_id, label AS predicted FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, label) AS rn
            FROM votes) WHERE rn = 1)
    SELECT p.query_id, CAST(q.label AS INT) AS actual, p.predicted,
           CAST(q.label AS INT) = p.predicted AS correct
    FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
    """


@register(
    "knn_label_accuracy",
    _KNN_ORACLE,
    doc="Leave-one-out kNN classification over the embedding table: "
    "each query's exact top-5 cosine neighbors vote on its label "
    "(count desc, label asc tie-break) — the standard embedding-"
    "quality probe (a good embedding space classifies its own labels "
    "by neighborhood). Composes cosine_topk with a broadcast label "
    "join and a per-query argmax; the oracle replays the vote in SQL.",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    labels = e.select("vec_id", F.col("label").cast("int").alias("label"))
    exact = _REG["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    votes = (
        exact.join(
            F.broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted"))
    )
    actual = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("actual")
    )
    return pred.join(F.broadcast(actual), "query_id").select(
        "query_id",
        "actual",
        "predicted",
        (F.col("actual") == F.col("predicted")).alias("correct"),
    )


# IDCG@k prefix table for binary relevance, IDCG(m) = sum_{i<=m} 1/log2(i+1),
# embedded as LITERALS in both engines so the ideal side is bit-identical
_IDCG_PREFIX = [
    0.0,
    1.0,
    1.6309297535714575,
    2.1309297535714578,
    2.5616063116448506,
    2.9484591188793923,
]

_NDCG_ORACLE = f"""
    WITH exact AS ({_REG["cosine_topk"].oracle}),
    lab AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
    rels AS (
        SELECT e.query_id, e.rnk,
               CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END AS rel
        FROM exact e
        JOIN lab ln ON ln.vec_id = e.neighbor_id
        JOIN lab lq ON lq.vec_id = e.query_id),
    agg AS (
        SELECT query_id,
               CAST(sum(rel) AS BIGINT) AS n_relevant,
               sum(rel / (ln(rnk + 1.0) / ln(2.0))) AS dcg
        FROM rels GROUP BY query_id)
    SELECT query_id, n_relevant,
           round(dcg, 6) AS dcg,
           round(CASE WHEN n_relevant = 0 THEN 0.0
                      ELSE dcg / ([{", ".join(repr(v) for v in _IDCG_PREFIX)}]
                                  [CAST(n_relevant AS INT) + 1]) END, 6)
               AS ndcg_at_5
    FROM agg
    """


@register(
    "ndcg_label_relevance",
    _NDCG_ORACLE,
    doc="NDCG@5 of the exact cosine ranking under label-match binary "
    "relevance, per query — the graded-position IR metric next to "
    "knn_label_accuracy (accuracy asks 'did the majority vote win', "
    "NDCG asks 'were the relevant neighbors ranked EARLY'). Composes "
    "cosine_topk with two broadcast label joins; DCG discounts are "
    "ln(rank+1)/ln(2) spelled identically on both engines, and the "
    "ideal DCG comes from a shared literal prefix table (binary "
    "relevance makes IDCG a function of the relevant count alone), so "
    "the only float divergence is sub-ulp libm noise far below the "
    "6-decimal rounding.",
)
def ndcg_label_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    lab = e.select("vec_id", F.col("label").cast("int").alias("label"))
    exact = _REG["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id", "rnk"
    )
    rels = (
        exact.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "rnk",
            F.when(F.col("n_label") == F.col("q_label"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    agg = rels.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_relevant"),
        F.sum(
            F.col("rel") / (F.log(F.col("rnk") + 1.0) / F.log(F.lit(2.0)))
        ).alias("dcg"),
    )
    idcg = F.array(*[F.lit(v) for v in _IDCG_PREFIX])
    return agg.select(
        "query_id",
        "n_relevant",
        F.round("dcg", 6).alias("dcg"),
        F.round(
            F.when(F.col("n_relevant") == 0, F.lit(0.0)).otherwise(
                F.col("dcg")
                / F.element_at(idcg, F.col("n_relevant").cast("int") + 1)
            ),
            6,
        ).alias("ndcg_at_5"),
    )


_EMB_LONG_SIL = """
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) - 1 AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
"""


@register(
    "label_silhouette",
    f"""
    WITH ex AS ({_EMB_LONG_SIL}),
    cent AS (SELECT label AS s_label, pos, round(avg(v), 6) AS c
             FROM ex GROUP BY 1, 2),
    d AS (SELECT e.vec_id, e.label, c.s_label,
                 round(sum((e.v - c.c) * (e.v - c.c)), 6) AS d2
          FROM ex e JOIN cent c ON c.pos = e.pos
          GROUP BY 1, 2, 3),
    agg AS (SELECT vec_id, label,
                   max(CASE WHEN s_label = label THEN d2 END) AS d_own,
                   min(CASE WHEN s_label <> label THEN d2 END) AS d_other
            FROM d GROUP BY 1, 2),
    sil AS (SELECT label,
                   CASE WHEN greatest(sqrt(d_own), sqrt(d_other)) = 0
                        THEN 0.0
                        ELSE (sqrt(d_other) - sqrt(d_own))
                             / greatest(sqrt(d_own), sqrt(d_other)) END AS s
            FROM agg)
    SELECT CAST(label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(s), 6) AS mean_silhouette
    FROM sil GROUP BY label
    """,
    doc="Centroid-silhouette cluster-quality score per label: for every "
    "vector, s = (d_nearest_other_centroid - d_own_centroid) / "
    "max(both) — the simplified (centroid-based, O(n x k) not O(n^2)) "
    "silhouette a labeled embedding table can compute at any scale; "
    "near +1 = tight separated classes, near 0/negative = overlap. "
    "Centroid dims round to 6 BEFORE distances (the quantizer "
    "discipline), distances round to 6 before the min. Spark side: "
    "one (label, dim)-keyed centroid aggregation, centroids broadcast "
    "(k rows), per-vector distances are in-row HOF folds — never a "
    "vec x vec pair join.",
)
def label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    ex = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    per_dim = ex.groupBy(F.col("label").alias("s_label"), "pos").agg(
        F.round(F.avg("v"), 6).alias("c")
    )
    cent = per_dim.groupBy("s_label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    d = (
        e.crossJoin(F.broadcast(cent))
        .withColumn(
            "d2",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        "centroid",
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .select("vec_id", "label", "s_label", "d2")
    )
    agg = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("s_label") == F.col("label"), F.col("d2"))).alias(
            "d_own"
        ),
        F.min(F.when(F.col("s_label") != F.col("label"), F.col("d2"))).alias(
            "d_other"
        ),
    )
    mx = F.greatest(F.sqrt("d_own"), F.sqrt("d_other"))
    s = F.when(mx == 0, F.lit(0.0)).otherwise(
        (F.sqrt("d_other") - F.sqrt("d_own")) / mx
    )
    return (
        agg.withColumn("s", s)
        .groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
    )


@register(
    "knn_confusion_matrix",
    f"""
    WITH knn AS ({_KNN_ORACLE})
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM knn GROUP BY 1, 2
    """,
    doc="Confusion matrix of the leave-one-out kNN label predictions "
    "(knn_label_accuracy composed and grouped) — which classes the "
    "embedding space confuses with which, the standard drill-down "
    "under the accuracy number. Metadata-sized output (k x k).",
)
def knn_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        knn_label_accuracy(spark, sf_dir)
        .groupBy("actual", "predicted")
        .agg(F.count("*").cast("long").alias("n"))
    )


_CALIB_ORACLE = f"""
    WITH exact AS ({_REG["cosine_topk"].oracle}),
    lab AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
    votes AS (
        SELECT e.query_id, ln.label, CAST(count(*) AS BIGINT) AS c
        FROM exact e JOIN lab ln ON ln.vec_id = e.neighbor_id
        GROUP BY 1, 2),
    pred AS (
        SELECT query_id, label AS predicted, c FROM (
            SELECT query_id, label, c,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c DESC, label) AS rn
            FROM votes) WHERE rn = 1)
    SELECT CAST(p.c AS INTEGER) AS vote_count,
           round(p.c / 5.0, 6) AS vote_share,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN lq.label = p.predicted
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM pred p JOIN lab lq ON lq.vec_id = p.query_id
    GROUP BY p.c
    """


@register(
    "knn_calibration",
    _CALIB_ORACLE,
    doc="Calibration curve of the kNN vote: group queries by their "
    "winning vote count (1..5 of the top-5 neighbors) and report "
    "realized accuracy per bin against the nominal vote share — a "
    "well-calibrated embedding space has 5/5-vote queries right far "
    "more often than 2/5 ones, and the gap quantifies how much to "
    "trust the vote as a confidence score. Same composed shape as "
    "knn_label_accuracy with the vote count retained; accuracy is an "
    "avg of exact 0/1 indicators (integer-sum deterministic).",
)
def knn_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "embeddings", normalize_ntz=False)
    lab = e.select("vec_id", F.col("label").cast("int").alias("label"))
    exact = _REG["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    votes = (
        exact.join(
            F.broadcast(lab.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted"), "c")
    )
    joined = pred.join(
        F.broadcast(lab.withColumnRenamed("vec_id", "query_id")), "query_id"
    )
    return joined.groupBy(F.col("c").cast("int").alias("vote_count")).agg(
        F.round(F.max("c") / 5.0, 6).alias("vote_share"),
        F.count("*").cast("long").alias("n_queries"),
        F.round(
            F.avg(
                F.when(F.col("label") == F.col("predicted"), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("accuracy"),
    )


_CURVE_PROBES = (1, 2, 4, 8)

_CURVE_ORACLE = (
    f"WITH exact AS ({{ex}}),\n    "
    + ",\n    ".join(
        f"a{p} AS ({{a{p}}})" for p in _CURVE_PROBES
    )
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({p} AS INTEGER) AS n_probe,"
        f" CAST(count(*) AS BIGINT) AS n_exact,"
        f" CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,"
        f" round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6)"
        f" AS recall"
        f" FROM exact e LEFT JOIN a{p} a"
        f" ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
        for p in _CURVE_PROBES
    )
).format(
    ex=_REG["cosine_topk"].oracle,
    **{f"a{p}": _ivfpq_oracle(n_probe=p) for p in _CURVE_PROBES},
)


@register(
    "ann_recall_curve",
    _CURVE_ORACLE,
    doc="The recall-vs-probe FRONTIER: micro recall@5 of the persisted "
    "IVFPQ index at n_probe = 1/2/4/8 against the exact brute-force "
    "ranking — the curve an ANN deployment is tuned on (probe count "
    "is the scan-cost knob: |probed lists| × m bytes per query; even "
    "full probe stays below 1.0 where PQ's quantized distances "
    "re-order the boundary). Spark probes the SAME cached index four "
    "times (broadcast centroids/codebooks, cell-partition-pruned "
    "lists); the oracle replays four deterministic builds as nested "
    "CTEs. On this corpus the curve is FLAT (verified: wider probes "
    "do add candidates, but ADC never ranks them into the top-5) — "
    "recall here is PQ-bound (m=4 × 8 codes on 64-dim), not "
    "probe-bound, which is exactly the budget decision the curve "
    "exists to reveal: spend bytes on m, not probes. Not "
    "bench-flagged: ann_probe_only is the serving bench entry, this "
    "is its tuning harness.",
)
def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfpq_index(spark, sf_dir)
    q = load_table(spark, sf_dir, "embeddings", normalize_ntz=False).filter(
        F.col("vec_id") < 10
    )
    exact = _REG["cosine_topk"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=False)  # one exact ranking, len(_CURVE_PROBES) consumers
    out = None
    for p in _CURVE_PROBES:
        approx = ANN.probe_ivfpq_index(idx, q, k=5, n_probe=p).select(
            "query_id", "neighbor_id", F.lit(1).alias("__hit")
        )
        row = (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count("*").cast("long").alias("n_exact"),
                F.count("__hit").cast("long").alias("n_hit"),
                # when(n>0): the no-groupBy agg emits a row even on an
                # EMPTY corpus, where 0/0 is an ANSI divide-by-zero
                F.round(
                    F.when(
                        F.count("*") > 0,
                        F.count("__hit").cast("double") / F.count("*"),
                    ),
                    6,
                ).alias("recall"),
            )
            .select(F.lit(p).cast("int").alias("n_probe"), "*")
        )
        out = row if out is None else out.unionByName(row)
    return out


_BALANCE_TAIL = """, codecnt AS (
        SELECT j, code, CAST(count(*) AS BIGINT) AS c
        FROM codes GROUP BY 1, 2),
    jt AS (SELECT j, CAST(sum(c) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS n_codes_used,
                  CAST(max(c) AS BIGINT) AS max_c
           FROM codecnt GROUP BY j)
    SELECT CAST(cc.j AS INTEGER) AS subspace,
           jt.n AS n_vectors,
           jt.n_codes_used,
           round(sum(-(cc.c / CAST(jt.n AS DOUBLE))
                     * ln(cc.c / CAST(jt.n AS DOUBLE))), 6) AS code_entropy,
           round(jt.max_c / CAST(jt.n AS DOUBLE), 6) AS top_code_share
    FROM codecnt cc JOIN jt ON jt.j = cc.j
    GROUP BY cc.j, jt.n, jt.n_codes_used, jt.max_c"""


@register(
    "pq_code_balance",
    _ivfpq_oracle(final_select=_BALANCE_TAIL),
    doc="PQ codebook HEALTH: per subspace, how evenly the corpus "
    "spreads over the 8 codes — distinct codes used, code-assignment "
    "entropy (ln 8 ≈ 2.079 is perfectly balanced) and the hottest "
    "code's share. Collapsed subspaces (one dominant code) mean the "
    "quantizer wastes its byte budget and ADC distances lose "
    "resolution — the diagnostic read BEFORE re-spending bytes on m "
    "or probes (companion to ann_recall_curve, which showed this "
    "config PQ-bound). Spark reads the PERSISTED index's code table "
    "(metadata-sized: one row per vector per subspace) — two tiny "
    "aggregations, no rebuild; the oracle replays the deterministic "
    "build via the shared CTE chain with a diagnostics tail.",
)
def pq_code_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _served_ivfpq_index(spark, sf_dir)
    cc = idx.codes.groupBy("j", "code").agg(
        F.count("*").cast("long").alias("c")
    )
    jt = cc.groupBy("j").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_codes_used"),
        F.max("c").cast("long").alias("max_c"),
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        cc.join(F.broadcast(jt), "j")
        .groupBy(
            F.col("j").cast("int").alias("subspace"),
            F.col("n").alias("n_vectors"),
            "n_codes_used",
            "max_c",
        )
        .agg(
            F.round(F.sum(-p * F.log(p)), 6).alias("code_entropy"),
            F.round(
                F.max(F.col("max_c").cast("double") / F.col("n")), 6
            ).alias("top_code_share"),
        )
        .drop("max_c")
        .select(
            "subspace", "n_vectors", "n_codes_used", "code_entropy",
            "top_code_share",
        )
    )


@register(
    "image_phash_pairs",
    """
    WITH h AS (
        SELECT doc_id,
               CAST(concat('0x',
                    substring(md5(substring(text, 1, 64)), 1, 15)) AS BIGINT)
                   AS dhash
        FROM documents WHERE text IS NOT NULL),
    bands AS (
        SELECT doc_id, dhash, j, (dhash >> (j * 15)) & 32767 AS bv
        FROM h, (VALUES (0), (1), (2), (3)) t(j)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.dhash AS ha, b.dhash AS hb
        FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv
                                 AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 6
    """,
    doc="Image near-duplicate pairs by perceptual hash "
    "(operators/multimodal.py::image_dhash + phash_near_pairs): binary "
    "content → 60-bit dHash (REAL arm: stdlib PNG pixel decode → 9×8 "
    "block-mean difference bits, unit-tested on real PNGs; non-image "
    "content uses the deterministic md5 stand-in this oracle replays — "
    "here each doc's 'image' is stubbed by its leading 64 bytes, a "
    "thumbnail stand-in under which shared-boilerplate docs collide) "
    "→ 4×15-bit banding, candidates from the (band, value) equi-join "
    "— the LSH shape, collision-bounded, never pairs² — verified by "
    "popcount hamming ≤ 6, all Catalyst bit arithmetic. The image "
    "twin of simhash_near_pairs; at 100 TB the hash pass is one map "
    "over the blobs and only (id, 60-bit hash) ever shuffles.",
    bench=True,
)
def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", normalize_ntz=False).select(
        "doc_id",
        F.encode(F.substring("text", 1, 64), "utf-8").alias("content"),
    )
    hashes = MM.image_dhash(d, "content", "doc_id", mode="auto")
    return MM.phash_near_pairs(hashes, "doc_id", "dhash", max_hamming=6)
