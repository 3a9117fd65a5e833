"""Exact duplicate-SPAN detection (substring-level dedup).

Document-level dedup (operators/dedup.py) drops whole near-identical
documents; the complementary pass — Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" — removes REPEATED SPANS
(licence headers, quoted boilerplate, copy-pasted passages) that
survive inside otherwise-unique documents. The reference has nothing
comparable; for LLM training corpora this is the standard ExactSubstr
pass normally run with a suffix array on one giant machine.

Distributed formulation (no suffix array): every k-token window's
fingerprint + start position is born IN-ROW (transform over the token
array — one explode, no join); fingerprints occurring more than once
globally mark their positions as duplicated; per document, overlapping
or adjacent duplicated windows merge into maximal spans with a
gaps-and-islands window (fixed window length ⇒ running max end =
lag(start)+k, so one lag comparison suffices). The only wide stages
are the fingerprint frequency count and the per-document island
window — both keyed on high-cardinality columns. The shingle relation
is localCheckpoint'ed so the tokenize/hash map runs once, not once per
consumer (hot-set build + semi-join probe).

Suffix arrays find variable-length maximal repeats ≥ k exactly; the
windowed formulation finds the same spans quantized to k-grams (a span
of length L ≥ k is covered by L−k+1 duplicated windows that merge
back into one island), at the cost of k× more fingerprint rows —
the scale trade that buys full data-parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.text import tokens
from ..session import repartition_for_compute


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Returns (doc_id, span_start, span_end, span_len, n_shingles) with
    token-index [span_start, span_end) bounds. ``min_occurrences``
    counts GLOBAL occurrences of a window (cross- and within-document
    repeats both qualify, as in ExactSubstr). The duplicated-
    fingerprint set joins broadcast: it is usually tiny relative to
    the corpus.
    """
    toks = tokens(F.lower(F.col(text_col)))
    sh_arr = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.struct(
                i.alias("start"),
                F.md5(F.array_join(F.slice(toks, i + 1, k), " ")).alias("fp"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,fp:string>>"))
    sh = (
        repartition_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(sh_arr).alias("s"))
        .select("doc_id", "s.start", "s.fp")
        .localCheckpoint(eager=False)  # hash map runs once, both consumers reuse
    )
    hot = (
        sh.groupBy("fp")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("fp")
    )
    dup = sh.join(F.broadcast(hot), "fp", "left_semi")
    w = W.partitionBy("doc_id").orderBy("start")
    new_island = F.when(
        F.lag("start").over(w).isNull()
        | (F.col("start") > F.lag("start").over(w) + k),
        1,
    ).otherwise(0)
    isl = dup.withColumn("__ni", new_island).withColumn(
        "island",
        F.sum("__ni").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("start").cast("long").alias("span_start"),
        (F.max("start") + k).cast("long").alias("span_end"),
        (F.max("start") + k - F.min("start")).cast("long").alias("span_len"),
        F.count("*").cast("long").alias("n_shingles"),
    ).drop("island")


def winnowing_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Winnowing fingerprint matching (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every k-token window, slide a
    w-hash window over the hash sequence and select the RIGHTMOST
    MINIMAL hash of each window; two documents sharing >= min_shared
    selected fingerprints are reported with their overlap count.
    Winnowing guarantees any shared run of >= w+k-1 tokens produces a
    shared selected fingerprint while keeping only ~2/(w+1) of all
    hashes — position-robust document fingerprinting at a fraction of
    the ExactSubstr footprint (duplicate_spans finds the spans; this
    finds the PAIRS cheaply).

    Scale shape: hashing AND window-min selection are in-row HOFs over
    the token array (zero joins, zero windows — selection never leaves
    the row); only selected fingerprints explode, a ~2/(w+1) reduction
    of the shingle stream, and the pair join is keyed on fingerprint
    like the LSH band join (pair cost bounded by true collisions).
    md5 hex strings order identically in both engines (binary ASCII
    collation), so the min-hash selection is engine-deterministic.

    Returns (id_a, id_b, n_shared).
    """
    toks = F.coalesce(
        tokens(F.lower(F.col(text_col))), F.array().cast("array<string>")
    )
    base = repartition_for_compute(docs).select(
        F.col(id_col).alias("doc_id"), toks.alias("l")
    )
    n_f = F.size("l") - (k - 1)  # number of k-gram positions
    fps = F.transform(
        F.sequence(F.lit(0), n_f - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice("l", i + 1, k))),
    )
    staged = base.filter(n_f >= w).select("doc_id", fps.alias("fps"))
    # Downstream consumes only DISTINCT (doc, fp): the rightmost-argmin
    # POSITION the paper tracks is irrelevant to the pair join, and the
    # selected VALUE of a window is simply its minimum — so selection
    # is one array_min per window. (The former position-tracking form
    # re-ran array_min inside a per-candidate filter, O(w²) per window,
    # then re-looked every fp up via element_at after the explode.
    # A _let binding on fps was ALSO measured here and rejected: the
    # single-element array wrapper copies the whole fps array per row —
    # 5x slower than letting the two plain column references stand.)
    sel_fp = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("fps") - w),
            lambda i: F.array_min(F.slice("fps", i + 1, w)),
        )
    )
    # distinct (doc, fp) materializes ONCE for both join sides: the
    # a/b branches each re-ran the whole shingle-hash + window-min
    # selection pass (the pushed-down id_a/id_b renames defeat
    # ReusedExchange — r10 plan audit: 2 scans, 7 exchanges), exactly
    # the duplicate_spans double-eval this checkpoint already fixes
    # there. ~2/(w+1) of the shingle stream, the same relation either
    # formulation shuffles anyway.
    sel = (
        staged.select("doc_id", F.explode(sel_fp).alias("fp"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = sel.select(F.col("doc_id").alias("id_a"), "fp")
    b = sel.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
