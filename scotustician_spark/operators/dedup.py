"""Deduplication operators for large text corpora.

The reference dedups by exact deterministic keys only
(unique-constraint skip, helpers.py:287-296; anti-join on processed
keys, processors.py:86-116). A 100 TB training-data pipeline needs the
near-dup family as well; each operator here is a pure DataFrame plan:

- exact:      hash-groupBy on a normalized fingerprint (one shuffle);
- n-gram Jaccard: shingle-explode + equi-join on shingle — scales as
  sum of postings-list squares, with a document-frequency cap to drop
  degenerate hot shingles (the classic skew guard);
- MinHash+LSH: signature = min hash per seed, band buckets, candidate
  pairs from equal band signatures — pair generation never touches
  non-colliding documents;
- SimHash:    per-token hashed bit votes → n-bit signature; equal
  signatures (or banded sub-signatures) are candidates;
- embedding near-dup: cosine over dimension-exploded join (see
  similarity.py for the top-k variant).

Hashes are md5-based (hex strings) rather than xxhash so an external
SQL oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, word_shingles
from ..session import repartition_for_compute


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates after whitespace/case normalization.

    Returns one row per fingerprint: n_docs, min doc id (the keeper),
    list-free so the shuffle payload stays tiny at scale.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row per normalized-text fingerprint (min id wins
    deterministically — not dropDuplicates, whose survivor is
    partition-order dependent)."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    keepers = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keepers, [ "__fp", id_col], "left_semi").drop("__fp")


def shingle_postings(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, df_cap: int | None = None
) -> DataFrame:
    """(doc_id, shingle) distinct postings; optional document-frequency
    cap drops shingles appearing in more than ``df_cap`` docs (hot-key
    skew guard — a shingle in 1M docs would otherwise create 1M² join
    rows)."""
    # per-doc array_distinct BEFORE the explode: (doc_id, shingle)
    # uniqueness is a per-document property, so deduping in-row replaces
    # a full shuffle-distinct over the exploded postings with zero data
    # movement. word_shingles yields [] for null/blank text, so those
    # docs never reach the postings; the isNotNull filter is insurance
    # against any upstream producing literal null shingles — one null
    # bucket would pair every such doc with every other (n² at corpus
    # scale, where nulls are common).
    posts = (
        repartition_for_compute(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(word_shingles(text_col, n))).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    if df_cap is not None:
        hot = (
            posts.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        posts = posts.join(F.broadcast(hot), "shingle", "left_anti")
    return posts


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all candidate pairs.

    |A∩B| via self-equi-join of the postings on shingle (only documents
    sharing at least one shingle ever meet — no cartesian product);
    |A∪B| = |A|+|B|−|A∩B|. One shuffle keyed on shingle + one on pair.
    """
    posts = shingle_postings(df, id_col, text_col, n, df_cap)
    # |A∩B| WITHOUT the postings self-join (which would compute the
    # postings twice — exchanges are not reused across self-join
    # sides): group each shingle's posting list once, emit its doc-id
    # pairs in-row, count per pair. The df_cap guard above bounds the
    # per-shingle pair expansion exactly like it bounded the join.
    # collect_SET, not list: a doc_id appearing twice in the input (dup
    # rows) would repeat in the bucket, pair with itself, AND double-
    # count the intersection (n_inter = 2×|A∩B| drives the union-size
    # denominator to zero). The set dedupes in the partial agg, so the
    # old self-join's strict a.id < b.id guarantee holds by construction.
    ids = F.array_sort(F.collect_set("doc_id"))
    pairs_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        posts.groupBy("shingle")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pairs_expr).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    # |A| as an in-row expression on the scan — no postings re-use, no
    # extra shuffle source. With a df_cap the dropped hot shingles must
    # leave the sizes too, so only the capped postings can supply them.
    if df_cap is None:
        sizes = repartition_for_compute(df).select(
            F.col(id_col).alias("doc_id"),
            F.size(F.array_distinct(word_shingles(text_col, n))).cast("long").alias("sz"),
        )
    else:
        sizes = posts.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard")
    )


# Mersenne prime for the universal-hash family. The base shingle hash
# (48 md5 bits) is REDUCED mod P before the affine step, so with
# a_i < P the product a_i·H stays below 2^62 — identical int64
# arithmetic in any engine. P must be SMALL relative to a_i·H's
# range for the family to mix: round 7 found the original
# (P = 2^61−1, a_i ≤ 259) family never wrapped P on 48-bit H, making
# every hash_i pick the SAME argmin shingle — perfectly correlated
# "independent" minima that degenerated match-fraction estimates to
# {0, 1} and collapsed LSH banding to one effective band.
MINHASH_P = (1 << 31) - 1

#: Bump when the hash family changes: rides into every
#: persisted-relation params string derived from minhash signatures so
#: pre-change band/fingerprint indexes re-key instead of serving stale.
MINHASH_FAMILY_VERSION = 2


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed pseudo-random (a_i, b_i) for hash_i(H) = (a_i·H + b_i)
    mod P, a_i ∈ [1, P−1], b_i ∈ [0, P−1] — md5-derived so any engine
    (or the SQL oracle generator) regenerates the identical table."""
    import hashlib as _hl

    out = []
    for i in range(num_hashes):
        h = _hl.md5(f"minhash-coeff-{i}".encode()).hexdigest()
        a = int(h[:12], 16) % (MINHASH_P - 1) + 1
        b = int(h[12:24], 16) % MINHASH_P
        out.append((a, b))
    return out


def _let(bound: F.Column, body) -> F.Column:
    """Let-binding for expression trees: evaluate ``bound`` ONCE and
    pass it to ``body`` as a lambda variable.

    ``transform(array(x), v -> body(v))[0]`` is the standard trick to
    stop ProjectCollapse from inlining (and hence re-evaluating) an
    expensive subexpression at every reference site — higher-order
    functions are CodegenFallback, so codegen-level subexpression
    elimination would not rescue the inlined copies.
    """
    return F.transform(F.array(bound), body).getItem(0)


def minhash_signature_array(
    text_col: Column | str, n: int = 3, num_hashes: int = 16
) -> F.Column:
    """MinHash signature as ONE in-row expression: array<long> of the
    ``num_hashes`` minima — no explode, no shuffle, a pure map.

    One md5 per distinct shingle (48-bit base hash H), then every
    universal-family hash (a_i·H + b_i) mod P folds into a running
    minima array via ``aggregate``+``zip_with``. At corpus scale this
    replaces the postings explode (~|shingles| rows per doc through a
    distinct AND a groupBy shuffle) with zero data movement: the only
    thing that ever leaves the scan stage is the signature itself.
    Identical arithmetic to the SQL-oracle formulation (min over the
    same distinct-shingle hash set). The operators run the faster
    ``minhash_signature_pandas``; this form is its test reference.
    """
    sh = F.array_distinct(word_shingles(text_col, n))
    hs = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
        % F.lit(MINHASH_P),
    )
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_coeffs(num_hashes)
        ]
    )
    # per-coefficient array_min over the (let-bound, computed-once) base
    # hashes — measured faster than folding a 16-wide minima array per
    # shingle, which reallocates the accumulator at every step
    return _let(
        hs,
        lambda H: F.transform(
            ab,
            lambda c: F.array_min(
                F.transform(H, lambda h: (c["a"] * h + c["b"]) % F.lit(MINHASH_P))
            ),
        ),
    )


def minhash_signature_pandas(
    text_col: Column | str, n: int = 3, num_hashes: int = 16
) -> F.Column:
    """MinHash signature via an Arrow-batched numpy kernel —
    element-identical to ``minhash_signature_array`` (same 48-bit md5
    base hash over the same distinct shingles, same universal-hash
    minima; blank/null-token docs yield null-element arrays exactly
    like the expression form). Measured ~2x faster: the HOF expression
    is CodegenFallback, while the kernel hashes each distinct shingle
    once per Arrow batch (corpus shingles repeat) and takes the 16
    minima as one (shingles × hashes) matrix op. Pure map stage."""
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    ab = minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in ab], dtype=np.int64)
    B = np.array([b for _, b in ab], dtype=np.int64)

    def _mh(texts):
        import hashlib

        edge = _re.compile(r"^\s+|\s+$", _re.ASCII)
        ws = _re.compile(r"\s+", _re.ASCII)
        cache: dict[str, int] = {}

        def h48(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)
                    % MINHASH_P
                )
                cache[s] = v
            return v

        out = []
        for t in texts:
            if t is None:
                t = ""
            stripped = edge.sub("", t.lower())
            toks = ws.split(stripped) if stripped else []
            k = len(toks)
            if k >= n:
                sh = {" ".join(toks[i : i + n]) for i in range(k - n + 1)}
            elif k > 0:
                sh = {" ".join(toks)}
            else:
                # zero-token doc (null OR blank): null minima ELEMENTS
                # (the array exists), matching the expression form —
                # word_shingles yields [] there, and array_min over the
                # empty transform is NULL per seed — so downstream null
                # guards (minhash_bands) behave identically
                out.append([None] * num_hashes)
                continue
            H = np.fromiter((h48(s) for s in sh), dtype=np.int64, count=len(sh))
            M = (H[:, None] * A[None, :] + B[None, :]) % MINHASH_P
            out.append(M.min(axis=0).tolist())
        return pd.Series(out)

    _mh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(ArrayType(LongType()))(_mh)(_colref(text_col))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-document MinHash signature: (doc_id, mh array<long>)."""
    return repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"),
        minhash_signature_pandas(text_col, n, num_hashes).alias("mh"),
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """(doc_id, band, band_sig) LSH band relation — the persistable
    *index* side of MinHash LSH: computed entirely in-row on the scan
    (one md5 per distinct shingle, k universal hashes, md5 per band),
    ``n_bands`` short rows per document. Store this next to the corpus
    and new batches can be deduped against it without re-reading the
    base text (see ``incremental_dedup``)."""
    n_bands = num_hashes // band_size

    # NULL text → null minima ELEMENTS (the array itself exists) →
    # NULL bands → explode drops the doc: without the guard, concat_ws
    # would skip the null minima and give every null-text document the
    # SAME band signature — an n² pair bomb the moment nulls are
    # common (they are, at corpus scale).
    def _bands_of(M: F.Column) -> F.Column:
        return F.when(
            M.getItem(0).isNotNull(),
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    M.getItem(bi * band_size + j).cast("string")
                                    for j in range(band_size)
                                ],
                            )
                        ).alias("band_sig"),
                    )
                    for bi in range(n_bands)
                ]
            ),
        )

    # materialize the UDF signature as a real column in its own
    # projection (one ArrowEvalPython pass), then band off the column
    # reference — wrapping a Python UDF in the _let HOF would push it
    # into interpreted per-reference evaluation
    sigd = repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"),
        minhash_signature_pandas(text_col, n, num_hashes).alias("__mh"),
    )
    return sigd.select(
        "doc_id", F.explode(_bands_of(F.col("__mh"))).alias("b")
    ).select("doc_id", "b.band", "b.band_sig")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: documents sharing any band signature.

    Signatures AND band signatures (md5 of the band's minhashes in seed
    order) are computed in-row in the scan stage — the first shuffle in
    the whole plan is the candidate equi-join on (band, band_sig),
    moving ``n_bands`` short rows per document instead of one row per
    shingle. Documents that collide in no band are never paired, which
    is the point of LSH at corpus scale — pair cost tracks actual
    collisions, never n².
    """
    bands = minhash_bands(df, id_col, text_col, n, num_hashes, band_size)
    # group each (band, band_sig) bucket ONCE and emit its id pairs
    # in-row, instead of a self-join: the signature map runs a single
    # time (Spark does not reuse the exchange across self-join sides),
    # and the plan is 3 exchanges (repartition, bucket groupBy, pair
    # distinct) instead of 5. Bucket membership lists are small by
    # LSH's design — pair cost tracks actual collisions; a degenerate
    # hot bucket (e.g. boilerplate-dominated corpora where one band
    # signature captures millions of docs) is dropped via
    # ``max_bucket_size``, the analog of the shingle document-frequency
    # guard: a bucket that big is no longer evidence of similarity,
    # and its |bucket|² pairs would dominate the whole job.
    # collect_SET: dup doc_id rows in the input would repeat in the
    # bucket list and emit a self-pair (the old self-join's a.id < b.id
    # excluded equal ids); the set restores that by construction.
    ids = F.array_sort(F.collect_set("doc_id"))
    pairs_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(ids.alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.select(F.explode(pairs_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def incremental_dedup(
    delta: DataFrame,
    base_fps: DataFrame,
    base_bands: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus without
    touching the base text — the scheduled-ingest twin of the one-shot
    dedup family (the reference's incremental anti-join,
    processors.py:86-116, generalized from exact keys to near-dup):

    - ``base_fps``   — (fp) exact fingerprints of the base corpus
      (``exact_duplicates``'s group keys, persisted);
    - ``base_bands`` — (doc_id, band, band_sig) LSH index
      (``minhash_bands`` output, persisted).

    Per delta document: ``is_exact_dup`` (fingerprint already in base),
    ``n_near_candidates`` (DISTINCT base docs sharing ≥1 band
    signature), and the triage ``decision``
    (drop_exact / review_near / keep).

    Both probes are equi-joins against index relations that scale with
    the BASE's size, never rescans of it; the delta (typically ≪ base)
    is the streamed side. At 100 TB the fp and band indexes are the
    things you keep sorted/bucketed on disk between runs.
    """
    d = repartition_for_compute(delta).select(
        F.col(id_col).alias("doc_id"),
        fingerprint(text_col).alias("fp"),
    )
    exact = d.join(
        base_fps.select("fp").distinct().withColumn("__hit", F.lit(1)), "fp", "left"
    ).select("doc_id", (F.col("__hit") == 1).alias("is_exact_dup"))
    delta_bands = minhash_bands(delta, id_col, text_col, n, num_hashes, band_size)
    near = (
        delta_bands.join(
            base_bands.select(
                F.col("doc_id").alias("base_id"), "band", "band_sig"
            ),
            ["band", "band_sig"],
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("base_id").alias("n_near_candidates"))
    )
    out = exact.join(near, "doc_id", "left").select(
        "doc_id",
        F.coalesce("is_exact_dup", F.lit(False)).alias("is_exact_dup"),
        F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias(
            "n_near_candidates"
        ),
    )
    return out.withColumn(
        "decision",
        F.when(F.col("is_exact_dup"), "drop_exact")
        .when(F.col("n_near_candidates") > 0, "review_near")
        .otherwise("keep"),
    )


def simhash_signature_expr(text_col: Column | str, bits: int = 16) -> F.Column:
    """SimHash as ONE in-row expression (no explode, no shuffle).

    Per-token md5 hex digits vote ±1 on each of ``bits`` bits (weighted
    by token multiplicity, exactly like the exploded formulation); the
    sign vector is the signature, emitted as a bit-string so any SQL
    engine can reproduce it. Votes 33-64 come from a second,
    salt-suffixed md5 (``md5(token || '#')``) — still one fixed
    expression per token, still oracle-reproducible. The operators run
    the faster ``simhash_signature_pandas``; this form is its test
    reference.
    """
    assert bits <= 64, "two md5s provide 64 digit votes"
    from ..functions.text import tokens

    odd = list("13579bdf")

    def _sig(toks: F.Column) -> F.Column:
        # hash every token ONCE (let-bound), then per bit count the +1
        # votes with filter/size: vote sum = 2·matches − n, positive ⇔
        # bit set. Measured ~25% faster than the textbook fold that
        # rebuilds a bits-wide accumulator array per token (both are
        # CodegenFallback; the filter form allocates nothing per step).
        if bits <= 32:
            H = F.transform(toks, lambda t: F.md5(t))
        else:
            H = F.transform(
                toks, lambda t: F.concat(F.md5(t), F.md5(F.concat(t, F.lit("#"))))
            )
        return _let(
            H,
            lambda HH: _let(
                F.size(HH),
                lambda n: F.concat(
                    *[
                        F.when(
                            2
                            * F.size(
                                F.filter(
                                    HH,
                                    lambda h: F.substr(
                                        h, F.lit(j + 1), F.lit(1)
                                    ).isin(*odd),
                                )
                            )
                            - n
                            > 0,
                            "1",
                        ).otherwise("0")
                        for j in range(bits)
                    ]
                ),
            ),
        )

    # Zero-token (null/blank) documents get a NULL signature, not the
    # all-zeros string: an all-zeros signature would collide every
    # empty document onto one bucket (and diverge from SQL oracles
    # whose token unnest simply drops such docs).
    return _let(
        tokens(F.lower(_colref(text_col))),
        lambda T: F.when(F.size(T) > 0, _sig(T)),
    )


def simhash_signature_pandas(text_col: Column | str, bits: int = 16) -> F.Column:
    """SimHash via an Arrow-batched pandas UDF — bit-identical to
    ``simhash_signature_expr`` (same md5-hex-digit votes over the same
    ASCII-whitespace tokens), measured ~3x faster at 32 bits.

    The expression form is CodegenFallback (higher-order functions
    interpret per element), so the usual "stay JVM-side" rule inverts
    here: a numpy kernel with a per-batch token→bit-vector cache wins —
    corpus vocabulary repeats heavily across documents, so most tokens
    hash once per Arrow batch instead of once per occurrence. Lowering
    happens JVM-side (``F.lower``) and the Python tokenizer uses
    ASCII-class regexes (``re.ASCII``) so the token stream matches
    ``functions.text.tokens`` exactly, Unicode edge cases included.
    Still a pure map stage: nothing shuffles, scales with input splits.
    """
    assert bits <= 64, "two md5s provide 64 digit votes"
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StringType

    hex_low = {c: int(c, 16) & 1 for c in "0123456789abcdef"}

    def _simhash(texts):
        import hashlib
        from collections import Counter

        edge = _re.compile(r"^\s+|\s+$", _re.ASCII)
        ws = _re.compile(r"\s+", _re.ASCII)
        cache: dict[str, np.ndarray] = {}

        def tok_bits(t: str) -> np.ndarray:
            v = cache.get(t)
            if v is None:
                h = hashlib.md5(t.encode("utf-8")).hexdigest()
                if bits > 32:
                    h += hashlib.md5((t + "#").encode("utf-8")).hexdigest()
                v = np.fromiter(
                    (hex_low[c] for c in h[:bits]), dtype=np.int64, count=bits
                )
                cache[t] = v
            return v

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            stripped = edge.sub("", t)
            toks = ws.split(stripped) if stripped else []
            n = len(toks)
            if n == 0:
                out.append(None)
                continue
            acc = np.zeros(bits, dtype=np.int64)
            for tok, c in Counter(toks).items():
                acc += c * tok_bits(tok)
            out.append("".join(np.where(2 * acc - n > 0, "1", "0")))
        return pd.Series(out)

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf can't resolve for function-scope imports — set the real
    # objects explicitly instead of annotating.
    _simhash.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(StringType())(_simhash)(F.lower(_colref(text_col)))


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc_id, simhash bit-string) — a pure map stage: the tokenize/
    hash/vote pipeline never leaves the row, so at 100 TB this scales
    with input splits and shuffles nothing. Near-duplicates differ in
    few bits (compare via hamming — or band the bit-string for
    LSH-style candidate generation). Zero-token documents are absent
    from the output (NULL signature filtered), matching the oracle's
    unnest semantics. Signatures come from the Arrow-batched kernel
    (``simhash_signature_pandas``, ~3x faster than the bit-identical
    ``simhash_signature_expr``).
    """
    return (
        repartition_for_compute(df)
        .select(
            F.col(id_col).alias("doc_id"),
            simhash_signature_pandas(text_col, bits).alias("simhash"),
        )
        .filter(F.col("simhash").isNotNull())
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate pairs from banded SimHash: signatures band into
    ``n_bands`` sub-signatures; documents sharing ANY band are
    candidates (two docs within hamming distance < n_bands are
    guaranteed to share a band — pigeonhole), then the exact hamming
    distance filters to ``<= max_hamming``.

    Completes the SimHash path (``simhash_signatures`` emits the
    fingerprint; this resolves it to pairs) with the same scale shape
    as MinHash LSH: signatures and bands in-row on the scan, ONE
    shuffle on (band, sub_sig), in-row pair expansion per bucket, pair
    distinct. The signature rides through the bucket AS A LONG (8
    bytes, not a ``bits``-char string) so hamming is one xor+popcount
    in-row — no join back to the signature table — and, critically,
    the hamming filter runs BEFORE the pair distinct: candidate
    volume is |bucket|²-shaped (band values are only 2^width distinct,
    so buckets are dense by construction) while true near-dups are
    rare, so deduping first would shuffle the whole candidate set and
    deduping after the filter shuffles almost nothing. Measured 2.4x
    end-to-end on a 2M-candidate corpus. A pair colliding in k bands
    computes hamming k times — k ≤ n_bands arithmetic ops per extra
    collision, orders cheaper than the avoided exchange.
    """
    assert bits % n_bands == 0
    assert bits <= 64, "signature must fit a long"
    width = bits // n_bands
    sig = simhash_signature_pandas(text_col, bits)

    def _to_long(sig_col: F.Column) -> F.Column:
        # conv(bin, 2, 10) returns a DECIMAL STRING; a 64-bit value can
        # exceed Long.MAX and null out on the cast — split into two
        # ≤32-bit halves and recombine, which is exact for any width.
        if bits <= 32:
            return F.conv(sig_col, 2, 10).cast("long")
        lo_w = bits - 32
        hi = F.conv(F.substring(sig_col, 1, 32), 2, 10).cast("long")
        lo = F.conv(F.substring(sig_col, 33, lo_w), 2, 10).cast("long")
        return F.shiftleft(hi, lo_w).bitwiseOR(lo)
    band_mask = (1 << width) - 1
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("__sigl"), bits - (bi + 1) * width)
                .bitwiseAND(F.lit(band_mask))
                .alias("sub_sig"),
            )
            for bi in range(n_bands)
        ]
    )
    bands = (
        repartition_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), _to_long(sig).alias("__sigl"))
        .filter(F.col("__sigl").isNotNull())
        .select("doc_id", "__sigl", F.explode(bands_arr).alias("b"))
        .select("doc_id", "__sigl", "b.band", "b.sub_sig")
    )
    # same in-row bucket pair expansion as the LSH path; the struct
    # sorts by doc_id first, so a.doc_id < b.doc_id by construction
    members = F.array_sort(F.collect_set(F.struct("doc_id", "__sigl")))
    pairs_expr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["doc_id"].alias("id_a"),
                    y["doc_id"].alias("id_b"),
                    x["__sigl"].alias("sl_a"),
                    y["__sigl"].alias("sl_b"),
                ),
            ),
        )
    )
    near = (
        bands.groupBy("band", "sub_sig")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode(pairs_expr).alias("p"))
        .select("p.id_a", "p.id_b", "p.sl_a", "p.sl_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sl_a").bitwiseXOR(F.col("sl_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

    def _bitstr(c: str) -> F.Column:
        return F.lpad(F.bin(F.col(c)), bits, "0")

    return near.select(
        "id_a",
        "id_b",
        _bitstr("sl_a").alias("sig_a"),
        _bitstr("sl_b").alias("sig_b"),
        "hamming",
    )


def _colref(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def prefix_filtered_jaccard_pairs(
    df,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
):
    """Set-similarity self-join with PREFIX FILTERING (the
    AllPairs/PPJoin principle, Bayardo et al. WWW'07 / Xiao et al.
    WWW'08) over word-``shingle_n``-gram sets: order each document's
    distinct shingles rare-first (global document frequency asc,
    shingle asc), index only the first ``len − ⌈t·len⌉ + 1`` — any
    pair with Jaccard ≥ t MUST share at least one prefix shingle, so
    the candidate equi-join runs over the rare-shingle postings only,
    then candidates verify exactly with an in-row
    ``array_intersect``.

    Versus the df-capped postings join (``ngram_jaccard_pairs``): the
    prefix filter is LOSSLESS (no df-cap heuristics — equality with
    brute force is a theorem, and the oracle pins it) while still
    skipping the frequent-shingle postings that dominate join
    fan-out; candidate cost scales with rare-shingle collision
    counts, never corpus². Shingles (not bare tokens) are the unit
    because word ORDER is what separates near-dups from same-domain
    text — token SETS converge on template corpora. Returns
    (id_a, id_b, jaccard≥t), jaccard rounded to 6dp before the
    threshold compare (cross-engine discipline).
    """
    from pyspark.sql.window import Window as W

    from ..functions.text import word_shingles

    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                word_shingles(F.col(text_col), shingle_n)
            ).alias("ts"),
        )
        .filter(F.size("ts") > 0)
        .localCheckpoint(eager=False)  # feeds postings, prefix AND verify
    )
    ex = toks.select(
        "doc_id", F.size("ts").alias("n"), F.explode("ts").alias("t")
    )
    tok_freq = ex.groupBy("t").agg(F.count("*").alias("tdf"))
    w = W.partitionBy("doc_id").orderBy(F.asc("tdf"), F.asc("t"))
    ranked = ex.join(tok_freq, "t").withColumn(
        "pos", F.row_number().over(w)
    )
    # ceil(t*n) computed on a 6dp-rounded product: raw FP error (e.g.
    # 0.7*10 = 7.000000000000001 -> ceil 8) would oversize the bound
    # and shorten the prefix BELOW the lossless length, silently
    # dropping qualifying pairs. 6dp matches the repo's cross-engine
    # rounding discipline and keeps ceil exact for any threshold a
    # user can meaningfully specify.
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n")
        - F.ceil(F.round(F.lit(threshold) * F.col("n"), 6))
        + 1
    ).select("doc_id", "t")
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    va = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ts_a"))
    vb = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = F.round(
        inter / (F.size("ts_a") + F.size("ts_b") - inter), 6
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def update_dedup_index(
    delta: DataFrame,
    fp_path: str,
    band_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 4,
) -> dict[str, int]:
    """Maintain the persisted dedup index with a NEW batch — the write
    half of ``incremental_dedup`` (which probes these same relations):
    the delta's exact fingerprints append to ``fp_path`` and its LSH
    band signatures to ``band_path``, both through ``idempotent_append``
    so a replayed batch is a no-op (at-least-once ingest safe). The
    base corpus is never rescanned — index growth costs exactly one
    map pass over the delta. Two-batch maintenance == one-shot build
    of the union (both relations are row-level deterministic).

    Returns {'fp_inserted', 'fp_skipped', 'band_inserted',
    'band_skipped'} for the ingest log."""
    from ..functions.text import fingerprint
    from ..sources.sinks import idempotent_append

    fps = delta.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp")
    ).filter(F.col("fp").isNotNull())
    fp_stats = idempotent_append(fps, fp_path, ["doc_id"])
    bands = minhash_bands(delta, id_col, text_col, n, num_hashes, band_size)
    band_stats = idempotent_append(bands, band_path, ["doc_id", "band"])
    return {
        "fp_inserted": fp_stats["inserted"],
        "fp_skipped": fp_stats["skipped"],
        "band_inserted": band_stats["inserted"],
        "band_skipped": band_stats["skipped"],
    }
