"""Corpus-quality operators: repetition scoring, PII redaction,
eval-set contamination.

Beyond-reference training-data ops (the reference's only quality gate
is the >3-word filter at helpers.py:149 and the junk quarantine at
helpers.py:239-246). These are the standard pretraining corpus filters
(Gopher/C4-family):

- ``repetition_stats`` — repeated-token / repeated-bigram / top-bigram
  fractions. Everything is an in-row higher-order-function expression:
  per-document cost only, a pure map stage — no shuffle at any scale.
- ``pii_redact`` — regex redaction (emails, phone-ish digit runs) with
  match counts. Patterns are restricted to the syntax Java regex and
  RE2 share, so a SQL oracle reproduces them byte-for-byte.
- ``contamination_pairs`` — documents sharing any word n-gram with a
  (small) eval/benchmark set: the decontamination join every training
  pipeline runs before shipping data. Eval-side postings are tiny by
  construction, so the join broadcasts — the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from ..session import repartition_for_compute


def _lower_tokens(text: Column | str) -> Column:
    # NULL text tokenizes to the EMPTY array (n_tokens = 0, like blank
    # text), not NULL — word_shingles already lands there via its
    # otherwise() branch; tokens() alone propagates the NULL
    return F.coalesce(
        tokens(F.lower(F.col(text) if isinstance(text, str) else text)),
        F.array().cast("array<string>"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals, one row per document:

    - ``rep_token_frac``  = 1 − |distinct tokens| / |tokens|
    - ``rep_bigram_frac`` = 1 − |distinct bigrams| / |bigrams|
    - ``top_bigram_frac`` = occurrences of the modal bigram / |bigrams|

    Zero-token documents yield NULL fractions (no content to score —
    same policy as the dedup family's null handling). The modal-bigram
    count is an O(d²)-per-document expression (d = distinct bigrams);
    that cost rides the scan and parallelizes with input splits, which
    at 100 TB beats any formulation that explodes bigrams into a
    shuffle by orders of magnitude.
    """
    toks = _lower_tokens(text_col)
    bigrams = word_shingles(F.col(text_col), 2)

    def _stats(t: Column, bg: Column) -> Column:
        n_tok = F.size(t)
        n_bg = F.size(bg)
        dbg = F.array_distinct(bg)
        # modal-bigram count = longest run of equal elements in the
        # SORTED bigram array — an O(d log d) fold, vs the textbook
        # O(d²) count-per-distinct-element formulation (the oracle
        # keeps that one; identical result, incomparable cost)
        top = F.aggregate(
            F.array_sort(bg),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.transform(
                F.array(
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
                ),
                lambda run: F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    F.greatest(acc["best"], run).alias("best"),
                ),
            ).getItem(0),
            lambda acc: acc["best"],
        )
        # every ratio is guarded on its denominator: ANSI mode (Spark 4
        # default) turns x/0 into an error, not a NULL
        return F.struct(
            n_tok.alias("n_tokens"),
            F.when(
                n_tok > 0,
                F.lit(1.0) - F.size(F.array_distinct(t)) / n_tok.cast("double"),
            ).alias("rep_token_frac"),
            F.when(
                n_bg > 0, F.lit(1.0) - F.size(dbg) / n_bg.cast("double")
            ).alias("rep_bigram_frac"),
            F.when(n_bg > 0, top / n_bg.cast("double")).alias("top_bigram_frac"),
        )

    # let-binding via transform(array(...))[0] (see dedup._let) so the
    # token/bigram arrays are computed once, not once per output column
    stats = F.transform(
        F.array(F.struct(toks.alias("t"), bigrams.alias("bg"))),
        lambda s: _stats(s["t"], s["bg"]),
    ).getItem(0)
    return repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"), stats.alias("s")
    ).select(
        # ratios stay UNROUNDED: single-division row-level expressions
        # are IEEE-identical across engines (float-parity policy in
        # plans/relational.py)
        "doc_id",
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.rep_token_frac").alias("rep_token_frac"),
        F.col("s.rep_bigram_frac").alias("rep_bigram_frac"),
        F.col("s.top_bigram_frac").alias("top_bigram_frac"),
    )


# Patterns restricted to the Java-regex ∩ RE2 common syntax (no
# backrefs, no lookaround) so Spark and any RE2-based oracle agree.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def pii_redact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails and phone-shaped digit runs; emit match counts and
    the md5 of the redacted text (the full redacted text stays in the
    pipeline — the hash keeps *this* audit output narrow).

    Order matters and is fixed: emails first (a phone-shaped run inside
    an address must not be half-redacted), then phones on the
    email-redacted text. Pure regexp codegen — a map stage.
    """
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(no_email, PHONE_RE, "<PHONE>")
    return repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-self-trained bigram language-model score per document —
    the CCNet/Wikipedia-LM perplexity filter of pretraining pipelines,
    here with the model estimated from the corpus itself:

        p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)      (add-one)
        avg_logprob(doc) = mean over the doc's bigrams of ln p
        ppl(doc) = exp(-avg_logprob)

    ``c(w1 ·)`` is the prefix count (occurrences of w1 as a bigram
    start) and ``V`` the corpus vocabulary size. Documents with < 2
    tokens have no bigrams and are absent from the output.

    Plan: one explode pass builds the bigram relation; counts are two
    hash aggregations on it; scoring joins the (small, one row per
    DISTINCT bigram/prefix) count tables back — both joins are
    equi-joins Catalyst can hash-partition, and the count tables scale
    with observed vocabulary, not corpus size, so at 100 TB they are
    the broadcast-or-bucket side while the corpus streams through.
    """
    toks = _lower_tokens(text_col)
    bigrams = F.when(F.size(toks) >= 2, word_shingles(F.col(text_col), 2))
    doc_bg = (
        repartition_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(bigrams).alias("bg"))
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        # THREE consumers (c_bg, c_w1, the scoring join): cut lineage
        # so the tokenize+shingle+explode map runs once, not three
        # times — same discipline as chunk_boilerplate_removal
        .localCheckpoint(eager=False)
    )
    c_bg = doc_bg.groupBy("bg").agg(F.count("*").alias("c_bg"))
    c_w1 = doc_bg.groupBy("w1").agg(F.count("*").alias("c_w1"))
    vocab = (
        repartition_for_compute(df)
        .select(F.explode(_lower_tokens(text_col)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    logp = F.log(
        (F.col("c_bg") + 1).cast("double") / (F.col("c_w1") + F.col("v"))
    )
    return (
        doc_bg.join(c_bg, "bg")
        .join(c_w1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(logp), 6).alias("avg_logprob"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl"),
        )
    )


def chunk_boilerplate_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 8,
    df_cap: int = 2,
) -> DataFrame:
    """C4/RefinedWeb-style cross-document boilerplate removal: split
    every document into fixed-size word chunks, drop chunks whose
    document frequency exceeds ``df_cap`` (navigation bars, license
    headers, cookie banners — text repeated across unrelated pages),
    and reassemble each document from its surviving chunks in order.

    Returns (doc_id, n_chunks, n_dropped, clean_text); documents whose
    every chunk is boilerplate keep an empty string. Zero-token
    documents are reported with 0/0 and empty text.

    Plan shape: chunking is IN-ROW (slice over the token array — the
    chunk relation is born from a single explode, never a join);
    the only wide stages are the chunk-frequency count and the ordered
    reassembly, both keyed well (md5 of chunk text / doc id). The hot
    set (df > cap) joins broadcast: the cap keeps it small relative to
    the corpus (the same skew economics as the shingle df-cap in
    dedup).
    """
    toks = _lower_tokens(text_col)
    # sequence(0, -1) would DESCEND ([0, -1]) — guard the zero-token
    # case to an explicit empty array instead
    chunks_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int") - 1
            ),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_words + 1, chunk_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = (
        repartition_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), F.posexplode(chunks_arr).alias("chunk_idx", "chunk"))
        # lineage cut: the chunk relation feeds BOTH the hot-set build
        # and the anti-join probe — without it the tokenize+chunk
        # explode runs twice (measured ~15% at sf0.1; the win grows
        # with text width since the explode is the expensive map)
        .localCheckpoint(eager=False)
    )
    hot = (
        chunks.groupBy(F.md5("chunk").alias("fp"))
        .agg(F.countDistinct("doc_id").alias("chunk_df"))
        .filter(F.col("chunk_df") > df_cap)
        .select("fp")
    )
    kept = chunks.join(
        F.broadcast(hot), F.md5(chunks["chunk"]) == hot["fp"], "left_anti"
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"),
        F.when(F.size(toks) > 0, F.size(chunks_arr))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_chunks"),
    )
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# Above this many eval-set characters the pandas kernel's driver-side
# collect is refused and contamination_pairs falls back to the
# broadcast-join expression formulation (zero driver materialization).
# 64 MB of raw text ≈ 10M shingles — far past any real eval suite, but
# a bound means a misdirected "eval set" (e.g. a corpus split passed by
# mistake) degrades to a distributed plan instead of OOMing the driver.
EVAL_COLLECT_CHAR_CAP = 64_000_000


def contamination_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_collect_chars: int = EVAL_COLLECT_CHAR_CAP,
) -> DataFrame:
    """Per corpus document: how many of its word ``n``-grams appear in
    ANY eval-set document, and the flag a decontamination filter keys
    on. Documents sharing nothing with the eval set are reported with
    zero counts (left side preserved — the filter needs every doc's
    verdict).

    Plan shape: the eval side is distilled to its DISTINCT shingle set
    (tiny — eval suites are KBs where the corpus is TBs) and either
    collected + ``SparkContext.broadcast`` into an Arrow-batched
    kernel (the eval hash set is built ONCE per executor and each
    shingle is an O(1) probe; measured 2x over the expression form,
    whose ``array_intersect`` rebuilds a hash set of the broadcast
    array PER ROW), or broadcast as one array row with in-row
    ``array_intersect`` (zero Python, zero driver action). Either way
    the corpus side is a single map pass — no explode, no groupBy, no
    shuffle of corpus data at all. The kernel collects the eval
    shingle set eagerly when the plan is BUILT (it is
    eval-suite-sized, not corpus-sized); that collect is COUNT-GATED —
    if the eval set holds more than ``max_collect_chars`` characters of
    text (measured by one tiny agg action) the call takes the
    broadcast-join formulation, which never materializes eval data on
    the driver.
    """
    ev_chars = (
        eval_set.agg(F.sum(F.length(F.col(text_col))).alias("c")).collect()[0]["c"]
        or 0
    )
    if ev_chars <= max_collect_chars:
        return _contamination_pairs_pandas(corpus, eval_set, id_col, text_col, n)
    # eval set too large to hold on the driver: distributed path
    eval_arr = eval_set.select(
        F.explode(F.array_distinct(word_shingles(text_col, n))).alias("shingle")
    ).filter(F.col("shingle").isNotNull()).agg(
        F.collect_set("shingle").alias("__eval_shingles")
    )
    # let-bind the shingle array (transform(array(x))[0], see
    # dedup._let) so it is computed once per row, not once per use
    stats = F.transform(
        F.array(F.array_distinct(word_shingles(text_col, n))),
        lambda sh: F.struct(
            F.size(sh).alias("n"),
            F.size(F.array_intersect(sh, F.col("__eval_shingles")))
            .cast("long")
            .alias("inter"),
        ),
    ).getItem(0)
    return (
        repartition_for_compute(corpus)
        .crossJoin(F.broadcast(eval_arr))
        .select(F.col(id_col).alias("doc_id"), stats.alias("s"))
        .select(
            "doc_id",
            F.col("s.n").alias("n_shingles"),
            F.col("s.inter").alias("n_contaminated"),
            (F.col("s.inter") > 0).alias("is_contaminated"),
        )
    )


def _py_shingles(t: str | None, n: int) -> set[str]:
    """Python twin of functions.text.word_shingles (lower-cased
    whitespace tokens, ASCII regex classes, k<n whole-text fallback,
    zero tokens → empty set) — shared by the contamination kernel and
    its driver-side eval shingling so both sides tokenize identically
    by construction."""
    import re as _re

    edge = _re.compile(r"^\s+|\s+$", _re.ASCII)
    ws = _re.compile(r"\s+", _re.ASCII)
    if t is None:
        t = ""
    stripped = edge.sub("", t.lower())
    toks = ws.split(stripped) if stripped else []
    k = len(toks)
    if k >= n:
        return {" ".join(toks[i : i + n]) for i in range(k - n + 1)}
    if k > 0:
        return {" ".join(toks)}
    return set()


def _contamination_pairs_pandas(
    corpus: DataFrame, eval_set: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Arrow kernel for contamination_pairs: eval shingles collected
    (eval-suite-sized) and shipped as a SparkContext broadcast; per
    corpus row the shingles probe the shared frozenset. ASCII-class
    tokenizer mirrors functions.text.tokens / word_shingles exactly
    (incl. the k<n whole-text shingle and the zero-token empty set).

    The eval side collects RAW TEXTS and shingles them driver-side
    with the same Python tokenizer the kernel uses: the text collect
    is a bare projected scan (~0.2 s) where the expression-tree
    explode+distinct job it replaces paid ~1 s of codegen + shuffle
    per invocation — and identical-by-construction tokenization
    removes the one place the two sides could drift."""
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    sc = corpus.sparkSession.sparkContext
    ev_texts = eval_set.select(F.col(text_col).alias("t")).collect()
    es0: set[str] = set()
    for r in ev_texts:
        es0.update(_py_shingles(r["t"], n))
    bc = sc.broadcast(frozenset(es0))

    def kernel(texts):
        es = bc.value
        ns, inters = [], []
        for t in texts:
            sh = _py_shingles(t, n)
            ns.append(len(sh))
            inters.append(sum(1 for s in sh if s in es))
        return pd.DataFrame({"n_shingles": ns, "n_contaminated": inters})

    kernel.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    out_t = StructType(
        [
            StructField("n_shingles", IntegerType()),
            StructField("n_contaminated", LongType()),
        ]
    )
    u = F.pandas_udf(out_t)(kernel)
    return (
        repartition_for_compute(corpus)
        .select(F.col(id_col).alias("doc_id"), u(F.col(text_col)).alias("s"))
        .select(
            "doc_id",
            "s.n_shingles",
            "s.n_contaminated",
            (F.col("s.n_contaminated") > 0).alias("is_contaminated"),
        )
    )


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unicode canonicalization for corpus text: NFC-normalize (fold
    combining sequences so 'e'+COMBINING ACUTE == precomposed é — the
    precondition for every downstream exact/near-dup fingerprint),
    collapse ASCII whitespace runs, strip edges. Returns
    (doc_id, norm_text, n_chars_raw, n_chars_norm, changed).

    An Arrow-batched kernel (Python ``unicodedata`` — the JVM
    expression library has no NFC surface), pure map stage: zero
    shuffles, scales with input splits. Dedup correctness at 100 TB
    hangs on running this FIRST: byte-distinct but canonically-equal
    documents otherwise fingerprint apart.
    """
    import re as _re
    import unicodedata

    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    def kernel(texts):
        ws = _re.compile(r"\s+", _re.ASCII)
        edge = _re.compile(r"^\s+|\s+$", _re.ASCII)
        outs, raws, norms, chg = [], [], [], []
        for t in texts:
            if t is None:
                outs.append(None)
                raws.append(None)
                norms.append(None)
                chg.append(None)
                continue
            nfc = unicodedata.normalize("NFC", t)
            clean = ws.sub(" ", edge.sub("", nfc))
            outs.append(clean)
            raws.append(len(t))
            norms.append(len(clean))
            chg.append(clean != t)
        return pd.DataFrame(
            {
                "norm_text": outs,
                "n_chars_raw": raws,
                "n_chars_norm": norms,
                "changed": chg,
            }
        )

    kernel.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    out_t = StructType(
        [
            StructField("norm_text", StringType()),
            StructField("n_chars_raw", IntegerType()),
            StructField("n_chars_norm", IntegerType()),
            StructField("changed", BooleanType()),
        ]
    )
    u = F.pandas_udf(out_t)(kernel)
    return (
        repartition_for_compute(df)
        .select(F.col(id_col).alias("doc_id"), u(F.col(text_col)).alias("s"))
        .select("doc_id", "s.norm_text", "s.n_chars_raw", "s.n_chars_norm", "s.changed")
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shannon entropy of the per-document unigram distribution —
    the information-density quality signal (near-zero entropy flags
    keyword-stuffed / template / degenerate-repetition pages that the
    repetition fractions can miss when the repeats are spread out).

    entropy = Σ_t (c_t/n)·ln(n/c_t) over distinct tokens t;
    ``norm_entropy`` divides by ln(d) (d = distinct tokens) to give a
    [0,1] evenness score comparable across document lengths.

    Computed IN-ROW with the same sorted-run fold as
    ``repetition_stats``' modal bigram: sort the token array once, fold
    left accumulating (prev, run, partial sum), flushing each completed
    run's (run/n)·ln(n/run) contribution — O(n log n) per document on
    the scan, no explode, no shuffle at any corpus size. Zero-token
    documents yield NULL entropy (no content to score).
    """
    toks = _lower_tokens(text_col)

    def _ent(t: Column) -> Column:
        n = F.size(t)
        nd = n.cast("double")

        def contrib(run: Column) -> Column:
            return F.when(
                run > 0, (run.cast("double") / nd) * F.log(nd / run.cast("double"))
            ).otherwise(F.lit(0.0))

        raw = F.aggregate(
            F.array_sort(t),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0.0).alias("acc"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.when(x == acc["prev"], acc["acc"])
                .otherwise(acc["acc"] + contrib(acc["run"]))
                .alias("acc"),
            ),
            lambda acc: acc["acc"] + contrib(acc["run"]),
        )
        d = F.size(F.array_distinct(t))
        return F.struct(
            n.alias("n_tokens"),
            d.alias("n_distinct"),
            F.when(n > 0, F.round(raw, 6)).alias("entropy"),
            # evenness: entropy / ln(d); single-token-type docs (d=1)
            # have zero entropy by definition — emit 0, not 0/0
            F.when(d > 1, F.round(raw / F.log(d.cast("double")), 6))
            .when(d == 1, F.lit(0.0))
            .alias("norm_entropy"),
        )

    stats = F.transform(F.array(toks), _ent).getItem(0)
    return repartition_for_compute(df).select(
        F.col(id_col).alias("doc_id"), stats.alias("s")
    ).select(
        "doc_id",
        F.col("s.n_tokens").alias("n_tokens"),
        F.col("s.n_distinct").alias("n_distinct"),
        F.col("s.entropy").alias("entropy"),
        F.col("s.norm_entropy").alias("norm_entropy"),
    )
