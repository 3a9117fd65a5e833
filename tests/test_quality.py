"""Corpus-quality operators (repetition, PII redaction, contamination)
and the event funnel: hand-computed oracles on tiny frames, edge
cases (null/blank text), and the plan shapes the operators promise."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from scotustician_spark.operators.quality import (
    EVAL_COLLECT_CHAR_CAP,
    contamination_pairs,
    pii_redact,
    repetition_stats,
)
from scotustician_spark.operators.temporal import funnel_stages


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # tokens: [a, a, b] -> distinct 2; bigrams: [a a, a b]
            (1, "a a b"),
            # tokens: [x, x, x, x] -> bigrams [x x]*3, distinct 1, modal 3
            (2, "x x x x"),
            (3, None),
            (4, "   "),
            (5, "single"),  # 1 token: bigram fallback = whole text
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 3
    assert abs(r1["rep_token_frac"] - (1 - 2 / 3)) < 1e-12
    assert r1["rep_bigram_frac"] == 0.0
    assert abs(r1["top_bigram_frac"] - 0.5) < 1e-12
    r2 = rows[2]
    assert abs(r2["rep_bigram_frac"] - (1 - 1 / 3)) < 1e-12
    assert r2["top_bigram_frac"] == 1.0
    # zero-token docs: present, but NULL fractions (nothing to score)
    for d in (3, 4):
        assert rows[d]["n_tokens"] == 0
        assert rows[d]["rep_token_frac"] is None
        assert rows[d]["top_bigram_frac"] is None
    # single token: the whole-text fallback is one bigram occurring once
    assert rows[5]["top_bigram_frac"] == 1.0


def test_pii_redact_counts_and_hash(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith@corp.example.org and jo@x.io tel 555-0134 now"),
            (2, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert rows[1]["n_emails"] == 2
    assert rows[1]["n_phones"] == 1
    expected = "mail <EMAIL> and <EMAIL> tel <PHONE> now"
    assert rows[1]["redacted_md5"] == hashlib.md5(expected.encode()).hexdigest()
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0


def test_contamination_pairs_and_broadcast_plan(spark):
    corpus = spark.createDataFrame(
        [
            (1, "one two three four five six"),  # shares a 5-gram with eval
            (2, "alpha beta gamma delta epsilon zeta"),  # clean
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "zzz one two three four five")], "doc_id long, text string"
    )
    # the default cap takes the Arrow kernel; a zero cap forces the
    # broadcast-join arm
    for arm, cap in (("kernel", EVAL_COLLECT_CHAR_CAP), ("join", 0)):
        out = contamination_pairs(
            corpus, eval_set, "doc_id", "text", n=5, max_collect_chars=cap
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["is_contaminated"] and rows[1]["n_contaminated"] == 1, arm
        assert not rows[2]["is_contaminated"] and rows[2]["n_contaminated"] == 0, arm
        plan = out._jdf.queryExecution().executedPlan().toString()
        # neither arm ever shuffles corpus data for the eval probe
        assert "SortMergeJoin" not in plan, arm
        if arm == "join":
            # eval shingle set arrives as one broadcast row,
            # intersected in-row
            assert "BroadcastNestedLoopJoin" in plan
        else:
            # eval set rides a SparkContext broadcast into the Arrow
            # kernel — no join node at all
            assert "Join" not in plan and "ArrowEvalPython" in plan


def test_contamination_large_eval_set_gates_to_join_path(spark):
    """An eval set above the collect cap must route through the
    broadcast-join formulation — no driver-side text collect —
    and still produce the identical per-doc verdicts (regression for
    the unbounded eval_set.collect())."""
    corpus = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    # ~200 rows of synthetic eval text: "large" relative to a 10-char cap
    eval_set = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("zzz one two three four five filler "), F.col("id")).alias(
            "text"
        ),
    )
    gated = contamination_pairs(
        corpus, eval_set, "doc_id", "text", n=5, max_collect_chars=10
    )
    plan = gated._jdf.queryExecution().executedPlan().toString()
    # proof the gate fired: the join arm's broadcast row join, and no
    # Arrow kernel (the kernel arm's signature node)
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan
    want = {
        r["doc_id"]: r
        for r in contamination_pairs(
            corpus, eval_set, "doc_id", "text", n=5, max_collect_chars=0
        ).collect()
    }
    got = {r["doc_id"]: r for r in gated.collect()}
    assert got.keys() == want.keys()
    for k in got:
        assert got[k].asDict() == want[k].asDict(), k
    assert got[1]["is_contaminated"] and not got[2]["is_contaminated"]


def test_normalize_text_nfc_and_whitespace(spark):
    from scotustician_spark.operators.quality import normalize_text

    df = spark.createDataFrame(
        [
            (1, "Café  du\tmonde "),  # combining accent + ws runs
            (2, "already clean"),
            (3, None),
            (4, "  \t "),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in normalize_text(df, "doc_id", "text").collect()}
    assert got[1]["norm_text"] == "Café du monde"
    assert got[1]["changed"] and got[1]["n_chars_raw"] == 16
    assert got[1]["n_chars_norm"] == 13  # é folded to one codepoint
    assert got[2]["norm_text"] == "already clean" and not got[2]["changed"]
    assert got[3]["norm_text"] is None and got[3]["changed"] is None
    assert got[4]["norm_text"] == "" and got[4]["changed"]


def test_funnel_stages_order_sensitive(spark):
    ev = spark.createDataFrame(
        [
            # u1 completes in order: view@10, click@20, purchase@30
            (1, 10, "view"),
            (1, 20, "click"),
            (1, 30, "purchase"),
            # u2: purchase BEFORE click -> stops at click stage
            (2, 10, "view"),
            (2, 15, "purchase"),
            (2, 20, "click"),
            # u3: click without view -> never enters the funnel
            (3, 5, "click"),
            (3, 6, "purchase"),
        ],
        "user_id long, ts long, event_type string",
    )
    out = {
        r["user_id"]: r
        for r in funnel_stages(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2}
    assert (out[1]["t_0"], out[1]["t_1"], out[1]["t_2"]) == (10, 20, 30)
    assert (out[2]["t_0"], out[2]["t_1"]) == (10, 20)
    assert out[2]["t_2"] is None  # purchase happened before the click


def test_bigram_lm_scores_hand_computed(spark):
    import math

    from scotustician_spark.operators.quality import bigram_lm_scores

    # corpus: "a b", "a b", "a c" -> bigrams: (a b)x2, (a c)x1
    # prefix counts: c(a .) = 3 ; vocab V = {a, b, c} = 3
    # p(b|a) = (2+1)/(3+3) = 0.5 ; p(c|a) = (1+1)/(3+3) = 1/3
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo"), (5, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    # zero-bigram docs are absent
    assert set(rows) == {1, 2, 3}
    # vocab includes 'solo' -> V = 4, so recompute:
    # p(b|a) = 3/(3+4) ; p(c|a) = 2/(3+4)
    assert rows[1]["n_bigrams"] == 1
    assert abs(rows[1]["avg_logprob"] - round(math.log(3 / 7), 6)) < 1e-9
    assert abs(rows[3]["avg_logprob"] - round(math.log(2 / 7), 6)) < 1e-9
    assert abs(rows[1]["ppl"] - round(math.exp(-round(math.log(3 / 7), 6)), 4)) < 1e-9


def test_chunk_boilerplate_removal_hand_computed(spark):
    from scotustician_spark.operators.quality import chunk_boilerplate_removal

    # chunk_words=2, df_cap=2: "x y" appears in docs 1,2,3 (df=3 > 2)
    # -> dropped everywhere; "a b" (docs 1,2) survives (df=2 <= cap).
    df = spark.createDataFrame(
        [
            (1, "x y a b"),       # chunks: "x y", "a b"
            (2, "a b x y"),       # chunks: "a b", "x y"
            (3, "x y"),           # only boilerplate -> empty clean_text
            (4, "unique words here"),  # chunks: "unique words", "here"
            (5, None),            # zero tokens -> 0 chunks, empty text
            (6, "   "),
        ],
        "doc_id long, text string",
    )
    out = chunk_boilerplate_removal(df, "doc_id", "text", chunk_words=2, df_cap=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_chunks"] == 2 and rows[1]["n_dropped"] == 1
    assert rows[1]["clean_text"] == "a b"
    assert rows[2]["clean_text"] == "a b"
    assert rows[3]["n_dropped"] == 1 and rows[3]["clean_text"] == ""
    # ragged tail chunk + chunk-order preservation
    assert rows[4]["n_chunks"] == 2 and rows[4]["n_dropped"] == 0
    assert rows[4]["clean_text"] == "unique words here"
    for d in (5, 6):
        assert rows[d]["n_chunks"] == 0
        assert rows[d]["n_dropped"] == 0
        assert rows[d]["clean_text"] == ""
    # every document is present in the output exactly once
    assert sorted(rows) == [1, 2, 3, 4, 5, 6]


def test_chunk_boilerplate_within_doc_repeat_counts_once(spark):
    from scotustician_spark.operators.quality import chunk_boilerplate_removal

    # "p q" twice in doc 1 but df counts DISTINCT docs -> df=2 <= cap=2
    df = spark.createDataFrame(
        [(1, "p q p q"), (2, "p q")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in chunk_boilerplate_removal(
            df, "doc_id", "text", chunk_words=2, df_cap=2
        ).collect()
    }
    assert rows[1]["n_dropped"] == 0 and rows[1]["clean_text"] == "p q p q"
    assert rows[2]["n_dropped"] == 0


def test_token_entropy_known_values(spark):
    import math

    from scotustician_spark.operators.quality import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),  # uniform over 4 distinct -> entropy ln(4), norm 1.0
            (2, "x x x x"),  # single type -> entropy 0, norm 0
            (3, "a a b"),  # 2/3,1/3 mix
            (4, "   "),  # blank -> NULLs
            (5, None),  # null -> NULLs
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_entropy(docs, "doc_id", "text").collect()}
    assert abs(rows[1]["entropy"] - math.log(4)) < 1e-6
    assert abs(rows[1]["norm_entropy"] - 1.0) < 1e-6
    assert rows[2]["entropy"] == 0.0 and rows[2]["norm_entropy"] == 0.0
    want3 = (2 / 3) * math.log(3 / 2) + (1 / 3) * math.log(3)
    assert abs(rows[3]["entropy"] - want3) < 1e-6
    assert rows[4]["entropy"] is None and rows[4]["norm_entropy"] is None
    assert rows[5]["entropy"] is None and rows[5]["norm_entropy"] is None
    assert rows[4]["n_tokens"] == 0 and rows[5]["n_tokens"] == 0


def test_winnowing_guarantee_and_density(spark):
    """Winnowing's two theorems on a constructed corpus: (1) any two
    documents sharing a run of >= w+k-1 = 8 tokens share at least one
    SELECTED fingerprint (detection guarantee); (2) disjoint-vocabulary
    documents never pair; and the selected-fingerprint density stays
    near the 2/(w+1) expectation, far below all-hashes."""
    import random

    from scotustician_spark.operators.spans import winnowing_pairs

    rng = random.Random(7)
    shared_run = " ".join(f"run{i}" for i in range(8))  # w+k-1 tokens

    def noise(tag, n):
        return " ".join(f"{tag}{rng.randint(0, 10**9)}" for _ in range(n))

    rows = [
        (1, f"{noise('a', 40)} {shared_run} {noise('b', 40)}"),
        (2, f"{noise('c', 40)} {shared_run} {noise('d', 40)}"),
        (3, noise("e", 90)),  # disjoint vocabulary — never pairs
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_pairs(docs, "doc_id", "text", k=5, w=4, min_shared=1)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got, "shared 8-token run must yield a shared fingerprint"
    assert not any(3 in p for p in got), "disjoint doc must not pair"


def test_winnowing_selects_fraction_of_hashes(spark):
    """Selection keeps roughly 2/(w+1) of the k-gram hashes — the whole
    point of winnowing vs ExactSubstr's every-window explosion."""
    import random

    from pyspark.sql import functions as F

    from scotustician_spark.operators.spans import winnowing_pairs

    rng = random.Random(11)
    text = " ".join(str(rng.randint(0, 10**9)) for _ in range(2000))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    # two identical docs share exactly the selected set, so n_shared
    # counts the selected fingerprints of one document
    toks = 2000
    n_positions = toks - 4  # k=5
    # count selected fingerprints by running the in-row expressions the
    # same way the operator does, via a tiny local pipeline
    sel = (
        winnowing_pairs(
            docs.unionByName(
                spark.createDataFrame([(2, text)], "doc_id long, text string")
            ),
            "doc_id",
            "text",
            k=5,
            w=4,
            min_shared=1,
        )
        .filter((F.col("id_a") == 1) & (F.col("id_b") == 2))
        .collect()
    )
    assert sel, "identical docs must pair"
    n_shared = sel[0]["n_shared"]
    frac = n_shared / n_positions
    # expectation 2/(w+1) = 0.4; allow generous slack either side
    assert 0.2 < frac < 0.6, f"selection density {frac} far from 2/(w+1)"
