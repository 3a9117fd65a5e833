"""Iterative graph analytics over candidate-pair graphs.

``components.py`` resolves dedup pairs into clusters; this module adds
the other standard graph pass a corpus pipeline wants: PageRank-style
centrality over the similarity graph (pick the most *central* document
of a near-dup cluster as its canonical representative, rather than the
min-id keeper), and degree statistics.

Every iteration is one equi-join (ranks → edges on the source vertex)
plus one groupBy (contributions keyed on the destination) — both keyed
on vertex ids, so AQE handles skew/coalescing, and lineage is cut per
round with localCheckpoint exactly like the components loop. A fixed
iteration count (no convergence probe) keeps the operator
deterministic and SQL-oracle-reproducible: the oracle is the same
recurrence unrolled as chained CTEs.

Simplifications, pinned identically in the oracle: dangling vertices
(out-degree 0) leak their mass rather than redistributing it, and the
graph is unweighted. Both are the textbook "simplified PageRank"; the
full variant adds one scalar aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import cut_lineage, cut_lineage_observed


def triangle_counts(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact per-vertex triangle counts via degree-ordered orientation
    (Schank–Wagner): each undirected edge points from its lower-
    (degree, id) endpoint to the higher, bounding every vertex's
    out-degree by O(√m) — so the wedge join (out-neighbor pairs per
    source) is near-linear instead of Σ deg², and each triangle is
    enumerated exactly once at its orientation-minimal corner.

    ``pairs`` is an undirected edge list (any orientation, duplicates
    tolerated). Returns (vertex, n_triangles) for vertices in ≥ 1
    triangle. The plan is three self-joins keyed on vertex ids —
    shuffle-partitioned, AQE-skew-splittable; no per-vertex adjacency
    ever materializes in one task's memory beyond the hot-vertex
    slivers AQE already splits.
    """
    # the edge list feeds THREE consumers (degree count, orientation,
    # closure probe); materialize it once so an expensive upstream
    # (e.g. the frequent-pairs mining that produced the graph) doesn't
    # re-evaluate per consumer — same lineage-cut discipline as the
    # pagerank/components loops
    e = cut_lineage(
        pairs.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        True,
        checkpoint_dir,
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("d"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.d") < F.col("o2.d")),
    ).select(
        F.col("o1.s").alias("u"),
        F.col("o1.d").alias("lo"),
        F.col("o2.d").alias("hi"),
    )
    # closure against the id-canonical undirected edges: wedge endpoints
    # are already id-ordered (lo < hi), matching e's (a < b) convention
    tri = wedges.join(
        e, (wedges["lo"] == e["a"]) & (wedges["hi"] == e["b"])
    ).select("u", "lo", "hi")
    return (
        tri.select(F.explode(F.array("u", "lo", "hi")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def symmetrize(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Undirected pair list → directed edge relation (u, v), deduped.

    In-row doubling (explode over the two orientations) rather than a
    self-union: a union reads the upstream relation TWICE — when the
    edge list is the output of an expensive aggregation (the
    frequent-pairs mining), ReusedExchange dedups only the map side
    and the final aggregation re-runs per consumer (r10 stage profile:
    the pair-count reduce read its 12.3 MB shuffle twice). The explode
    evaluates the upstream once and emits both directions in-row.
    """
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected pair graph.

    rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v} rank_t(u)/outdeg(u),
    rank_0 = 1/N. Returns (id_col, degree, pagerank).

    Isolated vertices hold the (1-d)/N floor. N is the vertex count —
    one tiny count() action up front; everything else is the per-round
    join+agg pair. Edge shares (u, v, 1/outdeg(u)) are precomputed and
    checkpointed once, so each round moves only (vertex, rank) rows.

    ``checkpoint_dir``: cut each round's lineage with a RELIABLE
    checkpoint into that fault-tolerant dir instead of localCheckpoint
    (see operators/lineage.py — survives executor loss on a cluster).
    """
    n = vertices.count()
    if n == 0:
        # empty graph: 1/n seeds and shares are undefined — return the
        # empty result with the contract schema (id keeps its native
        # type) instead of dividing
        return (
            vertices.select(F.col(id_col))
            .withColumn("degree", F.lit(0).cast("long"))
            .withColumn("pagerank", F.lit(0.0))
            .limit(0)
        )
    sym = cut_lineage(symmetrize(edges, src, dst), True, checkpoint_dir)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    shares = cut_lineage(
        sym.join(deg, "u").select(
            "u", "v", (F.lit(1.0) / F.col("deg")).alias("share")
        ),
        True,
        checkpoint_dir,
    )
    verts = cut_lineage(
        vertices.select(F.col(id_col).alias("v")), True, checkpoint_dir
    )
    ranks = verts.select("v", F.lit(1.0 / n).alias("r"))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        contrib = (
            shares.join(ranks, shares.u == ranks.v)
            .groupBy(shares.v)
            .agg(F.sum(F.col("r") * F.col("share")).alias("c"))
        )
        ranks = cut_lineage(
            verts.join(contrib, "v", "left").select(
                "v",
                (F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))).alias(
                    "r"
                ),
            ),
            True,
            checkpoint_dir,
        )
    out_deg = deg.select(F.col("u").alias("v"), F.col("deg"))
    return (
        ranks.join(out_deg, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.col("r").alias("pagerank"),
        )
    )


def kcore_peel(
    edges,
    k: int,
    rounds: int,
    src: str = "item_a",
    dst: str = "item_b",
    checkpoint_dir: str | None = None,
    until_stable: bool = False,
    stats: dict | None = None,
):
    """Bounded k-core peeling: ``rounds`` iterations of "keep vertices
    with degree ≥ k in the current induced subgraph, drop edges
    touching removed vertices". Equal to the true k-core whenever the
    peel reaches a fixpoint within ``rounds`` (tests assert that on
    the driver data; at scale run to convergence with the
    components-style checksum loop — each round is one groupBy + two
    semi-joins keyed on vertex ids, AQE-coalescible). The bounded form
    exists so a SQL oracle can replay it exactly: the loop unrolls to
    ``rounds`` CTE pairs. Returns (vertex, core_degree) over the
    surviving subgraph.

    k-core is the standard community-skeleton filter next to triangle
    counting (`triangle_counts`): the 2-core strips pendant chains,
    higher k isolates dense commercial clusters.

    ``until_stable=True`` turns ``rounds`` into a CAP and stops as
    soon as a peel round removes nothing (the surviving edge count is
    monotone non-increasing, so an unchanged count IS the fixpoint) —
    the convergence arm for real graphs. The count rides as an
    Observation on the per-round checkpoint job (cut_lineage_observed),
    so the probe adds no extra Spark action to the bounded
    oracle-friendly replay. ``stats`` (optional dict) records
    ``rounds_run``.
    """
    from pyspark.sql import functions as F

    # in-row doubling, not a self-union: one read of the (possibly
    # expensive) upstream edge relation instead of two
    e = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # surviving-edge count observed on the per-round checkpoint job
    # (cut_lineage_observed) instead of a separate count() action
    _n = F.count(F.lit(1)).alias("n")
    if until_stable:
        e, m = cut_lineage_observed(e, [_n], checkpoint_dir)
        prev_n = m["n"]
    else:
        e = cut_lineage(e, False, checkpoint_dir)
        prev_n = None
    rounds_run = 0
    for _ in range(rounds):
        keep = e.groupBy("u").count().filter(F.col("count") >= k).select("u")
        peeled = (
            e.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
        rounds_run += 1
        if until_stable:
            e, m = cut_lineage_observed(peeled, [_n], checkpoint_dir)
            cur_n = m["n"]
            if cur_n == prev_n:
                break
            prev_n = cur_n
        else:
            e = cut_lineage(peeled, False, checkpoint_dir)
    if stats is not None:
        stats["rounds_run"] = rounds_run
    return e.groupBy("u").agg(F.count("*").cast("bigint").alias("core_degree")).select(
        F.col("u").alias("vertex"), "core_degree"
    )


def label_propagation(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    rounds: int = 4,
    checkpoint_dir: str | None = None,
    until_stable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), determinized: label_0(v) = v; each round every vertex
    adopts the most frequent label among its neighbors' previous-round
    labels, ties broken by the smallest label. A fixed round count (no
    convergence probe) keeps the pass deterministic — synchronous LPA
    can oscillate on bipartite structure, and a bounded replay
    sidesteps that nondeterminism entirely — and lets the SQL oracle
    replay the recurrence as an unrolled MATERIALIZED-CTE chain,
    exactly like the k-core peel.

    Each round is one equi-join (previous labels → symmetric edges on
    the neighbor endpoint) + one map-side-combined (vertex, label)
    count + one argmin HASH-aggregate keyed BY VERTEX (min_by over a
    (-count, label) struct — the lexicographic struct-min encodes
    "most frequent, ties to smallest label" exactly, partial-combines
    map-side, and replaces the former sort+row_number window: one
    sort per round gone, measured ~25% per round) — all shuffles
    keyed on vertex ids, so AQE splits hub-vertex skew, and lineage
    is cut per round like the pagerank/components loops.
    Returns (vertex, community).

    ``until_stable=True`` keeps the fixed-round determinism guarantees
    (``rounds`` becomes a CAP — synchronous LPA can oscillate with
    period 2 on bipartite structure, so an unconditional loop could
    never terminate) but stops early once an iteration changes no
    vertex's label OR enters a period-2 oscillation, detected by an
    ASSIGNMENT-sensitive checksum (``sum(xxhash64(vertex, label))``)
    compared against the last TWO rounds. The components loop's
    label-only checksum is not enough here — LPA labels are not
    monotone, and two different assignments can share a label
    multiset (a swap), so the vertex must hash in; and a fixed-point
    probe alone is not enough either — synchronous LPA's standard
    failure mode on bipartite structure is a 2-cycle that never fixes
    (the round-7 x10 audit measured exactly that: a 64-round cap
    burned at ~0.45 s/round). The checksum rides as an Observation on
    the per-round checkpoint job (cut_lineage_observed) — no separate
    probe action; type-agnostic (string ids hash fine). ``stats``
    (optional dict) records ``rounds_run``.
    """
    sym = cut_lineage(symmetrize(pairs, src, dst), True, checkpoint_dir)
    # r11 A/B note (VERDICT r10 item 3, measured and REJECTED for the
    # local default): a broadcast-labels round (u-pinned sym + per-round
    # BroadcastHashJoin — zero data exchanges per round) and a
    # u-pre-partitioned sym were both interleave-A/B'd against this
    # shape at sf0.1; the shuffle rounds won or tied every pairing
    # (mins 2.04 s vs 2.41 broadcast / 2.11 pinned) — at this scale the
    # per-round cost is the job floor, AQE coalesces the tiny per-round
    # exchanges below the pinned width, and each broadcast build adds a
    # driver job. So the labels join stays a shuffle join.

    # round 1 collapses: with identity initial labels every neighbor
    # label is distinct (edges are deduped), so every count is 1 and
    # the mode-with-smallest-tie IS the minimum neighbor id — one
    # aggregation replaces the generic join+count+rank round
    labels = sym.groupBy("u").agg(F.min("v").alias("lbl")).select(
        F.col("u").alias("v"), "lbl"
    )
    # assignment-sensitive checksum, observed on the per-round
    # checkpoint job itself (cut_lineage_observed) rather than a
    # separate agg action — the x10 audit priced the separate probe
    # at ~0.16 s/round
    _ck = F.sum(F.xxhash64("v", "lbl").cast("decimal(38,0)")).alias("s")

    # keep the last TWO checksums: synchronous LPA's failure mode is a
    # PERIOD-2 oscillation (bipartite structure swaps two assignments
    # forever), which a fixed-point probe alone never detects — the
    # round-7 x10 audit caught until_stable burning a 64-round cap on
    # exactly that. cur == prev is convergence; cur == prev2 is the
    # 2-cycle, equally stable as a stopping state (the fixed-round
    # determinism argument applies: we stop at the first detected
    # recurrence, which is itself deterministic).
    if until_stable:
        labels, m = cut_lineage_observed(labels, [_ck], checkpoint_dir)
        prev_sum = m["s"]
    else:
        prev_sum = None
    prev2_sum = None
    rounds_run = 1
    for _ in range(rounds - 1):
        nbr = sym.join(
            labels.select(F.col("v").alias("__nv"), "lbl"),
            F.col("v") == F.col("__nv"),
        )
        cnt = nbr.groupBy("u", "lbl").agg(F.count("*").alias("c"))
        nxt = (
            cnt.groupBy("u")
            .agg(
                F.min_by(
                    "lbl", F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("lbl")
            )
            .select(F.col("u").alias("v"), "lbl")
        )
        rounds_run += 1
        if until_stable:
            labels, m = cut_lineage_observed(nxt, [_ck], checkpoint_dir)
            cur_sum = m["s"]
            if cur_sum == prev_sum or cur_sum == prev2_sum:
                break
            prev2_sum, prev_sum = prev_sum, cur_sum
        else:
            # fixed-round replay: NO per-round cut. Each round references
            # the previous labels exactly once and ``sym`` (a checkpointed
            # leaf) once, so the un-cut plan grows LINEARLY with rounds —
            # and planning the whole recurrence as one query lets
            # ReusedExchange collapse the per-round ``sym`` shuffles to
            # one and drops the per-round query-execution boundaries
            # (r10: 16 jobs → one AQE chain). The convergence arm keeps
            # its per-round cut: the Observation probe needs a
            # materialization to ride on. (kcore_peel keeps cuts in BOTH
            # arms — its rounds reference the previous relation three
            # times, so an un-cut plan grows 3^rounds.)
            labels = nxt
    if stats is not None:
        stats["rounds_run"] = rounds_run
    # label rides in its NATIVE type — vertex ids may be strings
    # (docket numbers); numeric casts here would crash under ANSI,
    # the same footgun the components checksum fix removed
    return labels.select(
        F.col("v").alias("vertex"), F.col("lbl").alias("community")
    )
