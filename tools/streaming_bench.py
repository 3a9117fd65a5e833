"""Streaming-sink throughput measurement (VERDICT r6 ask #8).

The stateful sinks in ``streaming/incremental.py`` are
correctness-proven (replay/exactly-once tests) but were never BENCHED:
this drives each mergeable-state sink through 10 AvailableNow
micro-batches over a GROWING persisted state and records per-batch
wall + rows/s, so the per-family state-merge cost claims become
measurements:

- quantile  — state is |groups| × n_bins, FLAT in history → per-batch
  wall must stay flat as batches accumulate.
- top-k     — state is |queries| × k, FLAT in history → flat wall.
- word-freq — state is the vocabulary (grows sub-linearly, bounded by
  distinct words) → near-flat wall.
- components (the dedup-resolution graph) — state is one row per seen
  VERTEX, so it grows linearly with streamed edges; per-batch cost is
  |state| + |batch| by design (the contraction merge), i.e. a gentle
  linear ramp is the DESIGNED shape, not a defect.

Batches come from the x10 synthetic tier (1M events / 20k vectors /
50k documents — build via tools/scaling_audit.py first) so batch
sizes are big enough to see past the ~0.3 s scheduler floor.

Output: a ``## Streaming-sink throughput`` section cached at
spark-warehouse/streaming_section.md (scaling_audit.py folds it into
SCALING.md on its next run) and appended to SCALING.md in place.

Run on a QUIET host; every number is a single pass (streaming drains
are stateful — min-of-N would need state resets between reps).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = 10

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIER = os.path.join(REPO, "spark-warehouse", "sfx10_synth")
SECTION_CACHE = os.path.join(REPO, "spark-warehouse", "streaming_section.md")


def _drive(spark, work: str, batches, run_batch) -> list[tuple[int, float]]:
    """Write batch k's rows as parquet into the source dir, then drain
    the sink (AvailableNow + shared checkpoint → each drain processes
    exactly the new files). Returns [(rows, wall_s), ...]."""
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    out = []
    for k, batch_df in enumerate(batches):
        batch_df.coalesce(4).write.mode("append").parquet(src)
        n = batch_df.count()
        t0 = time.time()
        run_batch(src)
        out.append((n, round(time.time() - t0, 3)))
        print(f"  batch {k}: {n} rows in {out[-1][1]:.3f}s", flush=True)
    return out


def bench_quantile(spark, work: str) -> list[tuple[int, float]]:
    from pyspark.sql import functions as F

    from scotustician_spark.streaming.incremental import (
        run_quantile_state_update,
    )

    ev = spark.read.parquet(f"{TIER}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    batches = [
        ev.filter(F.col("event_id") % N_BATCHES == k) for k in range(N_BATCHES)
    ]
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")

    def run(src: str) -> None:
        stream = spark.readStream.schema(
            "event_id long, event_type string, value double"
        ).parquet(src)
        run_quantile_state_update(
            stream, state, ckpt, ["event_type"], "value", lo=0.0, hi=1000.0
        )

    return _drive(spark, work, batches, run)


def bench_topk(spark, work: str) -> list[tuple[int, float]]:
    from pyspark.sql import functions as F

    from scotustician_spark.streaming.incremental import run_topk_state_update

    emb = spark.read.parquet(f"{TIER}/embeddings.parquet")
    queries = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .filter(F.col("vec_id") < 20)
        .select("vec_id", "embedding")  # sink's score stage aliases
        .localCheckpoint(eager=True)
    )
    batches = [
        emb.filter(F.col("vec_id") % N_BATCHES == k) for k in range(N_BATCHES)
    ]
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")

    def run(src: str) -> None:
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        ).parquet(src)
        run_topk_state_update(stream, queries, state, ckpt, k=5)

    return _drive(spark, work, batches, run)


def bench_components(spark, work: str) -> list[tuple[int, float]]:
    """50k synthetic edges per batch: chains that STITCH across batch
    boundaries (edge (i, i+1) for a growing id range), so every batch
    both extends old components and adds new vertices — the worst
    honest shape for the contraction merge."""
    from scotustician_spark.streaming.incremental import (
        run_components_state_update,
    )

    per = 50_000
    batches = [
        spark.range(k * per, (k + 1) * per).selectExpr(
            "id AS id_a", "id + 1 AS id_b"
        )
        for k in range(N_BATCHES)
    ]
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")

    def run(src: str) -> None:
        stream = spark.readStream.schema("id_a long, id_b long").parquet(src)
        run_components_state_update(stream, state, ckpt)

    return _drive(spark, work, batches, run)


def bench_word_freq(spark, work: str) -> list[tuple[int, float]]:
    from pyspark.sql import functions as F

    from scotustician_spark.streaming.incremental import (
        run_word_freq_state_update,
    )

    docs = spark.read.parquet(f"{TIER}/documents.parquet").select(
        "doc_id", "text"
    )
    batches = [
        docs.filter(F.col("doc_id") % N_BATCHES == k) for k in range(N_BATCHES)
    ]
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")

    def run(src: str) -> None:
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        run_word_freq_state_update(stream, state, ckpt, "text")

    return _drive(spark, work, batches, run)


def main() -> None:
    from scotustician_spark.session import get_spark

    if not os.path.exists(f"{TIER}/embeddings.parquet/_SUCCESS"):
        sys.exit("x10 tier missing — run tools/scaling_audit.py first")
    spark = get_spark("streaming-bench")
    work_root = os.path.join(REPO, "spark-warehouse", "stream_bench")
    shutil.rmtree(work_root, ignore_errors=True)

    fams = [
        ("quantile (events, state = groups × 64 bins)", bench_quantile),
        ("top-k similarity (embeddings, state = 20q × 5)", bench_topk),
        ("components / dedup graph (state = seen vertices)", bench_components),
        ("word-freq / BPE stats (documents, state = vocab)", bench_word_freq),
    ]
    results = []
    for label, fn in fams:
        print(label, flush=True)
        work = os.path.join(work_root, fn.__name__)
        os.makedirs(work, exist_ok=True)
        results.append((label, fn(spark, work)))

    lines = [
        "",
        "## Streaming-sink throughput (10 AvailableNow batches, growing state)",
        "",
        "Per-batch wall for each mergeable-state sink as its persisted",
        "state accumulates (tools/streaming_bench.py; x10-tier inputs;",
        "single pass — stateful drains can't min-of-N). The flat-state",
        "families (quantile/top-k/word-freq: state size independent of",
        "history) must hold per-batch wall ~flat from batch 1 to 10;",
        "components' state is one row per seen vertex, so its designed",
        "cost is |state| + |batch| per merge — a gentle linear ramp.",
        "",
        "| sink | rows/batch | b1 | b4 | b7 | b10 | b10/b1 | rows/s (b10) |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for label, r in results:
        n10, w10 = r[9]
        ratio = w10 / r[0][1] if r[0][1] > 0 else float("nan")
        lines.append(
            f"| {label} | ~{r[0][0]:,} | {r[0][1]:.2f}s | {r[3][1]:.2f}s "
            f"| {r[6][1]:.2f}s | {w10:.2f}s | {ratio:.2f}x "
            f"| {int(n10 / w10) if w10 else 0:,} |"
        )
    section = "\n".join(lines) + "\n"
    with open(SECTION_CACHE, "w") as f:
        f.write(section)

    scaling = os.path.join(REPO, "SCALING.md")
    marker = "## Streaming-sink throughput"
    if os.path.exists(scaling):
        cur = open(scaling).read()
        if marker in cur:  # replace the stale section in place
            cur = cur[: cur.index(marker)].rstrip() + "\n"
        with open(scaling, "w") as f:
            f.write(cur + section)
    print(f"wrote {SECTION_CACHE} and appended to SCALING.md")


if __name__ == "__main__":
    main()
