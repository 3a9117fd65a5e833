"""etl_pipeline: the reference's batch transcript pipeline.

The reference runs it as a scheduled batch job, each run a fresh
application, so one operation here is the first
``run_pipeline(spark, corpus_dir, out_dir)`` of a fresh session over a
seeded Oyez-shaped corpus, every sink on: what a user waits for after
the session is up. Set-up is the session start. Checked: the
verification gates equal a pure-Python flatten of the generated corpus,
every data test reports 0 violations and the quarantine holds exactly
the planted malformed files, one of each kind. The run and each of
these checks count as one operation in ``failed_ratio``.

A traced run traces that first run for the per-layer figures, then runs
the pipeline twice more, untraced and traced, for the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import oracles
from tracing import tree_cpu_s
from workloads import Measured
from workloads.common import du, stage_totals, wrap

N_CASES = 60


def _one_run(ctx, corpus_dir: str, expect: dict, i: int, collect: bool) -> tuple[float, dict]:
    from scotustician_spark.pipeline import run_pipeline

    out = ctx.path(f"out-{i}")
    mark = ctx.jobs.begin()
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    failed = None
    res = None
    try:
        with ctx.tracer.span("pipeline.run_pipeline", request=i):
            res = run_pipeline(ctx.spark, corpus_dir, out, collect_metrics=collect)
    except Exception as exc:  # a failed run is counted, not fatal
        failed = f"run_pipeline: {type(exc).__name__}"
        ctx.log(f"run_pipeline failed: {exc!r}"[:500])
    wall = time.perf_counter() - t0
    info = {"wall": wall, "cpu": tree_cpu_s() - c0}
    info["jobs"], info["tasks"] = ctx.jobs.end(mark)
    ctx.op(failed)
    if res is not None:
        # each check is one operation, so a single failed check moves
        # failed_ratio as much as a failed run does
        got = {
            "valid": res.gates.get("valid_documents"),
            "utterances": res.gates.get("utterances"),
            "chunks": res.gates.get("chunks"),
            "embeddings": res.gates.get("embeddings"),
        }
        want = dict(expect, embeddings=expect["chunks"])
        for k in got:
            ok = got[k] == want[k]
            if not ok:
                ctx.log(f"gate {k}: {got[k]} != {want[k]}")
            ctx.op(None if ok else f"gate_{k}")
        for k, v in res.data_test_violations.items():
            if v:
                ctx.log(f"data test {k}: {v} violations")
            ctx.op(f"data_test_{k}" if v else None)
        junk = ctx.spark.read.json(os.path.join(out, "junk")).count()
        if junk != expect["junk"]:
            ctx.log(f"quarantined {junk} files, planted {expect['junk']}")
        ctx.op(None if junk == expect["junk"] else "quarantine")
        info["gates"] = got
        info["junk"] = junk
        info["out_bytes"] = du(out)
        if res.stage_metrics is not None:
            info["stages"] = stage_totals(res.stage_metrics.collect())
    ctx.spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    return wall, info


def run(ctx) -> Measured:
    import scotustician_spark.pipeline as pipeline_mod

    entries = gen.corpus(ctx.seed, N_CASES)
    corpus_dir = ctx.path("corpus")
    in_bytes = gen.write_corpus(entries, corpus_dir)
    expect = oracles.corpus_counts(entries)

    setup_s = ctx.start_session()
    layers = {"session.start_s": setup_s}
    if not ctx.trace:
        wall, r = _one_run(ctx, corpus_dir, expect, 0, collect=False)
        return Measured(setup_s=setup_s, op_s=[wall], items=expect["valid"], busy_s=wall,
                        cpu_s=r["cpu"], op_name="cold pipeline run", layers=layers)

    sinks = wrap(ctx, pipeline_mod, {
        "write_partitioned": "sources.sink_write",
        "write_xml": "sources.sink_write",
        "write_quarantine": "sources.sink_write",
    })
    ctx.tracer.enabled = True
    wall, r = _one_run(ctx, corpus_dir, expect, 0, collect=True)
    ctx.tracer.enabled = False
    layers.update(_layers(ctx, r, expect, in_bytes))
    # tracing cost, from a warm untraced run and a warm traced run
    untraced, _ = _one_run(ctx, corpus_dir, expect, 1, collect=False)
    ctx.tracer.enabled = True
    traced, _ = _one_run(ctx, corpus_dir, expect, 2, collect=True)
    ctx.tracer.enabled = False
    sinks.restore()
    layers["trace.overhead_s"] = traced - untraced
    return Measured(setup_s=setup_s, op_s=[wall], items=expect["valid"], busy_s=wall,
                    cpu_s=r["cpu"], op_name="cold pipeline run", layers=layers)


def _layers(ctx, r: dict, expect: dict, in_bytes: int) -> dict:
    """Per-layer metrics of one traced run."""
    st = r.get("stages", {})

    def stage(name: str, key: str = "wall_s") -> float:
        return st.get(name, {}).get(key, 0.0)

    staged = ("ingest", "flatten", "chunk", "embed", "sink_utterances")
    embed_s = stage("embed")
    gates = r.get("gates", {})
    return {
        "session.jobs_per_op": r["jobs"],
        "session.tasks_per_op": r["tasks"],
        "documents.ingest_stage_s": stage("ingest"),
        "documents.flatten_stage_s": stage("flatten"),
        "documents.chunk_stage_s": stage("chunk"),
        "documents.utterances_per_doc":
            gates.get("utterances", 0) / max(1, gates.get("valid") or 0),
        "documents.junk_ratio": r.get("junk", 0) / expect["files"],
        "ml.embed_stage_s": embed_s,
        "ml.embed_rows_per_s": (gates.get("embeddings") or 0) / embed_s if embed_s else 0.0,
        "pipeline.sink_stage_s": stage("sink_utterances"),
        "pipeline.unstaged_s": r["wall"] - sum(stage(s) for s in staged),
        "pipeline.shuffle_bytes": sum(stage(s, "shuffle_bytes") for s in staged),
        "pipeline.task_time_ms": sum(stage(s, "task_time_ms") for s in staged),
        "sources.files_read_bytes": sum(stage(s, "files_read_bytes") for s in staged),
        "sources.scan_time_ms": sum(stage(s, "scan_time_ms") for s in staged),
        "sources.sink_write_s": ctx.tracer.total("sources.sink_write"),
        "sources.bytes_written_per_input_byte": r.get("out_bytes", 0) / in_bytes,
    }
