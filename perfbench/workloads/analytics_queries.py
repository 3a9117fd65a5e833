"""analytics_queries: the SQL/DataFrame analytics surface of the query
registry, closed loop with one client.

Each pass runs every query of ``MIX`` once, in an order shuffled by the
seed, and materialises it with the ``noop`` sink. A run measures one
pass per ``PASS_S`` seconds of ``--seconds``, after two untimed warm-up
passes: the first collects each query and checks its row count, columns
and ``tools/check_correctness.value_hash`` against the query's DuckDB
oracle over the same files; the second runs the measured action. The
tables are a fixed sf0.1-shaped star schema made by
``gen.star_schema`` and kept under ``.perfbench/data``; the benchmark
reads nothing outside its checkout.

``MIX`` is a fixed cross-section of the 72 ``bench=True`` queries, one
from each of seven registry modules, covering the operators layer
(``lsh_ann_topk``) and the streaming layer's windowed aggregation
(``event_tumbling_agg``): mostly sub-second queries whose cost is
driver-side planning and job launch, plus the shuffle-heavy
``integrity_audit``. The whole 72-query set takes about 50 s warm and
150 s cold per pass on a 4-CPU host, far more than one benchmark run
may take.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import random
import shutil
import sys
import time

import gen
import oracles
from tracing import mean, tree_cpu_s
from workloads import Measured
from workloads.common import stage_totals, wrap

MIX = (
    "star_join_revenue",      # relational: broadcast star join + aggregate
    "window_ranks",           # analytics_q: window functions
    "event_tumbling_agg",     # events_windows: streaming.windows tumbling aggregate
    "dedup_exact_groups",     # vectors_text: exact-duplicate groups
    "lsh_ann_topk",           # multimodal_ann: LSH top-k from operators.similarity
    "integrity_audit",        # audit_q: shuffle-heavy referential audit
    "embed_documents",        # embedding_q: document embedding
)
DATA_SEED = 20_240_101  # the star schema is fixed; the run seed orders queries
PASS_S = 1.25  # nominal seconds of one warm pass on 4 CPUs


def _tables(state: str) -> str:
    """Generate the star schema once per generator version."""
    with open(gen.__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(state, "data", f"sf0.1-{tag}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.star_schema(tmp, DATA_SEED)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


# layers whose functions the registry queries call while building a plan
CALLED_LAYERS = ("operators", "streaming")


def _wrap_layers(ctx) -> list:
    """Span every call into an ``operators`` or ``streaming`` function as
    ``<layer>.call``, whether the caller reaches it through the layer's
    module or through a name imported into a plans module."""
    prefixes = tuple(f"scotustician_spark.{layer}." for layer in CALLED_LAYERS)
    out = []
    for key, mod in list(sys.modules.items()):
        if not key.startswith(("scotustician_spark.plans.",) + prefixes):
            continue
        names = {
            a: f"{v.__module__.split('.')[1]}.call" for a, v in vars(mod).items()
            if inspect.isfunction(v) and not a.startswith("__")
            and v.__module__.startswith(prefixes)
        }
        out.append(wrap(ctx, mod, names))
    return out


def _check(ctx, query, sf_dir: str, want: dict) -> None:
    """Collect one query and compare it with its oracle fingerprint."""
    from tools.check_correctness import value_hash

    try:
        df = query.fn(ctx.spark, sf_dir)
        rows = df.collect()
        cols = df.columns
        got = {"rows": len(rows), "cols": sorted(cols),
               "hash": value_hash(cols, [[r[c] for c in cols] for r in rows])}
        ok = got == {k: want[k] for k in got}
        if not ok:
            ctx.log(f"{query.name}: spark {got} != oracle {want}")
    except Exception as exc:  # counted as a failed op
        ok = False
        ctx.log(f"{query.name} failed: {exc!r}"[:500])
    ctx.op(None if ok else f"query_{query.name}")


def run(ctx) -> Measured:
    from scotustician_spark.plans import QUERY_REGISTRY
    from scotustician_spark.plans import tables as tables_mod

    sf_dir = _tables(ctx.state)
    expect = oracles.query_fingerprints(
        sf_dir, QUERY_REGISTRY, list(MIX), os.path.join(sf_dir, "fingerprints.json"))
    rng = random.Random(ctx.seed)
    order = list(MIX)

    t0 = time.perf_counter()
    session_s = ctx.start_session()
    spark = ctx.spark
    rng.shuffle(order)
    for name in order:  # first warm-up pass: collect and check every query
        _check(ctx, QUERY_REGISTRY[name], sf_dir, expect[name])
    for name in order:  # second warm-up pass: the measured action, untimed
        QUERY_REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    setup_s = time.perf_counter() - t0

    modules = [m for k, m in sys.modules.items()
               if k.startswith("scotustician_spark.plans.")
               and getattr(m, "load_table", None) is tables_mod.load_table]
    loads = [wrap(ctx, m, {"load_table": "sources.load"}) for m in modules]
    loads += _wrap_layers(ctx)
    mc = None
    if ctx.trace:
        from scotustician_spark.metrics import StageMetricsCollector

        mc = StageMetricsCollector(spark)
    per_query: list[dict] = []

    def one_pass(traced: bool) -> tuple[list[float], float, float]:
        lat: list[float] = []
        c0 = tree_cpu_s()
        start = time.perf_counter()
        rng.shuffle(order)
        for name in order:
            q = QUERY_REGISTRY[name]
            mark = ctx.jobs.begin()
            t = time.perf_counter()
            failed = None
            exec_s = 0.0
            used: set[str] = set()
            n_ops = len(ctx.tracer.spans)
            try:
                with ctx.tracer.span("plans.build"):
                    df = q.fn(spark, sf_dir)
                used = {sp[0].split(".")[0] for sp in ctx.tracer.spans[n_ops:]
                        if sp[0].endswith(".call")}
                te = time.perf_counter()
                with ctx.tracer.span("plans.exec"):
                    if mc is not None and traced:
                        with mc.stage(name):
                            df.write.format("noop").mode("overwrite").save()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                exec_s = time.perf_counter() - te
            except Exception as exc:  # counted as a failed op
                failed = f"query_{name}"
                ctx.log(f"{name} failed: {exc!r}"[:500])
            lat.append(time.perf_counter() - t)
            jobs, tasks = ctx.jobs.end(mark)
            ctx.op(failed)
            if traced:
                per_query.append({"name": name, "jobs": jobs, "tasks": tasks,
                                  "exec_s": exec_s, "layers": used,
                                  "module": q.fn.__module__.rsplit(".", 1)[-1]})
        return lat, time.perf_counter() - start, tree_cpu_s() - c0

    # the work depends on --seconds only, never on how fast passes ran
    n_pass = max(1, round(ctx.seconds / PASS_S))
    passes = untraced = [one_pass(False) for _ in range(n_pass)]
    if ctx.trace:  # then the same passes traced, for the per-layer figures
        ctx.tracer.enabled = True
        passes = [one_pass(True) for _ in range(n_pass)]
        ctx.tracer.enabled = False
    op_s = [x for lat, _, _ in passes for x in lat]
    for w in loads:
        w.restore()

    layers = {"session.start_s": session_s}
    if ctx.trace:
        n = len(per_query)
        layers["trace.overhead_s"] = mean(op_s) - mean(
            [x for lat, _, _ in untraced for x in lat])
        stages = stage_totals(mc.rows())
        mc.close()
        layers.update({
            "session.jobs_per_op": sum(r["jobs"] for r in per_query) / n,
            "session.tasks_per_op": sum(r["tasks"] for r in per_query) / n,
            "sources.load_s": ctx.tracer.total("sources.load") / n,
            "sources.files_read_bytes": sum(s["files_read_bytes"] for s in stages.values()) / n,
            "sources.scan_time_ms": sum(s["scan_time_ms"] for s in stages.values()) / n,
            "plans.build_s": ctx.tracer.total("plans.build") / n,
            "plans.exec_s": sum(r["exec_s"] for r in per_query) / n,
            "plans.shuffle_bytes": sum(s["shuffle_bytes"] for s in stages.values()) / n,
            "plans.task_time_ms": sum(s["task_time_ms"] for s in stages.values()) / n,
        })
        for layer in CALLED_LAYERS:
            call = f"{layer}.call"
            top = [e - b for nm, b, e, parent, _ in ctx.tracer.spans
                   if nm == call and parent != call]
            calling = [r["exec_s"] for r in per_query if layer in r["layers"]]
            layers.update({
                f"{layer}.build_s": sum(top) / n,
                f"{layer}.exec_s": mean(calling),
                f"{layer}.query_share": len(calling) / n,
            })
        by_mod: dict[str, list[float]] = {}
        for r in per_query:
            by_mod.setdefault(r["module"], []).append(r["exec_s"])
        for mod, xs in by_mod.items():
            layers[f"plans.{mod}.exec_s"] = sum(xs) / len(xs)
    return Measured(
        setup_s=setup_s,
        op_s=op_s,
        items=len(op_s),
        busy_s=sum(wall for _, wall, _ in passes),
        cpu_s=sum(cpu for _, _, cpu in passes),
        op_name="query",
        layers=layers,
    )
