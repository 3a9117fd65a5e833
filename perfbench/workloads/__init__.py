"""The workloads. Each module's ``run(ctx)`` sets up, measures and checks
outputs, returning a ``Measured``; this module turns that into the run's
result line."""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field

from context import Context, load_spec
from tracing import median, peak_rss_mb, tail


@dataclass
class Measured:
    setup_s: float
    op_s: list[float]        # latency of every measured operation
    items: float             # input items those operations processed
    busy_s: float            # time spent in those operations
    cpu_s: float             # CPU seconds the process tree used meanwhile
    op_name: str             # what one operation is, for the log line
    layers: dict = field(default_factory=dict)   # per-layer metrics (traced)


def run_workload(ctx: Context) -> dict:
    spec = load_spec()
    mod = importlib.import_module(f"workloads.{ctx.workload}")
    m: Measured = mod.run(ctx)
    rss = peak_rss_mb()
    if not m.op_s:
        raise RuntimeError(f"{ctx.workload}: no operation completed")
    failed = sum(ctx.failures.values())
    p50 = median(m.op_s)
    tail_v, tail_p, n = tail(m.op_s)
    ctx.log(
        f"{ctx.workload}: {n} x {m.op_name}, p50 {p50:.4f}s, tail p{tail_p:.0f} "
        f"{tail_v:.4f}s, {m.items / m.busy_s:.2f} items/s, {m.cpu_s / n:.3f} cpu s/op, "
        f"setup {m.setup_s:.2f}s, "
        f"attempted {ctx.attempted}, failed {failed} {ctx.failures or ''}"
    )
    if ctx.trace:
        values = dict(m.layers)
        values["session.peak_rss_mb"] = rss
        ctx.log("per-layer: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(values.items())))
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": m.setup_s,
            # add-one estimate: never 0, and one failure at least doubles it
            "failed_ratio": (failed + 1) / (ctx.attempted + 1),
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "cpu_s_per_op": m.cpu_s / len(m.op_s),
            "throughput_per_s": m.items / m.busy_s,
        }
        wanted = spec["end_to_end"]
    metrics = {}
    for w in wanted:
        if w["name"] not in values and not ctx.trace:
            raise KeyError(f"end-to-end metric {w['name']} was not measured")
        # a layer this workload does not exercise reads 0
        metrics[w["name"]] = {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]}
    return {
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": metrics,
    }
