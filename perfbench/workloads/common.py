"""Helpers shared by the workloads: wrapping program calls in spans,
and rolling up ``StageMetricsCollector`` rows."""

from __future__ import annotations

import functools
import os


class _Wrapped:
    def __init__(self, module, originals: dict):
        self._module = module
        self._originals = originals

    def restore(self) -> None:
        for name, fn in self._originals.items():
            setattr(self._module, name, fn)


def wrap(ctx, module, names: dict[str, str]) -> _Wrapped:
    """In a traced run, replace ``module.<attr>`` with a wrapper that
    records span ``names[attr]`` around every call. The program itself
    is not changed; ``restore()`` puts the originals back."""
    originals = {}
    if ctx.trace:
        for attr, span in names.items():
            fn = getattr(module, attr)
            originals[attr] = fn

            @functools.wraps(fn)
            def traced(*a, __fn=fn, __span=span, **kw):
                with ctx.tracer.span(__span):
                    return __fn(*a, **kw)

            setattr(module, attr, traced)
    return _Wrapped(module, originals)


def stage_totals(rows) -> dict[str, dict[str, float]]:
    """Sum ``StageMetricsCollector`` rows per stage."""
    out: dict[str, dict[str, float]] = {}
    for r in rows:
        s = out.setdefault(r["stage"], {
            "wall_s": 0.0, "shuffle_bytes": 0.0, "task_time_ms": 0.0,
            "files_read_bytes": 0.0, "scan_time_ms": 0.0,
        })
        s["wall_s"] += (r["wall_ms"] or 0) / 1000.0
        s["shuffle_bytes"] += r["shuffle_bytes_written"] or 0
        s["task_time_ms"] += r["pipeline_time_ms"] or 0
        s["files_read_bytes"] += r["files_read_bytes"] or 0
        s["scan_time_ms"] += r["scan_time_ms"] or 0
    return out


def du(path: str) -> int:
    """Bytes in regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total
