"""Stream-stream and stream-static joins with bounded state.

Beyond-reference streaming depth (the reference's only join-like
incremental behavior is the processed-keys anti-join probe,
processors.py:86-116). Two Spark-native patterns:

- ``stream_interval_join`` — watermarked stream-stream inner join on a
  key plus an event-time interval. Both sides buffer rows in state
  only until the watermark proves no more matches can arrive, so state
  is bounded by (rate × watermark), not by stream length — the
  streaming twin of ``operators/temporal.py::range_join_binned``
  (whose batch semantics the driver gate verifies).
- ``stream_static_enrich`` — stream joined to a slowly-changing
  batch dimension. The static side is re-read per micro-batch, so a
  dimension refresh lands without restarting the query; broadcast
  keeps the stream side shuffle-free when the dimension is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "rts",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join of two streams: key equality plus
    ``left_ts + lower <= right_ts <= left_ts + upper``.

    Watermarks on BOTH sides are what make the state bounded: a
    buffered left row is evicted once the right watermark passes
    ``left_ts + upper`` (symmetrically for right rows) — without them
    Spark must keep every row forever. The time-range predicate must
    be part of the join condition (not a post-filter) for the state
    manager to see the bound.

    ``how="leftOuter"``: unmatched left rows are emitted with NULL
    right columns — but only once the watermark PROVES no match can
    still arrive (the row's eviction moment), so null emission is
    delayed by up to the watermark and happens in a LATER micro-batch
    than the row's arrival. Outer stream-stream joins require the
    watermark + interval bound (Spark rejects them otherwise) — state
    stays bounded exactly as in the inner case.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
) -> DataFrame:
    """Left join of a stream against a static dimension (re-evaluated
    every micro-batch). The dimension is broadcast: a small dimension
    must never force the stream through a shuffle."""
    return stream.join(F.broadcast(dim), on, "left")
