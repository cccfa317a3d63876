"""Stream-stream joins: event-time interval join with watermark-bounded
state.

:func:`~.rolling.streaming_enrich` covers the stream-STATIC case (each
micro-batch broadcast-joins a dimension; zero stream state). The
stream-STREAM case — correlate two live feeds, e.g. every event with
the orders the same user placed in the preceding hour — needs buffered
state on both sides, and Spark only bounds that state when the join
condition ties the two EVENT TIMES together and both inputs are
watermarked: the range condition tells the engine how long a buffered
row can still find a partner, the watermarks tell it when that horizon
has passed, and state is evicted at (watermark − bound). Without both,
a stream-stream join is an unbounded-memory trap.

Batch twin: the SAME join condition on static frames is an ordinary
range-predicate equi-join (the batch tier's
``operators.timeseries.point_in_interval_join`` family) — the parity
test replays both feeds and compares exactly.

**Scale.** One shuffle per side on the equi-key (co-partitioned join),
state bounded by (arrival rate × (watermark + interval width)) per
side; outer results emit only once the watermark proves no partner can
arrive, so late-side completeness is traded against state horizon
exactly as in windowed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident

__all__ = ["interval_join"]


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` and ``right`` on ``on`` where ``right_ts`` lies in
    ``[left_ts - lower, left_ts + upper]`` (bounds as SQL interval
    strings, e.g. ``"15 minutes"``).

    Works identically on batch and streaming inputs; on streams both
    sides are watermarked and the two-sided time-range condition is
    exactly what lets Spark evict join state (inner joins require it in
    practice, outer joins by contract). Column names are disambiguated
    by requiring them disjoint apart from the join key and timestamps —
    ambiguous extra columns raise rather than silently resolving.

    ``how`` is restricted to ``inner`` / ``left_outer``: the output
    keeps the LEFT key column, which is only lossless when every output
    row has a left side. For the right-outer shape, swap the sides (and
    mirror the bounds: right_ts ∈ [left_ts − lower, left_ts + upper] ⟺
    left_ts ∈ [right_ts − upper, right_ts + lower]).
    """
    if how not in ("inner", "left_outer", "left", "leftouter"):
        raise ValueError(
            f"interval_join: how={how!r} unsupported — the left key is the "
            "output key; swap sides for the right-outer shape"
        )
    shared = (set(left.columns) & set(right.columns)) - {on}
    # same-named timestamps are fine (renamed below); anything else is not
    if shared - {left_ts, right_ts}:
        raise ValueError(
            f"interval_join: ambiguous shared columns {sorted(shared - {left_ts, right_ts})}; "
            "rename them on one side first"
        )
    lts, rts = f"__l_{left_ts}", f"__r_{right_ts}"
    l = left.withColumnRenamed(left_ts, lts)
    r = right.withColumnRenamed(right_ts, rts)
    if left.isStreaming:
        l = l.withWatermark(ident(lts), watermark)
    if right.isStreaming:
        r = r.withWatermark(ident(rts), watermark)
    cond = (
        (l[on] == r[on])
        & (F.col(rts) >= F.col(lts) - F.expr(f"INTERVAL {lower}"))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {upper}"))
    )
    return (
        l.join(r, cond, how)
        .drop(r[on])
        .withColumnRenamed(lts, left_ts)
        .withColumnRenamed(rts, f"right_{right_ts}")
    )
