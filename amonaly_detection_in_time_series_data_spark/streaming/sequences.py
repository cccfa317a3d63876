"""Stateful streaming sequence assembly (SURVEY.md §2.6 F5, online).

The batch operator ``operators.sequences.create_sequences`` emits every
overlapping length-L window of the feature series (stride 1). The
streaming variant reproduces that incrementally: per-key state holds the
last L-1 values; each arriving row appends and, once the buffer reaches
L, emits the completed sequence tagged with its start timestamp —
exactly the batch output when the stream is replayed in order.

State is bounded (L values + timestamps per key), so this scales to any
key cardinality; it runs on the shared keyed-state runner
(``streaming.rolling._keyed_fold``), which also expires idle keys.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from .rolling import _keyed_fold


def _sequences_fold(state, rows, *, seq_len):
    vals, tss = list(state[0]), list(state[1])
    out = []
    for ts, v in rows:
        vals.append(float(v) if v is not None else None)
        tss.append(ts)
        if len(vals) >= seq_len:
            vals = vals[-seq_len:]
            tss = tss[-seq_len:]
            out.append((tss[0], tss[-1], list(vals)))
    # Keep the last L-1 rows; for L=1 keep NOTHING — vals[-0:] is the
    # whole list, which would grow per-key state without bound.
    keep = seq_len - 1 if seq_len > 1 else 0
    return (vals[-keep:] if keep else [], tss[-keep:] if keep else []), out


def streaming_sequences(
    events: DataFrame,
    value_col: str = "value",
    seq_len: int = 24,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Per-user overlapping length-``seq_len`` sequences, assembled online.

    Output: one row per completed sequence — (user_id, start_ts, end_ts,
    seq array<double>) — matching the batch ``create_sequences`` rows
    whose window is full. A NULL value keeps its step as a null element,
    as the batch sequence array does.
    """
    return _keyed_fold(
        events,
        partial(_sequences_fold, seq_len=seq_len),
        cols=("ts", value_col),
        init=([], []),
        out_schema=(
            "user_id bigint, start_ts timestamp, end_ts timestamp, "
            "seq array<double>"
        ),
        timeout_minutes=timeout_minutes,
    )
