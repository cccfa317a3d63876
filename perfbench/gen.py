"""Seeded input generator: events-schema parquet for every workload.

The events schema is the package's: ``event_id bigint, ts timestamp,
user_id bigint, event_type string, value double, props string``. Each
generator is a pure function of ``(seed, sizes)``: the same seed gives the
same rows, so :func:`digest` (over the row content, not the file bytes) is
the same too. ``properties`` measures what was written, so the artifact
shows the input a run actually saw rather than the intended mix.

- :func:`pipeline_events`: hourly series on an exact hour grid with 1/7
  null values, 1/5 duplicate timestamps (same key and ``ts``, another
  ``event_id``) and ~0.5% spikes. Rows are written in arrival order
  (``event_id``), which is what ``dedup_keep_positional`` keys on.
- :func:`detector_events`: daily-seasonal (period 24) series over 30 days
  with jittered timestamps inside each hour, dropped hours (gaps) and
  spikes, for the resample grid and the per-series kernels.
- :func:`stream_files`: one file per hour of event time, every series
  present once per file, so rows are in event-time order per key across
  files and no row is ever behind the watermark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = np.datetime64("2024-01-01T00:00:00", "us")
HOUR_US = 3_600_000_000
GAP_SHARE = 0.03  # dropped hours in the detector series
EVENT_TYPES = np.array(["view", "click", "purchase", "error"])
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per workload: adding a workload never
    # shifts another workload's inputs for the same seed
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _series(rng, n_series: int, n_steps: int) -> np.ndarray:
    """(n_series, n_steps) values: level + daily wave + noise (rounded to
    the 0.01 grid by :func:`_spike`, so the package's exact-decimal
    conventions hold)."""
    level = rng.uniform(20, 80, (n_series, 1))
    amp = rng.uniform(2, 10, (n_series, 1))
    phase = rng.uniform(0, 2 * np.pi, (n_series, 1))
    h = np.arange(n_steps)[None, :]
    noise = rng.normal(0, 1.5, (n_series, n_steps))
    return level + amp * np.sin(2 * np.pi * h / 24 + phase) + noise


def _spike(rng, y: np.ndarray, share: float) -> np.ndarray:
    hit = rng.random(y.shape) < share
    y = y + hit * rng.choice([-1.0, 1.0], y.shape) * rng.uniform(15, 25, y.shape)
    return np.round(y, 2)


def _frame(event_id, ts_us, user_id, value, rng) -> pd.DataFrame:
    n = len(event_id)
    return pd.DataFrame(
        {
            "event_id": np.asarray(event_id, dtype=np.int64),
            "ts": np.asarray(ts_us, dtype=np.int64).astype("datetime64[us]"),
            "user_id": np.asarray(user_id, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 4, n)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def pipeline_events(seed: int, n_series: int, n_hours: int) -> pd.DataFrame:
    rng = _rng(seed, "pipeline")
    y = _spike(rng, _series(rng, n_series, n_hours), 0.005)
    user = np.repeat(np.arange(n_series), n_hours)
    ts = np.tile(T0.astype(np.int64) + np.arange(n_hours) * HOUR_US, n_series)
    y = y.ravel()
    # duplicates: a copy of a random base row (same key and ts) with a
    # perturbed value; 1/5 of all rows are such copies
    n_dup = len(y) // 4
    src = rng.choice(len(y), n_dup, replace=False)
    user = np.concatenate([user, user[src]])
    ts = np.concatenate([ts, ts[src]])
    y = np.concatenate([y, np.round(y[src] + rng.normal(0, 1, n_dup), 2)])
    y[rng.random(len(y)) < 1 / 7] = np.nan
    # arrival order is a seeded shuffle, so a duplicate is as likely to
    # arrive before its base row as after it
    event_id = rng.permutation(len(y))
    order = np.argsort(event_id)
    return _frame(event_id[order], ts[order], user[order], y[order], rng)


def detector_events(seed: int, n_series: int, n_days: int) -> pd.DataFrame:
    rng = _rng(seed, "detectors")
    n_hours = 24 * n_days
    y = _spike(rng, _series(rng, n_series, n_hours), 0.005).ravel()
    user = np.repeat(np.arange(n_series), n_hours)
    hour = np.tile(np.arange(n_hours), n_series)
    # gaps: drop whole hours (never a series' first or last hour, so
    # every series keeps its full grid span)
    keep = (rng.random(len(y)) >= GAP_SHARE) | (hour == 0) | (hour == n_hours - 1)
    user, hour, y = user[keep], hour[keep], y[keep]
    jitter = rng.integers(0, HOUR_US, len(y))
    ts = T0.astype(np.int64) + hour * HOUR_US + jitter
    return _frame(np.arange(len(y)), ts, user, y, rng)


def stream_files(seed: int, n_series: int, n_files: int) -> list[pd.DataFrame]:
    """``n_files`` frames, file ``i`` holding hour ``i`` of every series."""
    rng = _rng(seed, "stream")
    y = _spike(rng, _series(rng, n_series, n_files), 0.005)
    base = T0.astype(np.int64)
    out = []
    for i in range(n_files):
        ts = base + i * HOUR_US + rng.integers(0, HOUR_US, n_series)
        ids = i * n_series + np.arange(n_series)
        out.append(_frame(ids, ts, np.arange(n_series), y[:, i], rng))
    return out


def write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)
    pq.write_table(table, path)


def digest(frames) -> str:
    """Content digest of one frame or a list of frames (row order kept)."""
    h = hashlib.sha256()
    for df in frames if isinstance(frames, list) else [frames]:
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def properties(df: pd.DataFrame, n_files: int = 1) -> dict:
    """Measured properties of an events frame."""
    n = len(df)
    dup = df.duplicated(["user_id", "ts"]).sum()
    v = df["value"]
    # spike = more than 12 units off the series' hour-of-day median (the
    # generated noise has sd 1.5 and spikes are 15-25 units)
    by = [df["user_id"], df["ts"].dt.hour]
    spikes = ((v - v.groupby(by).transform("median")).abs() > 12).sum()
    hours = df["ts"].dt.floor("h")
    span = hours.groupby(df["user_id"]).agg(["min", "max"])
    grid_rows = int(((span["max"] - span["min"]) // pd.Timedelta(hours=1) + 1).sum())
    return {
        "rows": n,
        "series": int(df["user_id"].nunique()),
        "null_share": round(float(v.isna().mean()), 4),
        "duplicate_share": round(float(dup / n), 4),
        "spike_share": round(float(spikes / n), 4),
        "grid_rows": grid_rows,
        "files": n_files,
    }
