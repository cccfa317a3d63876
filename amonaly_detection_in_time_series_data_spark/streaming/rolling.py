"""Structured Streaming tier (SURVEY.md §2.11 — none in the reference;
the batch operators are naturally incremental per key, so the engine
exposes streaming variants).

Sources and native aggregates: :func:`replay_table_stream` /
:func:`replay_events_stream` replay a testdata table as a file stream
(the backfill/replay harness; in production the source would be
Kafka/files landing continuously); :func:`streaming_windowed_stats`,
:func:`sessionized_stats`, :func:`streaming_hist`,
:func:`streaming_dedup` and :func:`streaming_enrich` are plain
Structured Streaming operators with Spark-managed state.

Stateful twins: every ``streaming_*`` function whose batch operator is a
per-key recursion (z-score, Page-Hinkley, EWMA, Hampel, trend-OLS,
Kalman, episodes, ADWIN, GK quantiles, throttle, KMV, theta, Croston,
transitions, attribution, funnel, journey paths, SAX — and
``streaming.sequences.streaming_sequences``) runs on ONE runner,
:func:`_keyed_fold`. The runner owns all of the
``applyInPandasWithState`` plumbing, and a twin holds only its
parameter checks and a fold::

    fold(state, rows) -> (state, out_rows)

- ``state`` is the state the fold returned for the key in an earlier
  micro-batch, or the twin's ``init`` for a key with none;
- ``rows`` iterates once over the micro-batch's rows of the key, as
  plain tuples of the twin's input columns, in order, with SQL NULL as
  ``None`` — never ``NaN``;
- each out row holds the output columns AFTER the key columns, which
  the runner prepends.

A fold is a pure function of (state, rows), so folding any in-order
split of a series equals one pass (pinned for every fold by
``tests/test_streaming_folds.py``); the replay-parity tests in
``tests/slow/test_streaming.py`` pin each twin against its batch
operator.

The runner groups rows by a BUCKET of the key, ``pmod(xxhash64(keys),
B)`` with ``B`` = ``spark.sql.shuffle.partitions`` at plan build (the
stateful operator's partition count), so PySpark's per-group plumbing
runs once per bucket, not per key; rows with a NULL key go to bucket
``-1``, so the other buckets' integer keys reach pandas as int64. Each
bucket keeps one state row ``(buckets int, book binary)``, the book a
pickle (fixed protocol) of ``{key: (fold state, processing-time ms of
its last rows)}``: at most ``B + 1`` rows, a book rewritten whenever
any of its keys has rows. The handler sorts the bucket's rows once,
stably, on ``(*keys, *order)`` (a key spanning Arrow chunks still folds
in order; ties keep arrival order) and folds each key's run. No Spark
timeout is armed: a key whose last rows are older than
``timeout_minutes`` on the batch clock folds from ``init``, and expired
keys leave the book when their bucket runs (a bucket none of whose keys
returns keeps its book); ``None`` never expires. So no no-data batches
run, and an ``availableNow`` query stops once drained. Late rows: the
twins drop nothing at the watermark. ``_keyed_fold`` runs with
``NoTimeout``, and Spark removes rows behind the watermark only under
``EventTimeTimeout``, so rows behind the watermark fold in arrival order
with no signal; no late-row policy is defined yet. A checkpoint
holds pickles, so resume only from one you trust; resuming with another
``spark.sql.shuffle.partitions`` raises a ``ValueError`` naming both
counts, and a checkpoint of the earlier per-key runner cannot be
resumed.

Where the batch operator is itself a per-key recursion, the arithmetic
lives once, as a resumable kernel ``(state, values) -> (state,
outputs)`` in the batch operator's module, and the twin's fold is only
row plumbing around it: ``operators.kalman.kalman_kernel``,
``operators.timeseries.theta_kernel`` / ``croston_kernel``,
``operators.adwin.adwin_kernel`` and ``operators.anomaly.cooldown_kernel``
(the fixed-cooldown throttle). The batch faces run the same kernel from
its initial state, so batch == stream holds by construction (pinned
without Spark in ``tests/test_streaming_folds.py``). The folds import
their kernel lazily, so importing this module does not import the
operators.
"""

from __future__ import annotations

import math
import operator
import os
import pickle
import zlib
from collections.abc import Callable, Iterable, Sequence
from functools import partial, reduce
from itertools import groupby

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import ddl, ident


def _replay_dir(sf_dir: str, table: str) -> str:
    """The scratch directory that :func:`replay_table_stream` watches for
    ``table`` of ``sf_dir``: the same in every process (a CRC-32 of the
    path, not the per-interpreter salted ``hash``), so a query resumed
    from its checkpoint in a new process watches the files it read."""
    import tempfile

    digest = zlib.crc32(os.fsencode(sf_dir))
    return os.path.join(tempfile.gettempdir(), f"{table}_stream_{digest:08x}")


def replay_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay any testdata table as a bounded file stream.

    The file stream source requires a directory, so the single parquet
    file is symlinked into a scratch dir, named by :func:`_replay_dir`.
    No type fixing — callers that need the events ns-timestamp rule use
    :func:`replay_events_stream`.
    """
    src = os.path.join(sf_dir, f"{table}.parquet")
    stream_dir = _replay_dir(sf_dir, table)
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )


def replay_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay the events table as a bounded file stream.

    The testdata's ns-precision timestamp arrives as an int64 (legacy
    nanosAsLong) and is converted to TimestampType by integer division
    to µs — same rule as the batch reader (sources.readers.load_table);
    a plain cast would misread it as seconds.
    """
    stream = replay_table_stream(spark, sf_dir, "events", max_files_per_trigger)
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_windowed_stats(
    events: DataFrame,
    window: str = "24 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-user value stats with event-time watermarking."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("user_id"))
        .agg(
            F.avg("value").alias("mean_value"),
            F.stddev_samp("value").alias("std_value"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "user_id",
            "mean_value",
            "std_value",
            "n",
        )
    )


def sessionized_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key gap-merged session aggregates via Spark's NATIVE
    ``session_window`` — sessions are built INCREMENTALLY as events
    arrive (two overlapping sessions merge when a bridging event lands),
    with watermark-driven state eviction, instead of the batch
    lag/cumsum formulation (``operators.timeseries.sessionize``) that
    needs the whole series ordered.

    The same code path runs on BATCH input (``session_window`` is a
    grouping expression, not a streaming-only construct) — the parity
    test replays the events table through both and compares exactly.

    Boundary contract (measured, pinned in tests): a session's end is
    ``last event + gap`` and an event arriving at EXACTLY that end
    MERGES into the session (inclusive boundary) — the same semantics
    as the lag/cumsum operator's strict ``> gap`` new-session test, so
    the two formulations agree on every input. At 100 TB:
    state is per-(key, open-session) and evicted at the watermark; the
    aggregation shuffles once on the key like any streaming agg.
    """
    src = events.withWatermark(ident(ts_col), watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.col(key), F.session_window(F.col(ts_col), gap).alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


Fold = Callable[[tuple, Iterable[tuple]], tuple[tuple, list]]

#: the pickle protocol of a bucket's book, fixed so that a later Python
#: still writes what an earlier one reads
BOOK_PROTOCOL = 5


def _fold_handler(
    fold: Fold, *, keys: Sequence[str], cols: Sequence[str], order: Sequence[str],
    init: tuple, out_cols: Sequence[str], timeout_minutes: int | None, buckets: int,
):
    """The per-bucket ``(bucket, pdf_iter, state)`` function that
    :func:`_keyed_fold` hands to ``applyInPandasWithState``."""
    nk = len(keys)
    by = list(dict.fromkeys([*keys, *order]))
    picked = [*keys, *cols]
    timeout_ms = None if timeout_minutes is None else timeout_minutes * 60_000

    def handle(bucket, pdf_iter, state):
        now = state.getCurrentProcessingTimeMs()
        book = {}
        if state.exists:
            stored, blob = state.get
            if stored != buckets:
                raise ValueError(
                    f"_keyed_fold: the checkpoint's state holds {stored} key "
                    f"buckets but this query runs {buckets} "
                    "(spark.sql.shuffle.partitions); resume it with "
                    f"{stored} shuffle partitions or start a new checkpoint"
                )
            book = pickle.loads(blob)
        if timeout_ms is not None:  # expired keys leave, and fold from init
            book = {k: v for k, v in book.items() if now - v[1] <= timeout_ms}
        # one concat and one stable sort for every key of the bucket: a
        # key's rows may span Arrow chunks, and ties keep arrival order
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(by, kind="stable")[picked]
        pdf.columns = range(len(picked))
        # Spark hands a NULL double to pandas as NaN; folds see None
        rows = pdf.astype(object).where(pdf.notna(), None)
        out = []
        for key, run in groupby(
            rows.itertuples(index=False, name=None), key=lambda r: r[:nk]
        ):
            st, key_out = fold(book.get(key, (init,))[0], (r[nk:] for r in run))
            book[key] = (st, now)
            out.extend((*key, *r) for r in key_out)
        state.update((buckets, pickle.dumps(book, protocol=BOOK_PROTOCOL)))
        yield pd.DataFrame(out, columns=out_cols)

    return handle


def _keyed_fold(
    events: DataFrame,
    fold: Fold,
    *,
    cols: Sequence[str],
    init: tuple,
    out_schema: str,
    timeout_minutes: int | None,
    keys: Sequence[str] = ("user_id",),
    order: Sequence[str] = ("ts", "event_id"),
    ts_col: str = "ts",
) -> DataFrame:
    """Run ``fold`` per key over a stream (the module docstring has the
    fold contract and the bucket book). ``cols`` are the input columns
    of each row tuple, ``order`` the sort columns within a key (``()``
    keeps arrival order), and ``out_schema`` the full output DDL, key
    columns first. ``timeout_minutes=None`` keeps idle keys forever."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType

    buckets = int(events.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out_type = StructType.fromDDL(out_schema)
    handle = _fold_handler(
        fold, keys=keys, cols=cols, order=order, init=init,
        out_cols=out_type.fieldNames(), timeout_minutes=timeout_minutes,
        buckets=buckets,
    )
    key_cols = [F.col(k) for k in keys]
    bucket = F.when(  # a NULL in any key column: bucket -1
        reduce(operator.or_, [c.isNull() for c in key_cols]), -1
    ).otherwise(F.pmod(F.xxhash64(*key_cols), F.lit(buckets)))
    return (
        events.select(
            *dict.fromkeys([*keys, ts_col, *order, *cols]),
            bucket.alias("__bucket"),
        )
        .withWatermark(ident(ts_col), "2 hours")
        .groupBy("__bucket")
        .applyInPandasWithState(
            handle,
            outputStructType=out_type,
            stateStructType="buckets int, book binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _mean_std(vals: Sequence) -> tuple[float, float] | None:
    """Mean and sample std of the non-null ``vals`` (the batch
    ``avg``/``stddev_samp`` pair); None below two values."""
    xs = [x for x in vals if x is not None]
    n = len(xs)
    if n < 2:
        return None
    mu = sum(xs) / n
    return mu, math.sqrt(sum((x - mu) ** 2 for x in xs) / (n - 1))


def _us(ts) -> int:
    """Epoch microseconds of a timestamp value."""
    return int(pd.Timestamp(ts).value // 1000)


def _zscore_fold(state, rows, *, window_rows, threshold):
    buf = list(state[0])
    out = []
    for event_id, ts, v in rows:
        ms = _mean_std(buf[-window_rows:])
        z = None
        if ms is not None and v is not None and ms[1] > 0:
            z = (v - ms[0]) / ms[1]
        out.append((event_id, ts, v, z, int(z is not None and abs(z) > threshold)))
        # a NULL keeps its row position in the window, like the batch
        # rowsBetween frame, and is skipped by the statistics
        buf.append(v)
    return (buf[-window_rows:],), out


def streaming_zscore_flags(
    events: DataFrame,
    window_rows: int = 24,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online rolling z-score per user via per-key state.

    State = the last ``window_rows`` values per user (a bounded deque);
    each incoming batch is scored against the state *then* appended —
    reproducing the batch past-only frame [t-w, t-1] when events arrive
    in order. A NULL value scores NULL (flag 0) and occupies its slot
    in the deque, exactly as in the batch row frame.
    """
    return _keyed_fold(
        events,
        partial(_zscore_fold, window_rows=window_rows, threshold=threshold),
        cols=("event_id", "ts", "value"),
        init=([],),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "zscore double, is_anomaly int"
        ),
        timeout_minutes=timeout_minutes,
    )


def _page_hinkley_fold(state, rows, *, scale, delta_i, lam_i):
    n, s, u, minu, d, maxd = state
    out = []
    for event_id, ts, value in rows:
        m = int(round(float(value) * scale))
        n += 1
        s += m
        # Python // floors toward -inf — identical to the batch
        # side's F.floor((2S+n)/(2n)) for any sign of S
        xbar = (2 * s + n) // (2 * n)
        dev = m - xbar
        u += dev - delta_i
        d += dev + delta_i
        if n == 1:
            minu, maxd = u, d
        else:
            minu = min(minu, u)
            maxd = max(maxd, d)
        inc, dec = u - minu, maxd - d
        out.append(
            (event_id, ts, float(value), inc / scale, dec / scale,
             int(inc > lam_i or dec > lam_i))
        )
    return (n, s, u, minu, d, maxd), out


def streaming_page_hinkley(
    events: DataFrame,
    lam: float = 10.0,
    delta: float = 0.0,
    unit_digits: int = 2,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online Page-Hinkley change detection per user — the streaming
    face of :func:`operators.anomaly.page_hinkley`.

    Why this is the tier's best streaming citizen: the state is FIVE
    integers per key — (n, Σm, u, min u, max d) — O(1) regardless of
    stream length (the rolling z-score keeps a w-value deque; windowed
    stats keep a window's worth per slide). The integer micro-unit form
    (same ``floor((2S+n)/(2n))`` running mean as batch) makes the
    stream's output EQUAL the batch operator's bit-for-bit for in-order
    arrival — asserted, not approximate, in the replay-parity test.
    Python ints are arbitrary-precision, so the running sums cannot
    overflow the state's bigint before the batch side would.
    """
    scale = 10**unit_digits
    return _keyed_fold(
        events,
        partial(
            _page_hinkley_fold,
            scale=scale,
            delta_i=int(round(delta * scale)),
            lam_i=int(round(lam * scale)),
        ),
        cols=("event_id", "ts", "value"),
        init=(0, 0, 0, 0, 0, 0),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "ph_inc double, ph_dec double, ph_alarm int"
        ),
        timeout_minutes=timeout_minutes,
    )


def _ewma_fold(state, rows, *, window_rows, alpha, threshold):
    buf = list(state[0])
    out = []
    for event_id, ts, v in rows:
        hist = buf[-window_rows:]
        num = den = 0.0
        for j, x in enumerate(reversed(hist), start=1):
            if x is not None:
                wt = (1.0 - alpha) ** (j - 1)
                num += x * wt
                den += wt
        ewma = num / den if den > 0 else None
        ms = _mean_std(hist)
        # batch contract: ewma_dev is the rstd-NORMALIZED
        # deviation, NULL when no ewma or zero/undefined spread
        dev = None
        if v is not None and ewma is not None and ms is not None and ms[1] != 0.0:
            dev = (v - ewma) / ms[1]
        out.append(
            (event_id, ts, v, ewma, dev, int(dev is not None and abs(dev) > threshold))
        )
        buf.append(v)
    return (buf[-window_rows:],), out


def streaming_ewma_deviation(
    events: DataFrame,
    window_rows: int = 8,
    alpha: float = 0.5,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online EWMA control chart per user — the streaming face of
    :func:`operators.anomaly.ewma_deviation`, completing the streaming
    detector battery (z-score, Page-Hinkley, EWMA).

    State = the last ``window_rows`` values per key (same bounded deque
    as the z-score twin; the batch operator truncates the EWMA for
    exactly this reason — bounded state is what a stream must hold).
    Each row is scored against state THEN appended, reproducing the
    batch past-only [t-w, t-1] frame for in-order arrival. The weighted
    sum accumulates most-recent-first with the same ``(1-alpha)^lag``
    literals as the batch flat-codegen form, so parity holds to float
    summation order (replay-asserted at rel 1e-6, the z-score twin's
    contract). A NULL keeps its lag slot and adds no weight, as in the
    batch ``zip_with`` fold.
    """
    return _keyed_fold(
        events,
        partial(
            _ewma_fold, window_rows=window_rows, alpha=alpha, threshold=threshold
        ),
        cols=("event_id", "ts", "value"),
        init=([],),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "ewma double, ewma_dev double, ewma_alarm int"
        ),
        timeout_minutes=timeout_minutes,
    )


def _median(sorted_vals: list) -> float:
    m = len(sorted_vals)
    return (sorted_vals[(m + 1) // 2 - 1] + sorted_vals[(m + 2) // 2 - 1]) / 2.0


def _hampel_fold(state, rows, *, window_rows, k):
    buf = list(state[0])
    out = []
    for event_id, ts, v in rows:
        hist = sorted(x for x in buf[-window_rows:] if x is not None)
        if hist:
            m = _median(hist)
            mad = _median(sorted(abs(x - m) for x in hist))
            if v is None:
                flag = 0
            elif mad == 0.0:
                flag = int(v != m)
            else:
                flag = int(abs(v - m) > k * 1.4826 * mad)
        else:
            m = mad = None
            flag = 0
        out.append((event_id, ts, v, m, mad, flag))
        buf.append(v)
    return (buf[-window_rows:],), out


def streaming_hampel_flags(
    events: DataFrame,
    window_rows: int = 11,
    k: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online Hampel despiker per user — the streaming face of
    :func:`operators.anomaly.hampel_flags` in its past-only
    (``centered=False``) mode, the one an online detector can have
    (the centered textbook frame needs the future).

    Same bounded-deque state as the z-score twin; each row is scored
    against the previous ``window_rows`` values' exact interpolated
    median/MAD (identical formulas to the batch operator, so replay
    parity is exact — order statistics, nothing accumulates), then
    appended. A NULL keeps its slot and is left out of the median, as
    the batch ``collect_list`` frame does.
    """
    return _keyed_fold(
        events,
        partial(_hampel_fold, window_rows=window_rows, k=k),
        cols=("event_id", "ts", "value"),
        init=([],),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "hampel_median double, hampel_mad double, hampel_flag int"
        ),
        timeout_minutes=timeout_minutes,
    )


def _trend_ols_fold(state, rows, *, scale, threshold, min_points):
    rn, n_i, sx_i, sy_i, sxx_i, sxy_i, syy_i = state
    out = []
    for event_id, ts, y in rows:
        x = rn  # 0-based row index, null y rows included
        m = int(round(float(y) * scale)) if y is not None else None
        # score vs the PAST fit — same IEEE expression order as
        # the batch columns (floats from the same exact ints)
        slope = fit = z = alarm = None
        n = float(n_i)
        sx, sy = float(sx_i), float(sy_i)
        sxx, sxy, syy = float(sxx_i), float(sxy_i), float(syy_i)
        vx = n * sxx - sx * sx
        if n >= min_points and vx > 0:
            b = (n * sxy - sx * sy) / vx
            a = (sy - b * sx) / n
            sse = max(0.0, syy - sy * sy / n - b * b * (sxx - sx * sx / n))
            s = math.sqrt(sse / (n - 2)) if n > 2 else None
            fit_i = a + b * float(x)
            slope = b / scale
            fit = fit_i / scale
            if m is not None and s is not None and s != 0.0:
                z = (float(m) - fit_i) / s
                alarm = int(abs(z) > threshold)
        out.append(
            (event_id, ts, float(y) if y is not None else None,
             slope, fit, z, alarm)
        )
        rn += 1
        if m is not None:
            n_i += 1
            sx_i += x
            sy_i += m
            sxx_i += x * x
            sxy_i += x * m
            syy_i += m * m
    return (rn, n_i, sx_i, sy_i, sxx_i, sxy_i, syy_i), out


def streaming_trend_ols(
    events: DataFrame,
    threshold: float = 3.0,
    unit_digits: int = 2,
    min_points: int = 3,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online recursive-least-squares detrending per user — the
    streaming face of :func:`operators.anomaly.trend_ols_expanding`.

    State is SEVEN integers per key — the row counter and the six OLS
    sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) in exact
    ``10^-unit_digits`` units — O(1) regardless of stream length, the
    same citizenship class as :func:`streaming_page_hinkley`. Every row
    is scored against the fit of the rows BEFORE it (the batch twin's
    ``rowsBetween(unboundedPreceding, -1)`` frame), then folded into the
    sums. Because both sides derive their doubles from the SAME exact
    integers with the same IEEE expression order, the stream's output
    equals the batch operator's bit-for-bit on in-order replay —
    asserted exactly in the parity test. Python ints are
    arbitrary-precision, so the sums cannot overflow before the batch
    side's BIGINT would.
    """
    return _keyed_fold(
        events,
        partial(
            _trend_ols_fold,
            scale=10**unit_digits,
            threshold=threshold,
            min_points=min_points,
        ),
        cols=("event_id", "ts", "value"),
        init=(0, 0, 0, 0, 0, 0, 0),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "trend_run_slope double, trend_run_fit double, "
            "trend_run_z double, trend_run_alarm int"
        ),
        timeout_minutes=timeout_minutes,
    )


def _kalman_fold(state, rows, *, Q, R, thr):
    from ..operators.kalman import kalman_kernel

    rows = list(rows)
    state, res = kalman_kernel(state, [r[2] for r in rows], Q, R)
    out = []
    for (event_id, ts, y), (pred, _, _, F_t, score, level, _) in zip(rows, res):
        sd = flag = None
        if pred is not None:  # the first observation has no prediction
            sd, flag = math.sqrt(F_t), abs(score) > thr
        out.append((event_id, ts, float(y), pred, level, sd, score, flag))
    return state, out


def streaming_kalman_level(
    events: DataFrame,
    q_var: float,
    r_var: float,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online local-level Kalman filter per user — the streaming face
    of :func:`operators.kalman.kalman_level` (filter half; the RTS
    smoother needs the future and has no streaming face by nature).

    State is TWO floats per key — the filtered level and its variance —
    O(1) regardless of stream length, the textbook reason Kalman
    filters ARE streaming algorithms. Unlike the batch operator,
    ``q_var``/``r_var`` must be explicit: the batch default estimates R
    from the whole series (Hall difference estimator), which a stream
    cannot see.

    Both sides run the same kernel,
    :func:`operators.kalman.kalman_kernel`, so the stream equals the
    batch operator BIT-FOR-BIT on in-order replay — asserted exactly in
    the parity test.
    """
    if q_var is None or r_var is None:
        raise ValueError(
            "streaming_kalman_level: q_var and r_var must be explicit — "
            "a stream cannot estimate R from the full series"
        )
    from ..operators.kalman import KALMAN_INIT

    return _keyed_fold(
        events,
        partial(_kalman_fold, Q=float(q_var), R=float(r_var), thr=float(threshold)),
        cols=("event_id", "ts", "value"),
        init=KALMAN_INIT,
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "kf_pred double, kf_level double, kf_innov_sd double, "
            "kf_score double, kf_flag boolean"
        ),
        timeout_minutes=timeout_minutes,
    )


def _episode_fold(state, rows, *, gap_us):
    # last_us = -1 is the "no alert seen yet" sentinel (a typed
    # state column cannot hold null)
    last_us, counter = state
    out = []
    for event_id, ts, value, flag in rows:
        v = float(value) if value is not None else None
        if flag is None or int(flag) == 0:
            out.append(
                (event_id, ts, v, int(flag) if flag is not None else None, None)
            )
            continue
        t_us = _us(ts)
        if last_us < 0 or t_us - last_us > gap_us:
            counter += 1
        last_us = t_us
        out.append((event_id, ts, v, int(flag), counter))
    return (last_us, counter), out


def streaming_episode_assign(
    events: DataFrame,
    gap_seconds: float = 7200.0,
    flag_col: str = "is_alert",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online episode-id assignment per user — the streaming face of
    :func:`operators.anomaly.anomaly_episodes`' sessionization step
    (the episode SUMMARY aggregates need the episode to close and stay
    a batch/foreachBatch concern; the id assignment itself is the
    O(1)-state part a stream can own).

    State is TWO numbers per key — the last ALERT timestamp (epoch
    micros) and the running episode counter — exactly the lag/cumsum
    recurrence the batch operator evaluates, so replay equals the batch
    ``attach=True`` assignment BIT-for-bit (asserted in the parity
    test). Non-alert rows pass through with a null episode_id and do
    not touch the gap clock; a NULL flag counts as non-alert.
    """
    return _keyed_fold(
        events,
        partial(_episode_fold, gap_us=int(round(float(gap_seconds) * 1_000_000))),
        cols=("event_id", "ts", "value", flag_col),
        init=(-1, 0),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            f"{ident(flag_col)} int, episode_id bigint"
        ),
        timeout_minutes=timeout_minutes,
    )


def _adwin_fold(state, rows, *, delta, max_buckets):
    from ..operators.adwin import adwin_kernel

    rows = list(rows)
    state, res = adwin_kernel(
        state, [r[2] for r in rows], delta=delta, max_buckets=max_buckets
    )
    return state, [
        (event_id, ts, float(v), *r) for (event_id, ts, v), r in zip(rows, res)
    ]


def streaming_adwin(
    events: DataFrame,
    delta: float = 0.002,
    max_buckets: int = 5,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online ADWIN drift detection per user — the streaming face of
    :func:`operators.adwin.adwin_changes`. ADWIN is a streaming
    algorithm by construction: the persisted state IS its exponential
    histogram (O(max_buckets * log n) bucket (sum, count) pairs), and
    both sides run the same kernel, :func:`operators.adwin.adwin_kernel`,
    over losslessly round-tripped float64/int64 arrays, so replay equals
    the batch operator BIT-for-bit (asserted exactly in the parity test).
    """
    from ..operators.adwin import ADWIN_INIT

    return _keyed_fold(
        events,
        partial(_adwin_fold, delta=delta, max_buckets=max_buckets),
        cols=("event_id", "ts", "value"),
        init=ADWIN_INIT,
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            "adwin_n bigint, adwin_mean double, adwin_change boolean"
        ),
        timeout_minutes=timeout_minutes,
    )


def _quantiles_fold(state, rows, *, eps, qs):
    from ..operators.gk import GKSketch

    vs, gs, ds, n = state
    sk = GKSketch(eps=eps, vs=vs, gs=gs, ds=ds, n=n)
    out = []
    for event_id, ts, value in rows:
        v = float(value)
        sk.insert(v)
        out.append((event_id, ts, v, *[sk.query(q) for q in qs]))
    return (list(sk.vs), list(sk.gs), list(sk.ds), sk.n), out


def streaming_quantiles(
    events: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    eps: float = 0.01,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online per-user epsilon-approximate quantiles via a persisted
    Greenwald-Khanna sketch (:mod:`operators.gk`) — the
    p99-per-service monitoring shape the batch ``percentile`` /
    ``approx_percentile`` cannot maintain incrementally. Each row
    emits the CURRENT estimates after folding its value in; state is
    the sketch's tuple arrays, O((1/eps) log(eps n)) per key with the
    paper's rank-error guarantee (asserted against exact quantiles on
    replay in the parity test)."""
    qs = [float(q) for q in quantiles]
    qcols = [f"q{str(q).replace('.', '_')}" for q in qs]
    return _keyed_fold(
        events,
        partial(_quantiles_fold, eps=eps, qs=qs),
        cols=("event_id", "ts", "value"),
        init=([], [], [], 0),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, value double, "
            + ", ".join(f"{ident(c)} double" for c in qcols)
        ),
        timeout_minutes=timeout_minutes,
    )


def _throttle_fold(state, rows, *, cooldown_seconds, policy):
    last_alert, last_delivered = state
    rows = [(event_id, ts, 0 if f is None else int(f)) for event_id, ts, f in rows]
    times = [ts.timestamp() for _, ts, f in rows if f == 1]
    if policy == "quiet-period":
        picks = []
        for t in times:
            picks.append(last_alert is None or t - last_alert > cooldown_seconds)
            last_alert = t
    else:
        from ..operators.anomaly import cooldown_kernel

        last_delivered, picks = cooldown_kernel(last_delivered, times, cooldown_seconds)
    picks = iter(picks)
    out = [(event_id, ts, f, int(f == 1 and next(picks))) for event_id, ts, f in rows]
    return (last_alert, last_delivered), out


def streaming_throttle_alerts(
    flagged: DataFrame,
    cooldown_seconds: float = 3600.0,
    flag_col: str = "is_anomaly",
    policy: str = "quiet-period",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online alert throttling — the streaming face of
    :func:`operators.anomaly.throttle_alerts`, for the pipeline tail
    where alerts actually page someone.

    The best streaming citizen in the family: state is TWO floats per
    key — last ALERT ts (quiet-period re-arms on every alarm) and last
    DELIVERED ts (fixed-cooldown re-arms on delivery) — O(1) however
    long the stream. Both batch policies reproduce exactly for in-order
    replay (asserted, not approximate: the decision rule is pure
    timestamp comparisons, no float accumulation); fixed-cooldown runs
    the batch operator's own kernel,
    :func:`operators.anomaly.cooldown_kernel`.

    Input: a scored stream carrying ``user_id, event_id, ts`` and the
    flag column (a NULL flag is no alert). Output: same grain plus
    ``alert_delivered``.
    """
    if policy not in ("quiet-period", "fixed-cooldown"):
        raise ValueError(
            f"streaming_throttle_alerts: unknown policy {policy!r}"
        )
    return _keyed_fold(
        flagged,
        partial(_throttle_fold, cooldown_seconds=cooldown_seconds, policy=policy),
        cols=("event_id", "ts", flag_col),
        init=(None, None),
        out_schema=(
            "user_id bigint, event_id bigint, ts timestamp, "
            f"{ident(flag_col)} int, alert_delivered int"
        ),
        timeout_minutes=timeout_minutes,
    )


def streaming_dedup(
    events: DataFrame, key_cols=("event_id",), watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup on the key with bounded state:
    ``dropDuplicatesWithinWatermark``.

    Plain ``dropDuplicates(keys)`` on a stream keeps state FOREVER when
    the event-time column is not part of the dedup keys — the watermark
    evicts nothing, and per-key state grows with stream lifetime (the
    documented Spark contract: eviction requires the event-time column
    in the subset). ``dropDuplicatesWithinWatermark`` is the fix: dedup
    by the business key alone, with each key's state expiring once the
    watermark passes its first-seen event time. State = one entry per
    key seen within the horizon — bounded by (arrival rate x horizon),
    not stream length — which is the contract a duplicate-suppression
    stage actually needs (a duplicate later than the horizon is by
    definition out of contract). The streaming analogue of batch
    ``dedup_exact``/O3.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static broadcast join — each microbatch joins against the
    (broadcast) static dimension; no stream-side state at all."""
    return events.join(F.broadcast(dim), on)


def _kmv_fold(state, rows, *, k, u_off, u_div):
    seen = set(state[0])
    seen.update(int(h) for (h,) in rows if h is not None)
    mins = sorted(seen)[:k]
    if len(mins) < k:
        est = float(len(mins))
    else:
        # same IEEE sequence as operators.kmv.kmv_estimate
        est = (k - 1) / ((float(mins[k - 1]) + u_off) / u_div)
    return (mins,), [(mins, len(mins), est)]


def streaming_kmv(
    events: DataFrame,
    value_col: str = "value",
    k: int = 256,
    hash_fn: str = "xxhash64",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Continuously maintained KMV theta sketch per key — the streaming
    twin of :func:`operators.kmv.kmv_build`. Each micro-batch emits the
    key's updated sketch (sorted k smallest distinct hashes), its size,
    and the ``(k-1)/u_k`` distinct-count estimate, so a dashboard reads
    live cardinalities — and live set INTERSECTIONS via
    :func:`~operators.kmv.kmv_intersect_estimate` over the emitted
    sketch columns — without ever rescanning the stream's history.

    State is the sorted ≤k-long hash array — bounded by construction
    (the whole point of the sketch), and by the min-wise property the
    streamed sketch equals the batch build over the same rows EXACTLY
    (array equality, not approx — pinned on multi-micro-batch replay).
    Hashing runs JVM-side before the stateful operator; the Python
    state function only merges longs.
    """
    from ..operators.kmv import _U_DIV, _U_OFF, _kmv_hash

    if k < 2:
        raise ValueError(f"streaming_kmv: k must be >= 2, got {k}")
    if hash_fn not in _U_DIV:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    keys = list(key_cols)
    # NULLs must be dropped BEFORE hashing, mirroring kmv_build's
    # isNotNull filter: xxhash64(NULL) is the seed 42 (never NULL), so
    # the None guard in the fold cannot catch it and a NULL value
    # would inject hash 42 into the sketch, inflating below-k counts
    # and breaking the documented array-equality with the batch build.
    keyed = events.filter(F.col(value_col).isNotNull()).select(
        *keys,
        ts_col,
        _kmv_hash(F.col(value_col), hash_fn).alias("__h"),
    )
    return _keyed_fold(
        keyed,
        partial(_kmv_fold, k=int(k), u_off=_U_OFF[hash_fn], u_div=_U_DIV[hash_fn]),
        keys=keys,
        order=(),
        ts_col=ts_col,
        cols=("__h",),
        init=([],),
        out_schema=(
            f"{ddl(events.schema, keys)}, kmv array<bigint>, kmv_size int, kmv_est double"
        ),
        timeout_minutes=timeout_minutes,
    )


def _theta_fold(state, rows, *, a, mp):
    from ..operators.timeseries import theta_kernel

    rows = list(rows)
    state, res = theta_kernel(state, [y for _, y in rows], a, mp)
    return state, [(ts, float(y), *r) for (ts, y), r in zip(rows, res)]


def streaming_theta(
    events: DataFrame,
    alpha: float = 0.2,
    min_points: int = 3,
    timeout_minutes: int | None = 60,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Online Theta-method one-step forecasts per series key — the
    streaming face of :func:`operators.timeseries.theta_forecast`. The
    strictly causal formulation was chosen in the batch operator
    precisely so a stream could run it: state is SEVEN scalars per key
    (row counter, the four expanding-OLS sums, the SES level, and the
    backtest error accumulators) — O(1) regardless of stream length.

    Both sides run the same kernel,
    :func:`operators.timeseries.theta_kernel`, so the stream equals the
    batch operator BIT-FOR-BIT on in-order replay. Input contract
    matches the batch operator: one value per (key, ts) — compose after
    a grid resample.

    ``key_cols`` mirrors the batch operator's ``series_cols`` (r10,
    ADVICE): the key portion of the output and state schemas is derived
    from the INPUT schema, so any key arity/type works.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_theta: alpha must be in (0,1), got {alpha}")
    if min_points < 3:
        raise ValueError(
            f"streaming_theta: min_points must be >= 3, got {min_points}"
        )
    keys = list(key_cols)
    from ..operators.timeseries import THETA_INIT

    return _keyed_fold(
        events,
        partial(_theta_fold, a=float(alpha), mp=int(min_points)),
        keys=keys,
        order=(ts_col,),
        ts_col=ts_col,
        cols=(ts_col, value_col),
        init=THETA_INIT,
        out_schema=(
            f"{ddl(events.schema, keys)}, {ident(ts_col)} timestamp, {ident(value_col)} double, "
            "theta_forecast double, abs_err double, theta_mae double"
        ),
        timeout_minutes=timeout_minutes,
    )


def _croston_fold(state, rows, *, a, factor):
    from ..operators.timeseries import croston_kernel

    rows = list(rows)
    state, res = croston_kernel(state, [y for _, y in rows], a, factor)
    return state, [(ts, float(y), *r) for (ts, y), r in zip(rows, res)]


def streaming_croston(
    events: DataFrame,
    alpha: float = 0.1,
    sba: bool = True,
    timeout_minutes: int | None = 60,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Online Croston/SBA intermittent-demand forecasts per series key —
    the streaming face of :func:`operators.timeseries.croston_forecast`.
    Croston is two SES recursions updated only on demand periods: state
    is SEVEN scalars per key (the two SES levels + their init flags,
    the inter-demand gap counter, and the backtest accumulators) —
    O(1) regardless of stream length; spare-parts/error-rate streams
    are the method's home turf.

    Both sides run the same kernel,
    :func:`operators.timeseries.croston_kernel` → BIT-FOR-BIT replay
    parity. Input contract matches the batch operator: a regular
    zero-filled grid per key (compose after ``resample_grid`` +
    zero-fill); negative demand raises.

    ``key_cols`` mirrors the batch operator's ``series_cols`` (r10,
    ADVICE): the key portion of the output and state schemas is derived
    from the INPUT schema, so any key arity/type works.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_croston: alpha must be in (0,1), got {alpha}")
    a = float(alpha)
    keys = list(key_cols)
    from ..operators.timeseries import CROSTON_INIT

    return _keyed_fold(
        events,
        partial(_croston_fold, a=a, factor=(1.0 - a / 2.0) if sba else 1.0),
        keys=keys,
        order=(ts_col,),
        ts_col=ts_col,
        cols=(ts_col, value_col),
        init=CROSTON_INIT,
        out_schema=(
            f"{ddl(events.schema, keys)}, {ident(ts_col)} timestamp, {ident(value_col)} double, "
            "croston_forecast double, abs_err double, croston_mae double"
        ),
        timeout_minutes=timeout_minutes,
    )


def streaming_hist(
    events: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    n_bins: int = 10,
    key_cols: Sequence[str] = ("user_id",),
    prefix: str = "b",
) -> DataFrame:
    """Continuously maintained binned-histogram sketch per key — the
    streaming face of :func:`~..operators.binsketch.hist_sketch`, and
    the demonstration of its algebraic class: the build is a PLAIN
    additive aggregation, so Structured Streaming maintains it NATIVELY
    (the state store holds B running bigint sums per key — no custom
    state function, no applyInPandasWithState, no watermark needed for
    correctness in update/complete output). Contrast
    :func:`streaming_kmv`, whose bounded-state merge needs a custom
    stateful operator. The streamed counts equal the batch build over
    the same rows EXACTLY (integer sums are order-free), pinned on
    multi-micro-batch replay.

    Use update/complete output mode (it is an open aggregation); route
    through ``foreachBatch`` + :func:`~..operators.ivm.maintain_agg_snapshot`
    instead when the sketch table must live on disk with snapshot cuts.
    """
    from ..operators.binsketch import hist_sketch

    return hist_sketch(
        events, list(key_cols), value_col, lo, hi, n_bins, prefix
    )


def _transitions_fold(state, rows):
    has_last, last_type = state
    out = []
    for *ords, cur in rows:
        cur = None if cur is None else str(cur)
        if has_last and last_type is not None:
            out.append((*ords, last_type, cur))
        has_last, last_type = True, cur
    return (has_last, last_type), out


def streaming_transitions(
    events: DataFrame,
    session_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    type_col: str = "event_type",
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online user-journey transition events per session — the
    streaming face of :func:`operators.product_analytics.
    transition_matrix`'s lag step (the k x k count/probability matrix
    is an open aggregation and stays a downstream
    update-mode/foreachBatch concern; the WALK itself is the
    O(1)-state part a stream can own, exactly the
    :func:`streaming_episode_assign` split).

    State is the last event type per session key (one string + a
    has-seen flag) — the ``lag`` recurrence. Each arriving row beyond
    the session's first emits one append-mode transition row
    ``(session_cols..., order_cols..., from_type, to_type)``; grouping
    those by (from_type, to_type) reproduces the batch matrix's ``cnt``
    EXACTLY on in-order replay (asserted in the parity test). A null
    PREVIOUS type emits nothing — the batch operator's
    ``lag IS NOT NULL`` filter cannot distinguish "no previous" from
    "previous was null", and the twin mirrors that contract; a null
    CURRENT type is emitted as a transition to null and becomes the
    next row's (suppressed) predecessor.
    """
    keys, order = list(session_cols), list(order_cols)
    return _keyed_fold(
        events,
        _transitions_fold,
        keys=keys,
        order=order,
        ts_col=ts_col,
        cols=(*order, type_col),
        init=(False, None),
        out_schema=(
            f"{ddl(events.schema, keys)}, {ddl(events.schema, order)}, "
            "from_type string, to_type string"
        ),
        timeout_minutes=timeout_minutes,
    )


def _attribution_credits(touches, cus, *, lookback_us, half_life_us, models):
    """(model, channel, ppm) rows for one conversion — the batch
    integer math, verbatim."""
    elig = sorted((t, c) for t, c in touches if cus - lookback_us <= t < cus)
    out = []
    if not elig:
        return [(m, "(direct)", 1_000_000) for m in models]
    n = len(elig)
    for m in models:
        if m == "first":
            out.append((m, elig[0][1], 1_000_000))
        elif m == "last":
            out.append((m, elig[-1][1], 1_000_000))
        elif m == "linear":
            ppm = 1_000_000 // n
            out.extend((m, c, ppm) for _, c in elig)
        elif m == "position":
            if n == 1:
                out.append((m, elig[0][1], 1_000_000))
            elif n == 2:
                out.append((m, elig[0][1], 500_000))
                out.append((m, elig[1][1], 500_000))
            else:
                out.append((m, elig[0][1], 400_000))
                mid = 200_000 // (n - 2)
                out.extend((m, c, mid) for _, c in elig[1:-1])
                out.append((m, elig[-1][1], 400_000))
        else:  # decay
            ks = [(cus - t) // half_life_us for t, _ in elig]
            kmin = min(ks)
            ws = [1 << (40 - min(k - kmin, 40)) for k in ks]
            sumw = sum(ws)
            out.extend(
                (m, c, (1_000_000 * w) // sumw) for (_, c), w in zip(elig, ws)
            )
    return out


def _attribution_fold(state, rows, *, touch_set, conv_set, lookback_us, **credit):
    tus, chs = state
    touches = list(zip(tus, chs))
    out = []
    for ts, et in rows:
        us = _us(ts)
        if et in conv_set:
            # prune on conversion arrival too: a user whose
            # traffic turns conversion-only must not retain
            # touches beyond the lookback indefinitely (the
            # state contract is pruned-on-ANY-arrival; safe —
            # entries below us - lookback are ineligible for
            # this and every future conversion)
            touches = [(t, c) for t, c in touches if t >= us - lookback_us]
            for m, c, ppm in _attribution_credits(
                touches, us, lookback_us=lookback_us, **credit
            ):
                out.append((ts, m, c, ppm))
        if et in touch_set:
            touches.append((us, str(et)))
            # prune: older than us - lookback can never credit
            # a future conversion (future cus >= us)
            touches = [(t, c) for t, c in touches if t >= us - lookback_us]
    return ([t for t, _ in touches], [c for _, c in touches]), out


def streaming_attribution(
    events: DataFrame,
    channel_col: str = "event_type",
    touch_types: Sequence[str] = ("signup", "view", "click"),
    conversion_types: Sequence[str] = ("purchase",),
    lookback_us: int = 7 * 86_400_000_000,
    half_life_us: int = 86_400_000_000,
    models: Sequence[str] = ("first", "last", "linear", "position", "decay"),
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online marketing attribution per user — the streaming face of
    :func:`operators.product_analytics.attribution_credit`. The
    bounded-state part a stream can own is the per-user TOUCH LIST
    within the lookback (entries older than ``now - lookback`` can
    never credit a future conversion and are pruned on arrival — state
    is exactly the batch operator's touches-per-lookback contract);
    each arriving conversion emits its credit rows
    ``(key..., ts, model, channel, ppm)`` in append mode. The
    (model, channel) totals are an open aggregation and stay a
    downstream update-mode/foreachBatch concern — the
    :func:`streaming_transitions` split.

    Credit arithmetic is the batch operator's EXACT integer math
    replayed in Python ints (floor-div ppm, power-of-two decay
    weights), and eligibility is purely timestamp-based (strictly
    earlier, within lookback) just like the batch range frame — so
    aggregating the streamed rows equals the batch
    ``attribution_credit`` output bit-for-bit on in-order replay
    (conversions AND credit_ppm; asserted in the parity test). A
    conversion row that is also a touch credits later conversions but
    never itself, matching the strict-earlier frame.
    """
    known = ("first", "last", "linear", "position", "decay")
    bad = [m for m in models if m not in known]
    if bad:
        raise ValueError(f"streaming_attribution: unknown models {bad}")
    if len(set(models)) != len(list(models)):
        raise ValueError(
            f"streaming_attribution: duplicate models in {list(models)!r}"
        )
    keys = list(key_cols)
    return _keyed_fold(
        events,
        partial(
            _attribution_fold,
            touch_set=set(touch_types),
            conv_set=set(conversion_types),
            lookback_us=lookback_us,
            half_life_us=half_life_us,
            models=list(models),
        ),
        keys=keys,
        order=(ts_col,),
        ts_col=ts_col,
        cols=(ts_col, channel_col),
        init=([], []),
        out_schema=(
            f"{ddl(events.schema, keys)}, {ident(ts_col)} timestamp, model string, "
            "channel string, ppm bigint"
        ),
        timeout_minutes=timeout_minutes,
    )


def _funnel_fold(state, rows, *, steps, within_us):
    done, anchor, last = state
    out = []
    for ts, ev in rows:
        if done >= len(steps):
            break
        if ev not in steps:  # the batch isin(steps) filter
            continue
        us = _us(ts)
        ok = str(ev) == steps[done] and (done == 0 or us > last)
        if within_us is not None and done > 0:
            ok = ok and us <= anchor + within_us
        if ok:
            if done == 0:
                anchor = us
            done += 1
            last = us
            out.append((ts, done))
    return (done, anchor, last), out


def streaming_funnel(
    events: DataFrame,
    steps: Sequence[str],
    within_us: int | None = None,
    event_col: str = "event_type",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online funnel progression per user — the streaming face of
    :func:`operators.product_analytics.funnel_user_depth`, including
    the anchored ``within`` window variant (r12's ``funnel_w``).

    State is O(steps) scalars per user: the completed depth, the
    anchor (the FIRST step-1 timestamp — "the first signup starts the
    clock"), and the last-completed-step timestamp. Each event that
    ADVANCES the funnel emits an append row ``(key..., ts,
    funnel_depth)`` — so the user's current depth is the max streamed
    row, and the depth-over-time sankey is the row sequence. The
    per-user final-depth table stays a downstream open aggregation
    (``max(funnel_depth) group by user``) — the
    :func:`streaming_transitions` split.

    The walk is the batch operator's advancement rule verbatim: a step
    counts iff it names ``steps[done]``, is STRICTLY later than the
    last completed step, and (anchored variant) falls within
    ``within_us`` of the anchor; non-step event types are ignored
    entirely (the batch ``isin(steps)`` filter). Ties replay the batch
    ``sort_array(struct(ts, ev))`` order: micro-batches sort by
    ``(ts, event)``. On in-order replay the streamed max depth per
    user equals the batch ``funnel_depth`` exactly for every user who
    advanced at least once, and users the batch scores 0 emit nothing
    (asserted in the parity test).

    Timeout caveat (r13 ADVICE): the default
    ``timeout_minutes=60`` bounds per-user state, but expiry
    mid-funnel resets ``done``/``anchor`` to 0 — a user whose funnel
    spans longer than the timeout re-walks from step 1 and can stream
    depths the batch operator (anchored at the FIRST step-1) would
    never assign. Because streamed depth is otherwise monotone per
    user, this re-emission is the one way parity can diverge: the
    replay-parity claim above holds unconditionally only with
    ``timeout_minutes=None``; the default trades that guarantee for
    bounded state on funnels slower than the timeout.
    """
    k = len(steps)
    if k < 1:
        raise ValueError("streaming_funnel: need at least one step")
    if len(set(steps)) != k:
        raise ValueError(
            f"streaming_funnel: steps must be distinct, got {list(steps)!r}"
        )
    keys = list(key_cols)
    return _keyed_fold(
        events,
        partial(_funnel_fold, steps=[str(s) for s in steps], within_us=within_us),
        keys=keys,
        order=(ts_col, event_col),
        ts_col=ts_col,
        cols=(ts_col, event_col),
        init=(0, 0, 0),
        out_schema=f"{ddl(events.schema, keys)}, {ident(ts_col)} timestamp, funnel_depth int",
        timeout_minutes=timeout_minutes,
    )


def _journey_fold(state, rows, *, k, sep):
    vals, nulls = state
    prev = [None if isnull else v for v, isnull in zip(vals, nulls)]
    out = []
    for *ords, cur in rows:
        cur = None if cur is None else str(cur)
        run = prev + [cur]
        if len(run) == k and all(t is not None for t in run):
            out.append((*ords, sep.join(run)))
        prev = run[-(k - 1):]
    return (["" if t is None else t for t in prev], [t is None for t in prev]), out


def streaming_journey_paths(
    events: DataFrame,
    k: int = 3,
    session_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    type_col: str = "event_type",
    ts_col: str = "ts",
    sep: str = ">",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online k-step journey paths per session — the streaming face of
    :func:`operators.product_analytics.journey_paths`, completing the
    product-analytics streaming family (transitions is the k=2 walk;
    this is the k-deep one). The top-paths table (count/share) is an
    open aggregation and stays a downstream update-mode/foreachBatch
    concern — the :func:`streaming_transitions` split; the WALK owns
    O(k) state.

    State is the last k-1 event types per session key, kept as
    parallel (value, is-null) arrays so a NULL type still OCCUPIES its
    position exactly like the batch lag columns: a completed run
    containing a NULL anywhere emits nothing (the batch lag-filter
    convention), but the NULL advances the window and poisons the next
    k-1 runs it participates in. Each arriving row that completes an
    all-non-null run emits one append row ``(session_cols...,
    order_cols..., path)`` with the batch's ``sep``-joined path key
    (same 'type must not contain sep' contract); grouping the streamed
    rows by path reproduces the batch ``cnt`` EXACTLY on in-order
    replay (asserted in the parity test), and share = cnt/total
    downstream.
    """
    if k < 2:
        raise ValueError(f"streaming_journey_paths: k must be >= 2, got {k}")
    keys, order = list(session_cols), list(order_cols)
    return _keyed_fold(
        events,
        partial(_journey_fold, k=k, sep=sep),
        keys=keys,
        order=order,
        ts_col=ts_col,
        cols=(*order, type_col),
        init=([], []),
        out_schema=f"{ddl(events.schema, keys)}, {ddl(events.schema, order)}, path string",
        timeout_minutes=timeout_minutes,
    )


def _sax_word(xs: list[int], *, window_rows, word_len, bps) -> str:
    seg_rows = window_rows // word_len
    s_all = sum(xs)
    s2_all = sum(x * x for x in xs)
    n = window_rows
    disc = n * s2_all - s_all * s_all
    out = []
    for s in range(word_len):
        seg = xs[s * seg_rows:(s + 1) * seg_rows]
        if disc == 0:
            z = 0.0
        else:
            z = (sum(seg) / seg_rows - s_all / n) / (math.sqrt(float(disc)) / n)
        c = chr(97 + len(bps))
        for i, b in enumerate(bps):
            if z < b:
                c = chr(97 + i)
                break
        out.append(c)
    return "".join(out)


def _sax_fold(state, rows, *, window_rows, word_len, scale, bps):
    win, seen, poisoned, xs, tss = state
    xs, tss = list(xs), list(tss)
    out = []
    for ts, v in rows:
        seen += 1
        if v is None:
            # batch row_number runs BEFORE the null filter: the
            # NULL keeps its position (poisons this window) and
            # window indices keep counting
            poisoned = True
        else:
            xs.append(int(round(float(v) * scale)))
            tss.append(_us(ts))
        if seen == window_rows:
            if not poisoned:
                word = _sax_word(
                    xs, window_rows=window_rows, word_len=word_len, bps=bps
                )
                out.append((win, pd.Timestamp(min(tss) * 1000), word))
            win += 1
            seen, poisoned, xs, tss = 0, False, [], []
    return (win, seen, poisoned, xs, tss), out


def streaming_sax(
    events: DataFrame,
    series_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
    ts_col: str = "ts",
    window_rows: int = 16,
    word_len: int = 4,
    alphabet_size: int = 4,
    unit_digits: int = 2,
    order_tiebreak: Sequence[str] = (),
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online SAX words per series — the streaming face of
    :func:`operators.sax.sax_words` (ledger row 24), completing the
    bridge SAX exists for: the emitted word stream feeds the text
    machinery LIVE (word-frequency / heavy-hitter motif counting, or
    novelty = a word never seen before, both downstream open
    aggregations — the :func:`streaming_transitions` split; this
    operator owns the WALK).

    State is O(window) and bounded by construction: the tumbling
    window index plus at most ``window_rows - 1`` pending
    ``(value_unit, ts_us)`` pairs per key. Each arriving row with a
    non-null value joins the buffer; when the buffer fills, ONE append
    row ``(series..., win, win_start, word)`` is emitted and the
    buffer resets — partial trailing windows emit nothing, exactly the
    batch contract.

    Bit-exact replay parity (asserted in pytest): the word arithmetic
    replays the batch operator's expression text statement for
    statement in Python — integer unit snap (``int(round(v * scale))``,
    the twin convention; the repo's data contract keeps values ON the
    unit grid so HALF_UP-vs-banker's divergence cannot arise), exact
    integer window/segment sums, then the identical double expression
    ``(segS/segN - S/N) / (sqrt(N*S2 - S*S)/N)`` (Python ints < 2^53
    convert exactly; same operation order, IEEE-identical), flat
    window => z = 0, and the same 4-decimal breakpoint literals (a
    string-cast double literal equals the Python float of the same
    text). NULL-value semantics replay the batch exactly: the batch
    assigns ``row_number`` BEFORE its ``__xi IS NOT NULL`` filter, so
    a NULL OCCUPIES its window position and poisons the whole window
    (``__N = window_rows`` then fails) while window INDICES keep
    counting through poisoned windows — the twin advances the
    position/window counters for NULL rows and suppresses the
    poisoned window's word (pinned by a NULL-bearing replay test).

    Timeout caveat (the :func:`streaming_funnel` convention): the
    default 60-min expiry frees dead keys, but expiry mid-window drops
    the pending partial window AND resets the window
    counter, so a revived key re-numbers from win 0; replay parity
    holds unconditionally only with ``timeout_minutes=None``.
    """
    from amonaly_detection_in_time_series_data_spark.operators.sax import SAX_BREAKPOINTS

    if alphabet_size not in SAX_BREAKPOINTS:
        raise ValueError(
            f"streaming_sax: alphabet_size must be one of "
            f"{sorted(SAX_BREAKPOINTS)}, got {alphabet_size}"
        )
    if window_rows % word_len != 0:
        raise ValueError(
            f"streaming_sax: window_rows ({window_rows}) must be "
            f"divisible by word_len ({word_len})"
        )
    keys = list(series_cols)
    return _keyed_fold(
        events,
        partial(
            _sax_fold,
            window_rows=window_rows,
            word_len=word_len,
            scale=10 ** int(unit_digits),
            bps=[float(repr(b)) for b in SAX_BREAKPOINTS[alphabet_size]],
        ),
        keys=keys,
        order=(ts_col, *order_tiebreak),
        ts_col=ts_col,
        cols=(ts_col, value_col),
        init=(0, 0, False, [], []),
        out_schema=f"{ddl(events.schema, keys)}, win bigint, win_start timestamp, word string",
        timeout_minutes=timeout_minutes,
    )
