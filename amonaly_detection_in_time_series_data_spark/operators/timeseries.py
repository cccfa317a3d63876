"""Time-series relational operators beyond the reference surface
(SURVEY.md §2.4 "not in reference" + log-analytics staples): gap-based
sessionization, as-of join, and regular-grid resampling.

All are pure DataFrame compositions — the as-of join uses the
union-and-ffill formulation, which scales as one window pass instead of a
range join (no per-row candidate explosion at 100 TB).
"""

from __future__ import annotations

import inspect
from collections.abc import Sequence
from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import col_ref, ddl, unit_snap
from .series import per_series


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    order_tiebreak: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    previous event of the same key exceeds ``gap``.

    session_id = running count of session starts per key (1-based) —
    the standard lag/cumsum formulation; one window exchange on the key.
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in order_tiebreak]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    gap_expr = F.expr(f"INTERVAL {gap}")
    is_start = F.when(
        prev_ts.isNull() | (F.col(ts_col).cast("timestamp") - prev_ts > gap_expr),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = F.sum(is_start).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(session_col, running.cast("bigint"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join, all three pandas ``merge_asof`` directions:
    ``backward`` (default) attaches the latest right row with
    ``right_ts <= left_ts``; ``forward`` the earliest with
    ``right_ts >= left_ts``; ``nearest`` whichever of the two is closer
    in time, EXACT integer-microsecond distances, ties to the BACKWARD
    row (documented, engine-replayable). Equal timestamps match in
    every direction (the ``>=``/``<=`` are inclusive).

    Implementation (scale-first): union both sides on (key, ts), one
    window sort per key, forward-fill the right-side values, keep left
    rows. Exactly one shuffle; no inequality-join candidate blowup.
    Right-side ties on the same timestamp resolve to the LAST right row
    (right rows sort before left rows at equal ts so an equal-ts right
    row is visible to the left row — DuckDB ASOF `>=` semantics).

    ``tolerance``: optional max staleness (e.g. '2 days') — matches with
    an older right row are nulled, mirroring pandas merge_asof tolerance.

    The right side is carried as ONE struct (right_ts + all value cols)
    and forward-filled as a unit, so every attached value comes from the
    same right row even when right value columns contain legitimate
    NULLs — per-column last(ignorenulls) could otherwise stitch values
    from different right rows (and tolerance would check the wrong one).

    ``forward`` is the same single-shuffle plan with the scan reversed
    (first-following over the ordering that puts left BEFORE right at
    equal ts); ``nearest`` evaluates both fills over the one exchange
    (two WindowExec, one shuffle) and picks per row. Tolerance applies
    per direction (staleness for backward, lead for forward; nearest
    nulls each side beyond tolerance BEFORE choosing).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"asof_join: direction must be backward/forward/nearest, "
            f"got {direction!r}"
        )
    keys = list(key_cols)
    lcols = [c for c in left.columns]
    vals = list(value_cols)

    lrow_type = left.select(
        F.struct(*[F.col(c) for c in lcols]).alias("__lrow")
    ).schema["__lrow"].dataType

    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(lrow_type).alias("__lrow"),
        F.struct(
            F.col(right_ts).cast("timestamp").alias("__rts"),
            *[F.col(c) for c in vals],
        ).alias("__rrow"),
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # left sorts after right at equal ts
        F.struct(*[F.col(c) for c in lcols]).alias("__lrow"),
        F.lit(None).cast(r.schema["__rrow"].dataType).alias("__rrow"),
    )
    unioned = l.unionByName(r)
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward scan: left (__side=1) sorts BEFORE right at equal ts so
    # an equal-ts right row stays inside the [current, following] frame
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = unioned
    if direction in ("backward", "nearest"):
        filled = filled.withColumn(
            "__rrow_b", F.last(F.col("__rrow"), ignorenulls=True).over(w_back)
        )
    if direction in ("forward", "nearest"):
        filled = filled.withColumn(
            "__rrow_w", F.first(F.col("__rrow"), ignorenulls=True).over(w_fwd)
        )
    out = filled.filter(F.col("__side") == 1)

    def with_tolerance(col: F.Column, fwd: bool) -> F.Column:
        if tolerance is None:
            return col
        gap = (
            (col["__rts"] - F.col("__ts")) if fwd
            else (F.col("__ts") - col["__rts"])
        )
        return F.when(
            gap > F.expr(f"INTERVAL {tolerance}"), F.lit(None)
        ).otherwise(col)

    if direction == "backward":
        attached = with_tolerance(F.col("__rrow_b"), fwd=False)
    elif direction == "forward":
        attached = with_tolerance(F.col("__rrow_w"), fwd=True)
    else:
        back = with_tolerance(F.col("__rrow_b"), fwd=False)
        fwd = with_tolerance(F.col("__rrow_w"), fwd=True)
        # exact integer-microsecond distances; tie -> backward
        dt_b = F.unix_micros(F.col("__ts")) - F.unix_micros(back["__rts"])
        dt_f = F.unix_micros(fwd["__rts"]) - F.unix_micros(F.col("__ts"))
        attached = (
            F.when(back.isNull(), fwd)
            .when(fwd.isNull(), back)
            .when(dt_f < dt_b, fwd)
            .otherwise(back)
        )
    return out.select(
        *[F.col("__lrow")[c].alias(c) for c in lcols],
        *[attached[c].alias(c) for c in vals],
    )


def resample_grid(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    step: str = "1 hour",
    agg: str = "avg",
    fill: str | None = "ffill",
) -> DataFrame:
    """Resample each key's series onto a regular grid (per-key min..max
    timestamp, truncated to the step), aggregating in-bucket values and
    optionally forward-filling empty buckets.

    The grid is built with sequence() + explode per key — O(grid size)
    rows, no driver loop; the bucket aggregate and the fill share the
    per-key exchange.

    Not in the reference (its data is assumed gap-free hourly —
    SURVEY §2.4); required for real telemetry.
    """
    aggs = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "count": F.count, "first": F.first, "last": F.last}[agg]
    # Two bucketing regimes, branched on the step unit:
    # - fixed-duration steps (minutes/hours/days/weeks, any multiplier):
    #   F.window(ts, step).start — epoch-aligned multiples of the step, so
    #   stepping sequence(lo, hi, step) from an aligned __lo stays on the
    #   grid for multi-unit steps like '15 minutes' (date_trunc would not).
    # - calendar steps (month/quarter/year): F.window rejects them
    #   ("Intervals greater than a month is not supported"); date_trunc
    #   truncation and INTERVAL stepping stay aligned for 1-unit steps.
    parts = step.strip().split()
    if len(parts) != 2:
        raise ValueError(f"step must be '<n> <unit>', got {step!r}")
    step_n, step_unit = parts[0], parts[1].lower().rstrip("s")
    if step_unit in ("month", "quarter", "year"):
        if step_n != "1":
            raise ValueError(
                f"calendar steps support only a single unit ('1 {step_unit}'); "
                f"got {step!r} — multi-month grids are not epoch-alignable"
            )
        bucket = F.date_trunc(step_unit, F.col(ts_col))
    else:
        bucket = F.window(F.col(ts_col), step)["start"]

    binned = df.withColumn("__bucket", bucket)
    per_bucket = binned.groupBy(*key_cols, "__bucket").agg(
        *[aggs(c).alias(c) for c in value_cols]
    )

    spans = binned.groupBy(*key_cols).agg(
        F.min("__bucket").alias("__lo"), F.max("__bucket").alias("__hi")
    )
    grid = spans.select(
        *key_cols,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("__bucket"),
    )
    joined = grid.join(per_bucket, [*key_cols, "__bucket"], "left")
    if fill == "ffill":
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("__bucket").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        joined = joined.withColumns(
            {c: F.last(F.col(c), ignorenulls=True).over(w) for c in value_cols}
        )
    return joined.withColumnRenamed("__bucket", "bucket_ts")


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 86_400,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval (range-containment) join: match each point row
    to every interval row of the same key whose ``[start, end)``
    contains ``ts`` — the maintenance-window / campaign-period /
    validity-range join of a time-series store.

    A naive ``ts >= start AND ts < end`` non-equi join compiles to
    BroadcastNestedLoop (a scan of every interval per point — dead at
    scale unless one side is tiny). This implementation BUCKETIZES:
    each interval explodes into the fixed-width time buckets it covers,
    each point maps to its single bucket, and the join becomes a plain
    EQUI-join on (keys..., bucket) followed by the exact containment
    filter. Shuffle is keyed by (keys, bucket) — co-partitioned,
    AQE-skew-splittable; blow-up is bounded by
    ``interval_length / bucket_seconds`` rows per interval, so set
    ``bucket_seconds`` near the median interval length. Each (point,
    interval) pair meets in EXACTLY one bucket (the point's), so no
    dedup pass is needed.

    ``how='left'`` keeps pointless points (interval columns null).
    """
    keys = list(on)
    blen = F.lit(int(bucket_seconds)).cast("long")
    istart = F.unix_timestamp(F.col(start_col))
    iend = F.unix_timestamp(F.col(end_col))
    ivals = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(F.floor(istart / blen), F.floor(iend / blen))
        ),
    )
    pts = points.withColumn(
        "__b", F.floor(F.unix_timestamp(F.col(ts_col)) / blen)
    )
    cond = (F.col(ts_col) >= F.col(start_col)) & (
        F.col(ts_col) < F.col(end_col)
    )
    if how == "inner":
        return pts.join(ivals, keys + ["__b"]).filter(cond).drop("__b")
    if how == "left":
        matched = pts.join(ivals, keys + ["__b"]).filter(cond).drop("__b")
        ival_cols = [
            c for c in ivals.columns if c not in keys and c != "__b"
        ]
        missing = pts.drop("__b").join(
            matched.select(*points.columns).distinct(),
            points.columns,
            "left_anti",
        )
        for c in ival_cols:
            missing = missing.withColumn(
                c, F.lit(None).cast(dict(ivals.dtypes)[c])
            )
        return matched.unionByName(missing)
    raise ValueError(f"how must be inner|left, got {how!r}")


def seasonal_naive_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    season_rows: int = 24,
    unit_digits: int | None = None,
) -> DataFrame:
    """Seasonal-naive forecast + in-sample backtest — the baseline every
    forecasting evaluation starts from (forecast = the value one season
    ago), over a REGULAR grid (compose after :func:`resample_grid`).

    Adds per row: ``forecast`` (= ``lag(value, season_rows)``),
    ``abs_err`` (null while no forecast exists), and ``naive_mae`` — the
    running mean absolute error over the series so far, i.e. the
    expanding backtest score a monitoring job alerts on when a better
    model stops beating it.

    One window exchange (same key+order as the rest of the resample
    family). ``unit_digits``: the family's exact integer-unit mode —
    errors become integer micro-units and the running MAE uses the
    deterministic ``floor((2S+n)/(2n))`` rounding, so every output is
    engine-exact (a float running mean's denominator-n rationals sit on
    rounding boundaries routinely).
    """
    w_ord = Window.partitionBy(*[F.col(c) for c in series_cols]).orderBy(
        F.col(ts_col).asc()
    )
    run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fc = F.lag(value_col, season_rows).over(w_ord)
    d = df.withColumn("forecast", fc)
    if unit_digits is None:
        d = d.withColumn("abs_err", F.abs(F.col(value_col) - F.col("forecast")))
        return d.withColumn("naive_mae", F.avg("abs_err").over(run))
    scale = 10**unit_digits
    err_i = F.expr(unit_snap(f"abs({col_ref(value_col)} - forecast)", scale))
    d = d.withColumn("__err_i", err_i)
    s_run = F.sum("__err_i").over(run)
    n_run = F.count("__err_i").over(run)
    # nullif: rows before the first forecast have n=0 -> MAE undefined
    mae_i = F.floor(
        (2 * s_run + n_run) / F.nullif(2 * n_run, F.lit(0))
    ).cast("bigint")
    return (
        d.withColumn("abs_err", F.col("__err_i") / scale)
        .withColumn("naive_mae", mae_i / scale)
        .drop("__err_i")
    )


def xcorr_lags(
    df: DataFrame,
    a_col: str,
    b_col: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    max_lag: int = 12,
    round_digits: int = 6,
    unit_digits: int | None = None,
) -> DataFrame:
    """Per-series lead-lag cross-correlation: Pearson corr between
    ``a_t`` and ``b_{t-k}`` for each lag ``k`` in [0, max_lag] — the
    classic "does signal B lead signal A by k steps?" diagnostic
    (sensor pipelines: upstream pressure leading downstream flow;
    market data: one book leading another). The argmax lag estimates
    the transport delay between the two signals.

    Output: one row per (key, lag) with ``xcorr`` (NULL when either
    slice is constant or the overlap has < 3 points) and ``n_pairs``.

    100 TB shape: all lags share the ONE ``(key, order)`` window
    exchange the feature stage already pays (each lag is one more
    ``lag()`` over the same sorted run, evaluated in a single Window
    operator), then one (key)-grouped aggregate with map-side partial
    ``corr`` buffers — no self-joins, no per-lag passes over the data.
    ``max_lag`` is a plan-width knob (columns), not a scan-count knob.

    ``unit_digits``: snap both signals to ``10^-d`` units so every
    sufficient-statistic sum is an EXACT BIGINT — Pearson corr is
    scale-invariant, so the result equals the float estimator up to the
    input grid, and the statistic becomes cross-engine hash-exact (the
    repo's integer-unit determinism convention).
    """
    if max_lag < 0:
        raise ValueError(f"xcorr_lags: max_lag must be >= 0, got {max_lag}")
    keys = list(key_cols)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_cols])
    if unit_digits is not None:
        scale = 10**unit_digits
        a_in = F.expr(unit_snap(col_ref(a_col), scale))
        b_in = F.expr(unit_snap(col_ref(b_col), scale))
    else:
        a_in = F.col(a_col).cast("double")
        b_in = F.col(b_col).cast("double")
    lagged = df.select(
        *keys,
        a_in.alias("__a"),
        *[
            F.lag(b_in, k).over(w).alias(f"__b{k}")
            for k in range(max_lag + 1)
        ],
    )
    # Pearson corr from sufficient statistics rather than F.corr: the
    # built-in raises DIVIDE_BY_ZERO under ANSI mode when a slice is
    # constant; this formulation NULLs the degenerate case instead.
    # Sums are restricted to rows where BOTH sides are present (the
    # pairwise-complete convention).
    aggs = []
    for k in range(max_lag + 1):
        b = F.col(f"__b{k}")
        both = F.col("__a").isNotNull() & b.isNotNull()
        a_ = F.when(both, F.col("__a"))
        b_ = F.when(both, b)
        aggs.extend(
            [
                F.count(a_).cast("bigint").alias(f"__n{k}"),
                F.sum(a_).alias(f"__sa{k}"),
                F.sum(b_).alias(f"__sb{k}"),
                F.sum(a_ * b_).alias(f"__sab{k}"),
                F.sum(a_ * a_).alias(f"__saa{k}"),
                F.sum(b_ * b_).alias(f"__sbb{k}"),
            ]
        )
    stats = lagged.groupBy(*keys).agg(*aggs)

    def corr_expr(k: int):
        n = F.col(f"__n{k}").cast("double")
        # int mode: sums are BIGINT — cast to double explicitly so the
        # arithmetic shape (and thus every IEEE result) matches the SQL
        # oracle formulation bit-for-bit
        sa, sb = (
            F.col(f"__sa{k}").cast("double"),
            F.col(f"__sb{k}").cast("double"),
        )
        sab, saa, sbb = (
            F.col(f"__sab{k}").cast("double"),
            F.col(f"__saa{k}").cast("double"),
            F.col(f"__sbb{k}").cast("double"),
        )
        cov = n * sab - sa * sb
        va = n * saa - sa * sa
        vb = n * sbb - sb * sb
        denom = F.sqrt(F.when((va > 0) & (vb > 0), va * vb))
        return F.when(
            F.col(f"__n{k}") >= 3, F.round(cov / denom, round_digits)
        )

    per_lag = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                corr_expr(k).alias("xcorr"),
                F.col(f"__n{k}").alias("n_pairs"),
            )
            for k in range(max_lag + 1)
        ]
    )
    return (
        stats.select(*keys, F.explode(per_lag).alias("__r"))
        .select(
            *keys,
            F.col("__r.lag").alias("lag"),
            F.col("__r.xcorr").alias("xcorr"),
            F.col("__r.n_pairs").alias("n_pairs"),
        )
    )


def acf_lags(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    max_lag: int = 48,
    round_digits: int = 6,
    unit_digits: int | None = None,
) -> DataFrame:
    """Per-series autocorrelation function: Pearson corr between the
    series and itself shifted by ``k`` for each lag in [0, max_lag].

    Convention: pairwise-Pearson over the overlapping slices (what
    ``np.corrcoef(x[k:], x[:-k])`` computes), the same estimator
    :func:`xcorr_lags` uses — each lag re-centers on its own slice, so
    short series don't bias toward zero the way the fixed-mean
    (statsmodels ``acf``) convention does. Lag 0 is 1.0 by definition
    (emitted for completeness), constant slices NULL.

    Plan shape is inherited from :func:`xcorr_lags`: ONE (key, order)
    window exchange carries every lag column, then one grouped
    aggregate — ``max_lag`` widens the plan, never adds a pass.
    """
    return xcorr_lags(
        df,
        a_col=value_col,
        b_col=value_col,
        key_cols=key_cols,
        order_cols=order_cols,
        max_lag=max_lag,
        round_digits=round_digits,
        unit_digits=unit_digits,
    ).withColumnRenamed("xcorr", "acf")


def dominant_period(
    acf: DataFrame,
    key_cols: Sequence[str],
    min_lag: int = 2,
    harmonic_tol: float = 0.01,
    acf_col: str = "acf",
    lag_col: str = "lag",
    n_col: str = "n_pairs",
) -> DataFrame:
    """Seasonality detection: per key, the dominant-period estimate from
    the ACF — hourly data with daily seasonality lands on period 24; the
    ``min_lag`` floor keeps the trivial lag-0/1 ridge from winning.

    Raw argmax is harmonic-unstable: a period-p signal has near-equal
    ACF at p, 2p, 3p, ... and noise decides which multiple edges ahead.
    So every lag whose ACF is within ``harmonic_tol`` of the per-key max
    counts as tied, and the SHORTEST tied lag wins — the fundamental,
    not its echo. ``peak_acf`` is the ACF at the chosen lag (within tol
    of the global max by construction).

    Output: one row per key with ``period`` (NULL when no finite ACF
    candidate exists), ``peak_acf``, and ``significant`` — Bartlett's
    white-noise band test ``|r| > 2/sqrt(n)`` at the chosen lag.

    Cost: one partition-only window (max over the per-lag rows — no
    sort) + one grouped ``min`` over a (lag, acf, n) struct, all on the
    already-tiny keys x lags table.
    """
    keys = list(key_cols)
    ok = (F.col(lag_col) >= min_lag) & F.col(acf_col).isNotNull()
    peak = F.max(F.when(ok, F.col(acf_col))).over(Window.partitionBy(*keys))
    sel = ok & (F.col(acf_col) >= F.col("__peak") - F.lit(harmonic_tol))
    cand = F.when(
        sel,
        F.struct(
            F.col(lag_col).alias("lag"),
            F.col(acf_col).alias("a"),
            F.col(n_col).alias("n"),
        ),
    )
    best = (
        acf.withColumn("__peak", peak)
        .groupBy(*keys)
        .agg(F.min(cand).alias("__best"))
    )
    a = F.col("__best.a")
    n = F.col("__best.n").cast("double")
    return best.select(
        *keys,
        F.col("__best.lag").cast("int").alias("period"),
        a.alias("peak_acf"),
        F.when(a.isNotNull() & (n > 0), F.abs(a) > 2.0 / F.sqrt(n)).alias(
            "significant"
        ),
    )


def hw_numpy(y, m: int, a: float, b_: float, g: float, ph: float):
    """The additive (φ-damped) Holt-Winters recursion on one series —
    the exact loop :func:`holt_winters` always ran, extracted so the
    fused :func:`forecast_selector` kernel calls the identical code
    (bit-equal backtests). Returns ``(fc, err, mae, level, trend,
    seas)``; the state triple is None/None/None when the series is too
    short to initialize (n < 2*m)."""
    import numpy as np
    import pandas as pd

    y = np.asarray(y, dtype="float64")
    n = len(y)
    fc = np.full(n, np.nan)
    level = trend = seas = None
    if n >= 2 * m:
        level = y[:m].mean()
        trend = (y[m : 2 * m].mean() - y[:m].mean()) / m
        seas = y[:m] - level
        for t in range(m, n):
            fc[t] = level + ph * trend + seas[t % m]
            prev_level = level
            level = a * (y[t] - seas[t % m]) + (1 - a) * (level + ph * trend)
            trend = b_ * (level - prev_level) + (1 - b_) * ph * trend
            seas[t % m] = g * (y[t] - prev_level - trend) + (1 - g) * seas[t % m]
    err = np.abs(y - fc)
    with np.errstate(invalid="ignore"):
        mae = (
            pd.Series(err).expanding().mean().to_numpy()
        )  # nan until the first finite err, matching naive_mae's nulls
    return fc, err, mae, level, trend, seas


def _check_hw_params(
    name: str, season_rows: int, alpha: float, beta: float, gamma: float,
    phi: float,
) -> None:
    """Driver-side parameter checks of every Holt-Winters caller, so a bad
    value raises before a job runs instead of inside the executor's
    :func:`hw_numpy` (``season_rows=0`` divides by zero there)."""
    if season_rows < 2:
        raise ValueError(f"{name}: season_rows must be >= 2, got {season_rows}")
    for p, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name}: {p} must be in (0,1), got {v}")
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"{name}: phi must be in (0,1], got {phi}")


def holt_winters(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    season_rows: int = 24,
    alpha: float = 0.2,
    beta: float = 0.05,
    gamma: float = 0.1,
    horizon: int = 0,
    phi: float = 1.0,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, Winters
    1960; recursions as in Hyndman & Athanasopoulos FPP ch. 8) — the
    step up from :func:`seasonal_naive_forecast` when a series carries
    trend as well as seasonality.

    ``phi``: trend damping (Gardner & McKenzie 1985; FPP §8.6) —
    ``phi=1`` is the classic additive form (bit-identical to the
    pre-damping implementation); ``phi<1`` replaces every ``b`` with
    ``phi*b`` in the recursions and the h-step-ahead trend term with
    the geometric sum ``(phi + ... + phi^h)*b``, the standard fix for
    linear-trend over-extrapolation at horizon.

    Per row (in-sample): ``hw_forecast`` — the ONE-STEP-AHEAD forecast
    ``l_{t-1} + b_{t-1} + s_{t-m}`` (null across the first-season init
    region), ``abs_err``, and ``hw_mae`` (expanding backtest mean, the
    number a monitoring job compares against ``naive_mae``). With
    ``horizon=h``, each series additionally emits ``h`` future rows
    (``is_future=true``, ``value`` null) at the grid step inferred from
    the series: ``l_n + k*b_n + s_{n+k-m}``.

    Initialization (classic): level = mean of season 1, trend =
    (mean season 2 - mean season 1)/m, seasonals = season-1 residuals
    vs the level. Series shorter than ``2*season_rows`` come back with
    null forecasts and no future rows (not enough data to initialize —
    explicit, never extrapolated from garbage).

    Input contract: a REGULAR, null-free grid per series (compose after
    :func:`resample_grid` + a fill operator); a null value raises.

    Execution: the recursion is inherently sequential per series — the
    one shape Catalyst genuinely can't express — so it runs as numpy
    inside ONE Arrow-batched ``applyInPandas`` per series group
    (engine-design rule: Python only where built-ins can't go).
    Parallelism comes from series count, the same axis every other
    per-key operator here scales on; state is O(season_rows) per series
    regardless of length.
    """
    _check_hw_params("holt_winters", season_rows, alpha, beta, gamma, phi)
    if horizon < 0:
        raise ValueError(f"holt_winters: horizon must be >= 0, got {horizon}")
    keys = list(series_cols)
    out_schema = (
        ddl(df.schema, [*keys, ts_col, value_col])
        + ", hw_forecast double, abs_err double, hw_mae double, is_future boolean"
    )
    fit = partial(
        _hw_fit, keys=keys, ts_col=ts_col, value_col=value_col, m=season_rows,
        params=(float(alpha), float(beta), float(gamma), float(phi)), h=horizon,
    )
    return df.select(*keys, ts_col, value_col).groupBy(*keys).applyInPandas(
        fit, out_schema
    )


def _hw_fit(pdf, *, keys, ts_col, value_col, m, params, h):
    """:func:`holt_winters`' output frame for one series ``pdf``: its
    rows in time order with the in-sample columns, then ``h`` future
    rows."""
    import numpy as np
    import pandas as pd

    ph = params[-1]
    pdf = pdf.sort_values(ts_col).reset_index(drop=True)
    y = pdf[value_col].to_numpy(dtype="float64")
    n = len(y)
    if np.isnan(y).any():
        raise ValueError(
            "holt_winters: null values in series — fill the grid first"
        )
    fc, err, mae, level, trend, seas = hw_numpy(y, m, *params)
    out = pdf[keys + [ts_col, value_col]].copy()
    out["hw_forecast"] = fc
    out["abs_err"] = err
    out["hw_mae"] = mae
    out["is_future"] = False
    if h > 0 and n >= 2 * m:
        step = pdf[ts_col].iloc[1] - pdf[ts_col].iloc[0]
        fut = {k: [pdf[k].iloc[0]] * h for k in keys}
        fut[ts_col] = [pdf[ts_col].iloc[-1] + step * k for k in range(1, h + 1)]
        # nulls of the column's own float dtype, not None: pd.concat
        # warns that it will stop ignoring an all-None float column's
        # object dtype (an integer column takes None without a warning)
        kind = out[value_col].dtype
        fut[value_col] = np.full(h, np.nan, dtype=kind) if kind.kind == "f" else [None] * h
        # damped h-step trend term: (phi + ... + phi^k) * b;
        # phi=1 reduces to the classic k * b exactly
        phis = np.cumsum([ph**j for j in range(1, h + 1)])
        fut["hw_forecast"] = [
            level + phis[k - 1] * trend + seas[(n + k - 1) % m]
            for k in range(1, h + 1)
        ]
        fut["abs_err"] = np.full(h, np.nan)
        fut["hw_mae"] = np.full(h, np.nan)
        fut["is_future"] = [True] * h
        out = pd.concat([out, pd.DataFrame(fut)], ignore_index=True)
    return out


def m4_downsample(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    n_buckets: int = 1000,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014) — the error-free way to
    draw a billion-point series on a w-pixel chart: per time bucket keep
    the rows holding the min, max, first, and last values; line-joining
    those ≤4 points per pixel column renders the SAME pixels as the full
    series.

    Output: the selected original ROWS (all input columns) plus
    ``bucket`` — at most ``4 * n_buckets`` rows per series, however
    large the input. Buckets split each series' [min ts, max ts] span
    evenly into ``n_buckets`` (the pixel-column analogy), computed from
    one tiny per-series span aggregate broadcast back.

    Plan: one per-series span aggregate (broadcast join), one
    (series, bucket) aggregate selecting the four extreme (value, ts)
    pairs via ``min_by``/``max_by``/``min``/``max`` structs, and one
    semi-join back to fetch the rows — aggregates partial+final, the
    big side shuffles once on the series key family. No windows, no
    sorts over the raw data.
    """
    if n_buckets < 1:
        raise ValueError(f"m4_downsample: n_buckets must be >= 1, got {n_buckets}")
    keys = list(series_cols)
    ts = F.col(ts_col).cast("double")
    spans = df.groupBy(*keys).agg(
        F.min(ts).alias("__lo"), F.max(ts).alias("__hi")
    )
    b = df.join(F.broadcast(spans), keys)
    # last bucket is inclusive of the span max: clamp index to n-1
    idx = F.least(
        F.floor(
            (ts - F.col("__lo"))
            / F.nullif((F.col("__hi") - F.col("__lo")) / n_buckets, F.lit(0.0))
        ).cast("int"),
        F.lit(n_buckets - 1),
    )
    b = b.withColumn("bucket", F.coalesce(idx, F.lit(0)))
    v = F.col(value_col)
    # struct-ordered picks, NOT min_by/max_by: ties on the value would
    # otherwise select an arbitrary row (engine- and partitioning-
    # dependent). Lexicographic (value, ts) makes the choice
    # deterministic and engine-portable: min -> earliest ts among
    # minima (pandas idxmin convention), max -> earliest ts among
    # maxima via the negated-ts trick (pandas idxmax convention).
    # NULL values are excluded from the value picks (min/max skip
    # null structs), as min_by did.
    vmin_s = F.when(v.isNotNull(), F.struct(v.alias("v"), ts.alias("t")))
    vmax_s = F.when(
        v.isNotNull(), F.struct(v.alias("v"), (-ts).alias("nt"))
    )
    picks = b.groupBy(*keys, "bucket").agg(
        F.min(vmin_s).getField("t").alias("__t_min"),
        (-F.max(vmax_s).getField("nt")).alias("__t_max"),
        F.min(ts).alias("__t_first"),
        F.max(ts).alias("__t_last"),
    )
    wanted = picks.select(
        *keys,
        F.explode(
            F.array_distinct(
                F.array("__t_min", "__t_max", "__t_first", "__t_last")
            )
        ).alias("__t_keep"),
    ).where(F.col("__t_keep").isNotNull())
    return (
        b.withColumn("__keep_ts", ts)
        .join(
            wanted.withColumnRenamed("__t_keep", "__keep_ts"),
            [*keys, "__keep_ts"],
            "left_semi",
        )
        .drop("__keep_ts", "__lo", "__hi")
    )


def gap_report(
    df: DataFrame,
    ts_col: str,
    series_cols: Sequence[str],
    step: str = "1 hour",
) -> DataFrame:
    """Per-series continuity audit — the question asked before trusting
    any window/fill/forecast result: where does the grid break?

    Output: one row per series with ``n_rows``, ``span_start/end``,
    ``n_gaps`` (consecutive-timestamp deltas strictly greater than
    ``step``), ``max_gap_seconds``, ``missing_rows`` (how many grid
    slots a :func:`resample_grid` pass would have to fill, i.e.
    ``sum(ceil(delta/step) - 1)`` over the gaps), and ``n_dup_ts``
    (duplicate timestamps — the thing dedup policies exist for).

    One (series, ts) window for the deltas + one grouped aggregate —
    the same exchange the downstream operators pay anyway.
    """
    keys = list(series_cols)
    # INTERVAL -> seconds as a constant-folded expression (epoch + step)
    step_sec = F.unix_timestamp(
        F.to_timestamp(F.lit("1970-01-01 00:00:00"))
        + F.expr(f"INTERVAL {step}")
    ).cast("double")
    d = df.select(*keys, F.col(ts_col).alias("__ts")).withColumn(
        "__delta",
        F.col("__ts").cast("double") - F.lag("__ts").over(
            Window.partitionBy(*keys).orderBy(F.col("__ts").asc())
        ).cast("double"),
    )
    is_gap = F.col("__delta") > step_sec
    return d.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.min("__ts").alias("span_start"),
        F.max("__ts").alias("span_end"),
        F.coalesce(F.sum(is_gap.cast("int")), F.lit(0)).alias("n_gaps"),
        F.max(F.when(is_gap, F.col("__delta"))).alias("max_gap_seconds"),
        F.sum(
            F.when(is_gap, F.ceil(F.col("__delta") / step_sec) - 1).otherwise(
                F.lit(0)
            )
        ).alias("missing_rows"),
        (F.count("*") - F.count_distinct(F.col("__ts"))).alias("n_dup_ts"),
    )


def conformal_band(
    forecast_df: DataFrame,
    series_cols: Sequence[str],
    forecast_col: str = "hw_forecast",
    err_col: str = "abs_err",
    coverage: float = 0.9,
    unit_digits: int | None = None,
) -> DataFrame:
    """Split-conformal prediction intervals for any forecast column
    (Vovk et al.; the distribution-free band): per series, take the
    ``coverage`` quantile of the in-sample one-step absolute errors as
    the half-width ``q``, then every row (in-sample or future) gets
    ``lo = forecast - q``, ``hi = forecast + q``. Guarantees marginal
    coverage ≥ ``coverage`` under exchangeability of residuals — no
    distributional assumption, which is exactly what the model-free
    battery philosophy wants.

    Composes directly over :func:`holt_winters` or
    :func:`seasonal_naive_forecast` output (any frame carrying a
    forecast and an in-sample absolute-error column). One per-series
    quantile aggregate (tiny) broadcast back; rows with no forecast
    keep null bands.

    ``unit_digits``: snap the error column to ``10^-d`` units and keep
    the quantile in exact tenth-unit integers (``round(10·percentile)``
    — with coverage on the 0.1 grid the interpolation fraction is a
    tenth, so 10× the quantile of integers is an exact integer; the
    repo's cross-engine determinism convention). The half-width is then
    an exact multiple of ``10^-(d+1)`` and the bands derive as
    identical doubles in any engine — emit them unrounded.
    """
    if not 0.0 < coverage < 1.0:
        raise ValueError(
            f"conformal_band: coverage must be in (0,1), got {coverage}"
        )
    keys = list(series_cols)
    if unit_digits is not None:
        if abs(coverage * 10 - round(coverage * 10)) > 1e-12:
            raise ValueError(
                "conformal_band: unit mode needs coverage on the 0.1 grid"
            )
        scale = 10**unit_digits
        err_i = F.expr(unit_snap(col_ref(err_col), scale))
        q = forecast_df.groupBy(*keys).agg(
            (
                F.round(10 * F.percentile(err_i, F.lit(coverage))).cast(
                    "bigint"
                )
                / F.lit(float(10 * scale))
            ).alias("__q"),
            F.count(err_col).alias("__n_cal"),
        )
    else:
        q = forecast_df.groupBy(*keys).agg(
            F.percentile(F.col(err_col), F.lit(coverage)).alias("__q"),
            F.count(err_col).alias("__n_cal"),
        )
    out = forecast_df.join(F.broadcast(q), keys, "left")
    fc = F.col(forecast_col)
    return (
        out.withColumn("band_halfwidth", F.col("__q"))
        .withColumn("band_lo", fc - F.col("__q"))
        .withColumn("band_hi", fc + F.col("__q"))
        .withColumn("n_calibration", F.col("__n_cal"))
        .drop("__q", "__n_cal")
    )


def forecast_selector(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    season_rows: int = 24,
    alpha: float = 0.2,
    beta: float = 0.05,
    gamma: float = 0.1,
    phi: float = 0.9,
) -> DataFrame:
    """Per-series champion table: run the seasonal-naive baseline,
    Holt-Winters, and (r8) the φ-DAMPED Holt-Winters through their
    expanding backtests on the same grid and pick the winner by FINAL
    backtest MAE — the standard "never deploy a model that loses to
    naive" gate (Hyndman's golden rule), with the damped form covering
    saturating trends that the linear trend over-extrapolates.

    Output: one row per series with ``naive_mae``, ``hw_mae``,
    ``hw_damped_mae``, ``chosen`` ('naive' | 'holt_winters' |
    'holt_winters_damped'), and ``mae_ratio`` (best-HW/naive; < 1 means
    the smoother earned its complexity). Ties and null-backtest series
    (too short for HW init) fall back to 'naive' — the conservative
    default; between the two HW forms a tie goes to the damped one
    (fewer effective degrees of extrapolation).

    Cost (r15): the three model backtests run FUSED as one column
    function in the shared per-series stage (:func:`~.series.per_series`,
    the runner every per-series detector composes through): it calls the
    exact :func:`hw_numpy` (φ=1 and φ=damped) and :func:`theta_numpy`
    loops on the same sorted array and returns the per-series FINAL MAEs
    as one row — one grid shuffle, one Arrow boundary, and a one-row-per-
    series return instead of three full per-row frames reduced by
    ``max_by``. Bit-equal to the composed operators: the final backtest
    MAE is the expanding mean at the series' last row, which is exactly
    what ``max_by(mae, ts)`` over the per-row frame selected.
    """
    _check_hw_params("forecast_selector", season_rows, alpha, beta, gamma, phi)
    keys = list(series_cols)
    nv = seasonal_naive_forecast(df, ts_col, value_col, keys, season_rows)
    nv_final = nv.groupBy(*keys).agg(
        F.max_by("naive_mae", F.col(ts_col)).alias("naive_mae")
    )

    # theta_forecast's own defaults: the composed selector always called
    # it without overrides
    theta = inspect.signature(theta_forecast).parameters
    fused = per_series(
        df, keys, ts_col, value_col,
        partial(
            _selector_finals,
            hw=(int(season_rows), float(alpha), float(beta), float(gamma)),
            phi=float(phi),
            theta=(theta["alpha"].default, theta["min_points"].default),
        ),
        "hw_mae double, hw_damped_mae double, theta_mae double",
        name="forecast_selector",
        carry=(),
    )
    j = nv_final.join(fused, keys, "left")
    naive, hw_m, dm, th = (
        F.col("naive_mae"), F.col("hw_mae"), F.col("hw_damped_mae"),
        F.col("theta_mae"),
    )
    # best HW form: damped wins ties (least extrapolation)
    best_is_damped = dm.isNotNull() & (hw_m.isNull() | (dm <= hw_m))
    best_hw = F.when(best_is_damped, dm).otherwise(hw_m)
    # r8 fourth candidate: theta (non-seasonal SES-with-drift); the
    # challenger is the best non-naive model, ties to the simpler theta
    chal_is_theta = th.isNotNull() & (best_hw.isNull() | (th <= best_hw))
    chal = F.least(best_hw, th)
    wins = chal.isNotNull() & naive.isNotNull() & (chal < naive)
    return j.select(
        *keys,
        "naive_mae",
        "hw_mae",
        "hw_damped_mae",
        "theta_mae",
        F.when(wins & chal_is_theta, F.lit("theta"))
        .when(wins & best_is_damped, F.lit("holt_winters_damped"))
        .when(wins, F.lit("holt_winters"))
        .otherwise(F.lit("naive"))
        .alias("chosen"),
        (chal / F.nullif(naive, F.lit(0.0))).alias("mae_ratio"),
    )


def _selector_finals(y, hw, phi, theta):
    """:func:`forecast_selector`'s fused backtests over one sorted series
    ``y``: the final MAE of Holt-Winters (``hw`` = season rows, alpha,
    beta, gamma) undamped and damped by ``phi``, and of theta (``theta``
    = alpha, min_points), as one row."""
    hw_mae = hw_numpy(y, *hw, 1.0)[2]
    dm_mae = hw_numpy(y, *hw, phi)[2]
    th_mae = theta_numpy(y, *theta)[2]
    return {
        "hw_mae": hw_mae[-1:], "hw_damped_mae": dm_mae[-1:],
        "theta_mae": th_mae[-1:],
    }


# (count, sum t, sum y, sum t^2, sum t*y, SES level, error sum, error count)
THETA_INIT = (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0)


def theta_kernel(state, ys, a: float, mp: int):
    """The causal two-line theta recursion, resumable: ``state`` holds
    the expanding-OLS sums, the SES level and the backtest accumulators
    after the values already seen (:data:`THETA_INIT` before any), and
    ``ys`` are the next values in time order. Returns the new state and,
    per value, ``(forecast, abs_err, mae)`` (None before the line
    exists). :func:`theta_numpy` and the streaming twin both run it."""
    cnt, sx, sy, sxx, sxy, ses, err_sum, err_n = state
    out = []
    for y in ys:
        if y is None or y != y:
            raise ValueError("theta_forecast: null values in series (fill first)")
        y = float(y)
        t = cnt
        if cnt == 0:
            ses = y
        fc = err = None
        z = y
        if cnt >= mp:
            det = cnt * sxx - sx * sx
            if det > 0:
                b = (cnt * sxy - sx * sy) / det
                a0 = (sy - b * sx) / cnt
                line_t = a0 + b * t
                fc = 0.5 * (line_t + ses)
                err = abs(y - fc)
                err_sum += err
                err_n += 1
                z = 2.0 * y - line_t
        ses = a * z + (1.0 - a) * ses
        sx += t
        sy += y
        sxx += t * t
        sxy += t * y
        cnt += 1
        out.append((fc, err, err_sum / err_n if err_n else None))
    return (cnt, sx, sy, sxx, sxy, ses, err_sum, err_n), out


def _whole_series(kernel, init, y, *params):
    """``kernel`` over one whole series from ``init``: its per-row
    ``(forecast, abs_err, mae)`` as three float64 arrays (None -> NaN)."""
    import numpy as np

    _, rows = kernel(init, np.asarray(y, dtype="float64").tolist(), *params)
    return tuple(np.array(rows, dtype="float64").reshape(-1, 3).T)


def _backtest_columns(numpy_fn, model, params, y):
    """A backtested forecaster's columns for one sorted series ``y``:
    ``{model}_forecast``, ``abs_err`` and ``{model}_mae`` from
    ``numpy_fn(y, *params)``."""
    return dict(zip((f"{model}_forecast", "abs_err", f"{model}_mae"),
                    numpy_fn(y, *params)))


def theta_numpy(y, a: float, mp: int):
    """:func:`theta_kernel` over one whole series, as
    :func:`theta_forecast` and the fused :func:`forecast_selector`
    kernel run it (bit-equal backtests). Returns ``(fc, err, mae)``."""
    return _whole_series(theta_kernel, THETA_INIT, y, a, mp)


def theta_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    alpha: float = 0.2,
    min_points: int = 3,
) -> DataFrame:
    """Theta-method one-step forecasts (Assimakopoulos & Nikolopoulos,
    IJF 2000; Hyndman & Billah, IJF 2003 show the classical two-line
    theta is SES-with-drift): the M3-competition-winning non-seasonal
    baseline between seasonal-naive and Holt-Winters in the family.

    Classical two-line form, made strictly CAUSAL for the in-sample
    backtest (the textbook version fits the theta-0 line on the whole
    series — a look-ahead the expanding backtest must not have):
    at each step the theta-0 line is the EXPANDING OLS fit of the past,
    the theta-2 value ``z_t = 2*y_t - line_t`` uses the line available
    at its own time, SES (parameter ``alpha``) runs over those z's, and
    the one-step forecast is the average of the extrapolated line and
    the SES state — ``(line + z_hat)/2``, consistent with
    ``y = (L0 + Z)/2`` by construction.

    Output per row: ``theta_forecast`` (null for the first
    ``min_points`` rows — no line yet), ``abs_err``, ``theta_mae``
    (expanding backtest mean — directly comparable to ``naive_mae`` /
    ``hw_mae``). Sequential per series: one pass per group in the
    shared Arrow stage :func:`~.series.per_series`, O(1) state (five
    OLS sums + the SES scalar). The
    recursion is :func:`theta_kernel`, which the streaming twin
    ``streaming.rolling.streaming_theta`` folds too.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"theta_forecast: alpha must be in (0,1), got {alpha}")
    if min_points < 3:
        raise ValueError(f"theta_forecast: min_points must be >= 3, got {min_points}")
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(_backtest_columns, theta_numpy, "theta", (float(alpha), int(min_points))),
        "theta_forecast double, abs_err double, theta_mae double",
        name="theta_forecast",
    )


# (size level, interval level, size seen, interval seen, periods since
# the last demand, error sum, error count)
CROSTON_INIT = (0.0, 0.0, False, False, 0, 0.0, 0)


def croston_kernel(state, ys, a: float, factor: float):
    """Croston's two demand-only SES recursions, resumable: ``state``
    is :data:`CROSTON_INIT` before any value, ``ys`` the next periods'
    demands in time order. Returns the new state and, per period,
    ``(forecast, abs_err, mae)`` (None before the second demand).
    :func:`croston_numpy` and the streaming twin both run it."""
    z, p, has_z, has_p, gap, err_sum, err_n = state
    out = []
    for y in ys:
        if y is None or y != y:
            raise ValueError("croston_forecast: null values in series (fill first)")
        y = float(y)
        if y < 0:
            raise ValueError("croston_forecast: negative demand")
        fc = err = None
        if has_z and has_p and p > 0:
            fc = factor * z / p
            err = abs(y - fc)
            err_sum += err
            err_n += 1
        gap += 1
        if y > 0:
            if not has_z:
                # the first demand initializes the size; the interval
                # initializes on the SECOND demand
                z, has_z = y, True
            elif not has_p:
                p, has_p = float(gap), True
                z = a * y + (1.0 - a) * z
            else:
                z = a * y + (1.0 - a) * z
                p = a * gap + (1.0 - a) * p
            gap = 0
        out.append((fc, err, err_sum / err_n if err_n else None))
    return (z, p, has_z, has_p, gap, err_sum, err_n), out


def croston_numpy(y, a: float, factor: float):
    """:func:`croston_kernel` over one whole series, as
    :func:`croston_forecast` runs it; ``factor`` is the SBA correction
    ``1 - a/2`` (1.0 for plain Croston). Returns ``(fc, err, mae)``."""
    return _whole_series(croston_kernel, CROSTON_INIT, y, a, factor)


def croston_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    alpha: float = 0.1,
    sba: bool = True,
) -> DataFrame:
    """Croston's method for INTERMITTENT series (Croston, Op. Res. Q.
    1972) with the Syntetos-Boylan bias correction (``sba=True``; IJF
    2005) — the standard forecaster when most periods are ZERO (error
    counts, rare-event rates, spare-parts demand), where SES/HW decay
    toward zero between events and seasonal-naive is noise.

    Two SES recursions, both updated ONLY on demand periods: ``z`` over
    the non-zero sizes and ``p`` over the inter-demand intervals; the
    per-period demand-rate forecast is ``z/p`` (times ``1 - alpha/2``
    for SBA). The forecast is flat between demands — that is the
    method's point. Null until the second demand (no interval before
    that).

    Output per row: ``croston_forecast`` (the one-step-ahead rate held
    from the previous period), ``abs_err``, ``croston_mae`` (expanding
    backtest over ALL periods, zeros included — directly comparable to
    ``naive_mae``). Sequential per series: one pass per group in the
    shared Arrow stage :func:`~.series.per_series`, O(1) state (two SES
    scalars + a gap counter). The
    recursion is :func:`croston_kernel`, which the streaming twin
    ``streaming.rolling.streaming_croston`` folds too.

    Input contract: a regular grid with zeros filled in (compose after
    ``resample_grid`` + ``fill_zero``); negative demand raises.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"croston_forecast: alpha must be in (0,1), got {alpha}")
    a = float(alpha)
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(_backtest_columns, croston_numpy, "croston",
                (a, (1.0 - a / 2.0) if sba else 1.0)),
        "croston_forecast double, abs_err double, croston_mae double",
        name="croston_forecast",
    )
