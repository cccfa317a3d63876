"""Anomaly detection (SURVEY.md §2.12 ML3).

The reference SPECIFIES detection but never implements it: score new data
with the trained LSTM autoencoder, flag sequences whose reconstruction
error exceeds ``ANOMALY_THRESHOLD = 3.0`` (reference main.py:223-231,
config.py:21 — a 3-sigma style constant).

The engine ships three tiers:

1. :func:`rolling_zscore` — model-free 3-sigma on rolling statistics
   (F3 outputs). Pure window expressions, SQL-expressible, the flagship
   correctness query.
2. :func:`global_zscore_flags` — standardize any error/score column
   globally and flag ``|z| > threshold`` (the exact contract the
   reference's spec describes, applied to a reconstruction-error column).
3. :func:`pca_reconstruction_error` — a distributed autoencoder stand-in:
   MLlib PCA projects features to k dims and back; squared reconstruction
   error per row. Deterministic, trainable at 100 TB (PCA fit is one
   tree-aggregated Gramian pass), same "reconstruction error" contract as
   the LSTM-AE. A torch LSTM-AE can drop into the same scoring slot via an
   Arrow-batched pandas UDF (plans.pipeline.score_with_model).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import (
    RUNNING,
    aliased,
    col_ref,
    ident,
    over,
    past_rows,
    with_columns,
)


def zscore_window_sql(
    target: str,
    window_rows: int,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    prefix: str | None = None,
) -> dict[str, str]:
    """The rolling z-score's window layer as SQL text: ``{p}_roll_mean`` and
    ``{p}_roll_std`` of ``target`` over the past ``window_rows`` rows."""
    p = prefix or target
    t = col_ref(target)
    w = over(key_cols, order_cols, past_rows(window_rows))
    return {
        f"{p}_roll_mean": f"avg({t}) {w}",
        f"{p}_roll_std": f"stddev_samp({t}) {w}",
    }


def zscore_flag_sql(
    target: str, threshold: float = 3.0, prefix: str | None = None
) -> dict[str, str]:
    """The rolling z-score's scalar layer as SQL text, over the window
    layer's materialized outputs: ``{p}_zscore`` and ``is_anomaly``
    (``|z| > threshold``; an undefined z is not an anomaly)."""
    p = prefix or target
    z = (
        f"({col_ref(target)} - {ident(p + '_roll_mean')})"
        f" / nullif({ident(p + '_roll_std')}, 0.0D)"
    )
    return {
        f"{p}_zscore": z,
        "is_anomaly": f"coalesce(cast(abs({z}) > {float(threshold)!r}D as int), 0)",
    }


def rolling_zscore(
    df: DataFrame,
    target: str,
    window_rows: int,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    threshold: float = 3.0,
    prefix: str | None = None,
) -> DataFrame:
    """Rolling z-score anomaly flags over the past ``window_rows`` rows.

    Frame is [t-w, t-1] (current row excluded — the reference's
    anti-leakage convention, src/preprocessing.py:251-255). Rows with an
    undefined score (empty/1-row frame or zero variance) are NOT anomalies
    (flag 0), matching "can't score" != "anomalous".

    Two ``selectExpr`` layers: the window aggregates, then the scalar z
    and flag over them by NAME — rebuilding the window expression inside
    z would make WindowExec evaluate each aggregate three times (verified
    via explain).
    """
    windowed = zscore_window_sql(target, window_rows, key_cols, order_cols, prefix)
    flags = zscore_flag_sql(target, threshold, prefix)
    out = df.selectExpr(*with_columns(df.columns, windowed))
    return out.selectExpr(*with_columns(out.columns, flags))


def global_zscore_flags(
    df: DataFrame, score_col: str, threshold: float = 3.0,
    collect_stats: bool = False,
) -> DataFrame:
    """Standardize ``score_col`` against its global mean/std and flag
    ``|z| > threshold`` (reference spec main.py:223-231 with the 3.0
    constant from config.py:21).

    Stats via one aggregate + broadcast — no global window partition.

    ``collect_stats=True`` runs the mu/sigma aggregate EAGERLY as one
    bounded scalar collect (a single row — the audited exception
    class) and embeds the values as literals, so the returned plan has
    NO stats subtree. Why that matters: when ``score_col`` is produced
    by a Python map stage (the Arrow ``mapInPandas`` scorer), column
    pruning cannot cross the UDF boundary, so the lazy broadcast-stats
    branch re-executes the ENTIRE scoring pass on every action — two
    global passes per count/write, the measured ~3x/decade ceiling of
    ``sequence_scores`` (SCALING §10a0d). Collected once, each action
    pays ONE pass. The aggregate is the identical physical plan either
    way, so values match the lazy form bit-for-bit under the same
    partitioning (pytest-pinned); across different partition layouts
    the usual float combine-order caveat applies to BOTH forms
    equally.
    """
    agg_exprs = (
        F.avg(score_col).alias("__mu"),
        F.stddev_samp(score_col).alias("__sigma"),
    )
    if collect_stats:
        row = df.agg(*agg_exprs).collect()[0]
        mu = F.lit(row["__mu"]).cast("double")
        sigma = F.lit(row["__sigma"]).cast("double")
        z = (F.col(score_col) - mu) / F.nullif(sigma, F.lit(0.0))
        stats_df = None
    else:
        stats_df = df.agg(*agg_exprs)
        z = (
            F.col(score_col) - F.col("__mu")
        ) / F.nullif(F.col("__sigma"), F.lit(0.0))
    out = df if stats_df is None else df.crossJoin(F.broadcast(stats_df))
    out = (
        out.withColumn(f"{score_col}_z", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(
                (F.abs(F.col(f"{score_col}_z")) > F.lit(threshold)).cast("int"),
                F.lit(0),
            ),
        )
    )
    return out if stats_df is None else out.drop("__mu", "__sigma")


def pca_reconstruction_error(
    df: DataFrame,
    feature_cols: Sequence[str],
    k: int = 2,
    error_col: str = "recon_error",
):
    """Reconstruction-error scoring with MLlib PCA (autoencoder stand-in).

    Returns (scored_df, pca_model). Error = ||x_centered - P P^T
    x_centered||^2 computed as a Catalyst expression over the projected
    vector — the only vector op outside codegen is the PCA transform
    itself.
    """
    from pyspark.ml.feature import PCA, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="__x")
    assembled = assembler.transform(df)
    pca = PCA(k=k, inputCol="__x", outputCol="__proj").fit(assembled)
    out = pca.transform(assembled)

    # reconstruct: x_hat = mean + V @ proj ; error = sum((x - x_hat)^2)
    pc_rows = pca.pc.toArray().tolist()  # p x k principal components
    mean = pca.mean.toArray().tolist() if hasattr(pca, "mean") else None
    x = vector_to_array(F.col("__x"))
    proj = vector_to_array(F.col("__proj"))
    err = F.lit(0.0)
    for i, row in enumerate(pc_rows):
        recon_i = sum(
            (F.lit(float(row[j])) * proj[j] for j in range(len(row))), F.lit(0.0)
        )
        base = F.lit(float(mean[i])) if mean is not None else F.lit(0.0)
        diff = x[i] - base - recon_i
        err = err + diff * diff
    out = out.withColumn(error_col, err).drop("__x", "__proj")
    return out, pca


def page_hinkley(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    delta: float = 0.0,
    lam: float = 10.0,
    unit_digits: int | None = None,
) -> DataFrame:
    """Page-Hinkley change detection — the sequential CUSUM-family test
    (Page 1954; Hinkley 1971) for mean shifts in a stream.

    Per key, in event order: running mean ``xbar_t``; the increase
    statistic ``U_t = Σ_{i<=t} (x_i - xbar_i - delta)`` with alarm
    ``ph_inc = U_t - min_{i<=t} U_i > lam``; symmetrically
    ``D_t = Σ (x_i - xbar_i + delta)`` with ``ph_dec = max D - D_t``.

    Every stage is a window over the SAME (key, order): running average,
    running sum, running min/max — one hash exchange serves all of them
    (the repo-wide single-exchange window property), and each is an
    O(1)-state running frame, never a re-scan. The recursion that makes
    textbook CUSUM (max(0, ...) reset form) non-relational is exactly
    what the PH min-tracking form avoids — this is the standard
    streaming-friendly equivalent, and it is SQL-expressible, so the
    detector is oracle-checkable.

    ``unit_digits``: when set, the whole statistic runs in EXACT integer
    micro-units (``10^-unit_digits``), the same convention as
    :func:`seasonal_decompose`: the value snaps to integer units, the
    running mean is the deterministic integer rounding
    ``floor((2S+n)/(2n))``, and every running sum/min/max is integer —
    so ``ph_inc``/``ph_dec`` are exact in ANY engine, with no float
    half-boundary ties (running sums of grid-valued data land on exact
    decimal boundaries constantly — measured 8/10000 cross-engine
    rounding flips in float mode on 2-decimal data). The mean is
    rounded to the unit grid (off by <= half a unit) — negligible for a
    threshold detector, and the float path stays available with
    ``unit_digits=None``.
    """
    run = (
        Window.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # window stages are layered so each layer's columns depend only on
    # the PREVIOUS layer's materialized outputs (re-deriving a window
    # expr would make WindowExec evaluate it twice); within a layer,
    # columns batch into one withColumns — chained withColumn calls
    # each re-analyze the whole tree and planning time is a measured
    # per-query driver cost in the battery
    if unit_digits is None:
        d = df.withColumn("__xbar", F.avg(target).over(run))
        d = d.withColumns(
            {
                "__u": F.sum(
                    F.col(target) - F.col("__xbar") - F.lit(delta)
                ).over(run),
                "__d": F.sum(
                    F.col(target) - F.col("__xbar") + F.lit(delta)
                ).over(run),
            }
        )
        d = d.withColumns(
            {
                "ph_inc": F.col("__u") - F.min("__u").over(run),
                "ph_dec": F.max("__d").over(run) - F.col("__d"),
            }
        )
        inc, dec = F.col("ph_inc"), F.col("ph_dec")
        lam_inc = lam_dec = F.lit(lam)
    else:
        scale = 10**unit_digits
        m = F.round(F.col(target) * scale).cast("bigint")
        delta_i = int(round(delta * scale))
        d = df.withColumn("__m", m)
        s_run = F.sum("__m").over(run)
        n_run = F.count("__m").over(run)
        d = d.withColumn(
            "__xbar_i", F.floor((2 * s_run + n_run) / (2 * n_run)).cast("bigint")
        )
        d = d.withColumns(
            {
                "__u": F.sum(
                    F.col("__m") - F.col("__xbar_i") - F.lit(delta_i)
                ).over(run),
                "__d": F.sum(
                    F.col("__m") - F.col("__xbar_i") + F.lit(delta_i)
                ).over(run),
            }
        )
        d = d.withColumns(
            {
                "__inc_i": F.col("__u") - F.min("__u").over(run),
                "__dec_i": F.max("__d").over(run) - F.col("__d"),
            }
        )
        # integer threshold compare — exact (lam must sit on the grid)
        lam_i = F.lit(int(round(lam * scale)))
        d = d.withColumns(
            {
                "ph_inc": F.col("__inc_i") / scale,
                "ph_dec": F.col("__dec_i") / scale,
                "ph_alarm": (
                    (F.col("__inc_i") > lam_i) | (F.col("__dec_i") > lam_i)
                ).cast("int"),
            }
        )
        return d.drop("__m", "__xbar_i", "__u", "__d", "__inc_i", "__dec_i")
    d = d.withColumn(
        "ph_alarm", ((inc > lam_inc) | (dec > lam_dec)).cast("int")
    )
    return d.drop("__xbar", "__u", "__d")


def _ewma_num_den_sql(
    t: str, we: str, window_rows: int, alpha: float
) -> tuple[str, str]:
    """Truncated-EWMA numerator/denominator as SQL text: ONE
    ``collect_list`` window over the past-only frame ``we``, reversed so
    lag-1 is first, zipped against the literal weight vector and folded
    left-to-right (r15; shared by :func:`anomaly_battery` and
    :func:`ewma_deviation`).

    Bit-identical to the flat ``lag(t, j)`` chain it replaced: zip_with
    pads the short start-of-partition arrays with NULL structs (the
    out-of-frame lag), and ``aggregate``'s left fold adds terms in the
    same j=1..w order, so float summation order is unchanged. Replaces
    2*w window expressions with one — measured (r15, interleaved, sf0.1
    events with planted nulls): replan 34 -> 16 ms and execution
    0.72 -> 0.34 s for w=32. The per-row cost is w struct copies plus an
    interpreted 2*w-step fold, vs 2*w per-row offset-frame advances in
    WindowExec — the fold wins from small w upward, and above the 32-row
    cap a flat chain would also blow codegen size (SCALING §1b).
    """
    wts = (
        "array("
        + ", ".join(
            repr(float((1.0 - alpha) ** (j - 1))) + "D"
            for j in range(1, window_rows + 1)
        )
        + ")"
    )
    clw = f"reverse(collect_list(struct({t} AS v)) {we})"
    num = (
        f"aggregate(zip_with({clw}, {wts}, (s, w) ->"
        " coalesce(s.v * w, 0.0D)), 0.0D, (acc, x) -> acc + x)"
    )
    den = (
        f"aggregate(zip_with({clw}, {wts}, (s, w) ->"
        " CASE WHEN s.v IS NOT NULL THEN w ELSE 0.0D END), 0.0D,"
        " (acc, x) -> acc + x)"
    )
    return num, den


def ewma_deviation(
    df: DataFrame,
    target: str,
    window_rows: int,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    alpha: float = 0.5,
    threshold: float = 3.0,
) -> DataFrame:
    """EWMA control-chart flags over a truncated past-only window.

    ``ewma_t`` = weighted average of the previous ``window_rows`` values
    with weights ``(1-alpha)^lag`` (lag 1 = most recent, renormalized on
    partial windows); flag when ``|x_t - ewma_t| > threshold *
    roll_std`` (same past-only frame — the anti-leakage convention of
    :func:`rolling_zscore`). Rows with no history or zero variance are
    not anomalies.

    Infinite-history EWMA is a recursion (not relational); truncating at
    ``window_rows`` both bounds state (what a 100 TB window must do
    anyway) and makes the weights a constant vector. The default
    ``alpha=0.5`` makes every weight an exact power of two, so scaling
    is lossless and the only float effect is summation order (handled
    by round-at-output). The SQL-oracle form is the self-join on
    row_number with the same weights.

    The weighted sum is ONE ``collect_list`` window + a literal-weights
    zip folded left-to-right (r15, :func:`_ewma_num_den_sql` — replaces
    the flat 2*w ``lag()`` chain: bit-identical including float
    summation order, ~half the replan cost, and measured 2.1x faster to
    execute at w=32). The 32-row cap stands — beyond it the truncated-
    window model itself should be revisited, not the weight vector.
    """
    if window_rows > 32:
        raise ValueError(
            "ewma_deviation: window_rows > 32 — use the seasonal/rolling "
            "family or extend with the HOF form (flat codegen blows up)"
        )
    w = (
        Window.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-window_rows, -1)
    )
    we = over(key_cols, order_cols, past_rows(window_rows))
    num, den = _ewma_num_den_sql(col_ref(target), we, window_rows, alpha)
    # __rstd and the ewma num/den are window outputs over the input
    # frame — one layer; dev/alarm are scalar over them — one more layer
    # (batched withColumns: analysis cost, see rolling_zscore)
    d = df.withColumns(
        {
            "__rstd": F.stddev_samp(target).over(w),
            "ewma": F.expr(
                f"CASE WHEN ({den}) > 0.0D THEN ({num}) / ({den}) END"
            ),
        }
    )
    dev = (F.col(target) - F.col("ewma")) / F.nullif(F.col("__rstd"), F.lit(0.0))
    return d.withColumns(
        {
            "ewma_dev": dev,
            "ewma_alarm": F.coalesce(
                (F.abs(dev) > F.lit(threshold)).cast("int"), F.lit(0)
            ),
        }
    ).drop("__rstd")


def iqr_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    k: float = 1.5,
    unit_digits: int | None = None,
    stats_source: DataFrame | None = None,
) -> DataFrame:
    """Tukey-fence outliers: flag values outside ``[q1 - k*IQR,
    q3 + k*IQR]`` with exact (interpolated) quartiles, per key or
    globally.

    Per-key stats are one aggregate (4 doubles per key) broadcast
    back — never a per-key window over the data. Exact ``percentile``
    is a per-key sort of that key's values; at 100 TB swap
    ``approx_percentile`` into the same slot (documented trade, same
    fence logic).

    ``unit_digits``: exact integer-unit mode (requires ``k=1.5``) — the
    quartile interpolation weights are quarters, so ``4*percentile`` of
    integer-unit values is an exact integer; the fences become the
    integer combinations ``lo = (5*q1_4 - 3*q3_4)/8``, ``hi = (5*q3_4 -
    3*q1_4)/8`` and the alarm compares ``8*m`` against them — no float
    boundary anywhere, bit-reproducible in any engine (quartiles of
    grid data sit ON the fence grid routinely: measured 62/10000
    cross-engine flips in float mode).

    ``stats_source``: frame to aggregate the quartiles from (default
    ``df``). When ``df`` is a composed detector pipeline, pass the RAW
    scan here — an aggregate over the composed frame drags every prior
    broadcast join into its lineage (inner joins are not prunable), so
    each stats pass would re-read every prior stats table; against the
    raw scan it is one column-pruned pass of the base table.
    """
    src = stats_source if stats_source is not None else df
    if unit_digits is None:
        q1 = F.expr(f"percentile({target}, 0.25)").alias("__q1")
        q3 = F.expr(f"percentile({target}, 0.75)").alias("__q3")
        lo = F.col("__q1") - F.lit(k) * (F.col("__q3") - F.col("__q1"))
        hi = F.col("__q3") + F.lit(k) * (F.col("__q3") - F.col("__q1"))
        alarm = (F.col(target) < F.col("iqr_lo")) | (
            F.col(target) > F.col("iqr_hi")
        )
    else:
        if abs(k - 1.5) > 1e-12:
            raise ValueError("iqr_flags integer mode supports k=1.5 only")
        scale = 10**unit_digits
        mexp = f"cast(round({target} * {scale}) as bigint)"
        # 4*quantile(int units) is integer-valued exactly (weights are
        # quarters); round() only strips float representation fuzz
        q1 = F.expr(
            f"cast(round(4 * percentile({mexp}, 0.25)) as bigint)"
        ).alias("__q1")
        q3 = F.expr(
            f"cast(round(4 * percentile({mexp}, 0.75)) as bigint)"
        ).alias("__q3")
        lo = (5 * F.col("__q1") - 3 * F.col("__q3")) / F.lit(8.0 * scale)
        hi = (5 * F.col("__q3") - 3 * F.col("__q1")) / F.lit(8.0 * scale)
        m8 = F.expr(f"8 * {mexp}")
        alarm = (m8 < 5 * F.col("__q1") - 3 * F.col("__q3")) | (
            m8 > 5 * F.col("__q3") - 3 * F.col("__q1")
        )
    if key_cols:
        stats = src.groupBy(*key_cols).agg(q1, q3)
        joined = df.join(F.broadcast(stats), list(key_cols))
    else:
        stats = src.agg(q1, q3)
        joined = df.crossJoin(F.broadcast(stats))
    return (
        joined.withColumn("iqr_lo", lo)
        .withColumn("iqr_hi", hi)
        .withColumn("iqr_alarm", alarm.cast("int"))
        .drop("__q1", "__q3")
    )


def robust_zscore_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    threshold: float = 3.5,
    unit_digits: int | None = None,
    stats_source: DataFrame | None = None,
) -> DataFrame:
    """Median/MAD robust outliers (Iglewicz–Hoaglin modified z-score):
    flag ``|0.6745 * (x - median) / MAD| > threshold`` — the detector
    of choice when the contamination itself poisons mean/std.

    Two per-key aggregates (median, then MAD of the residuals against
    it) each broadcast back — never a per-key window. ``MAD == 0``
    (a majority-constant key) yields no flag: "can't score" != anomaly.

    ``unit_digits``: exact integer-unit mode (requires the default
    ``threshold=3.5``). Medians of unit-grid data sit in half-units and
    MAD interpolation in eighth-units — both exact integers scaled up —
    and the alarm becomes the integer cross-multiplication
    ``26980 * dev_2 > 35000 * mad_8`` (26980 = 4*6745), so there is no
    float comparison anywhere and any engine reproduces the flags
    bit-for-bit. Outputs ``med``/``mad``/``dev`` are exact decimals
    (<= 5 places). The float mode additionally emits ``robust_mz``.

    ``stats_source``: frame to aggregate median/MAD from (default
    ``df``) — same lineage-flattening rationale as :func:`iqr_flags`:
    both stats passes (and the MAD pass's residual computation) run
    against it, so composing detectors never re-drags prior joins into
    the aggregates.
    """
    keys = list(key_cols) if key_cols else None
    src = stats_source if stats_source is not None else df

    def attach(frame: DataFrame, stats: DataFrame) -> DataFrame:
        if keys:
            return frame.join(F.broadcast(stats), keys)
        return frame.crossJoin(F.broadcast(stats))

    if unit_digits is None:
        med_agg = F.expr(f"percentile({target}, 0.5)").alias("med")
        stats1 = src.groupBy(*keys).agg(med_agg) if keys else src.agg(med_agg)
        s = attach(src, stats1).withColumn(
            "__dev", F.abs(F.col(target) - F.col("med"))
        )
        mad_agg = F.expr("percentile(__dev, 0.5)").alias("mad")
        stats2 = s.groupBy(*keys).agg(mad_agg) if keys else s.agg(mad_agg)
        d = attach(attach(df, stats1), stats2)
        dev = F.abs(F.col(target) - F.col("med"))
        d = d.withColumn("dev", dev)
        mz = F.lit(0.6745) * F.col("dev") / F.nullif(F.col("mad"), F.lit(0.0))
        return d.withColumn("robust_mz", mz).withColumn(
            "robust_alarm",
            F.coalesce((mz > F.lit(threshold)).cast("int"), F.lit(0)),
        )

    if abs(threshold - 3.5) > 1e-12:
        raise ValueError("robust_zscore_flags integer mode needs threshold=3.5")
    scale = 10**unit_digits
    mexp = f"cast(round({target} * {scale}) as bigint)"
    med2_agg = F.expr(
        f"cast(round(2 * percentile({mexp}, 0.5)) as bigint)"
    ).alias("__med_2")
    stats1 = src.groupBy(*keys).agg(med2_agg) if keys else src.agg(med2_agg)
    s = attach(src, stats1).withColumn(
        "__sdev_2", F.abs(F.expr(f"2 * {mexp}") - F.col("__med_2"))
    )
    mad8_agg = F.expr(
        "cast(round(4 * percentile(__sdev_2, 0.5)) as bigint)"
    ).alias("__mad_8")
    stats2 = s.groupBy(*keys).agg(mad8_agg) if keys else s.agg(mad8_agg)
    d = attach(attach(df, stats1), stats2)
    d = d.withColumn(
        "__dev_2", F.abs(F.expr(f"2 * {mexp}") - F.col("__med_2"))
    )
    return (
        d.withColumn("med", F.col("__med_2") / (2.0 * scale))
        .withColumn("mad", F.col("__mad_8") / (8.0 * scale))
        .withColumn("dev", F.col("__dev_2") / (2.0 * scale))
        .withColumn(
            "robust_alarm",
            (
                (F.col("__mad_8") > 0)
                & (26980 * F.col("__dev_2") > 35000 * F.col("__mad_8"))
            ).cast("int"),
        )
        .drop("__med_2", "__dev_2", "__mad_8")
    )


def tukey_robust_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    k: float = 1.5,
    threshold: float = 3.5,
    unit_digits: int | None = None,
    stats_source: DataFrame | None = None,
) -> DataFrame:
    """Fused :func:`iqr_flags` + :func:`robust_zscore_flags` — identical
    output columns and values, one fewer pass over the data.

    Composed separately the two detectors cost three stats aggregates
    over ``stats_source`` (IQR quartiles; median; MAD of residuals).
    The quartiles and the median are order statistics of the SAME
    column, so pass 1 here computes ``percentile(m, array(0.25, 0.5,
    0.75))`` in ONE groupBy aggregate — Catalyst deduplicates the three
    references into a single percentile buffer, so the key's values are
    buffered once, not three times. MAD keeps its inherent second pass
    (residuals need the median first). Net: the 5-FileScan battery plan
    becomes 3 scans (main + fused order-stats + MAD), plan-asserted in
    tests — at 100 TB every shaved scan compounds.

    Semantics, integer-exact mode, ``stats_source`` lineage-flattening
    rationale: see the two fused functions' docstrings.
    """
    keys = list(key_cols) if key_cols else None
    src = stats_source if stats_source is not None else df

    def attach(frame: DataFrame, stats: DataFrame) -> DataFrame:
        if keys:
            return frame.join(F.broadcast(stats), keys)
        return frame.crossJoin(F.broadcast(stats))

    if unit_digits is None:
        p = F.expr(f"percentile({target}, array(0.25, 0.5, 0.75))")
        aggs = [
            p[0].alias("__q1"),
            p[2].alias("__q3"),
            p[1].alias("med"),
        ]
        stats1 = src.groupBy(*keys).agg(*aggs) if keys else src.agg(*aggs)
        s = attach(src, stats1).withColumn(
            "__dev", F.abs(F.col(target) - F.col("med"))
        )
        mad_agg = F.expr("percentile(__dev, 0.5)").alias("mad")
        stats2 = s.groupBy(*keys).agg(mad_agg) if keys else s.agg(mad_agg)
        d = attach(attach(df, stats1), stats2)
        lo = F.col("__q1") - F.lit(k) * (F.col("__q3") - F.col("__q1"))
        hi = F.col("__q3") + F.lit(k) * (F.col("__q3") - F.col("__q1"))
        dev = F.abs(F.col(target) - F.col("med"))
        mz = F.lit(0.6745) * dev / F.nullif(F.col("mad"), F.lit(0.0))
        # all scalar over the attached stats: one withColumns layer
        return d.withColumns(
            {
                "iqr_lo": lo,
                "iqr_hi": hi,
                "iqr_alarm": (
                    (F.col(target) < lo) | (F.col(target) > hi)
                ).cast("int"),
                "dev": dev,
                "robust_mz": mz,
                "robust_alarm": F.coalesce(
                    (mz > F.lit(threshold)).cast("int"), F.lit(0)
                ),
            }
        ).drop("__q1", "__q3")

    if abs(k - 1.5) > 1e-12:
        raise ValueError("tukey_robust_flags integer mode supports k=1.5 only")
    if abs(threshold - 3.5) > 1e-12:
        raise ValueError("tukey_robust_flags integer mode needs threshold=3.5")
    scale = 10**unit_digits
    mexp = f"cast(round({target} * {scale}) as bigint)"
    # one percentile buffer serves q1/median/q3 (Catalyst dedupes the
    # three identical percentile calls); 4*quartile and 2*median of
    # integer units are exact integers (quarter/half interpolation)
    aggs = [
        F.expr(f"cast(round(4 * percentile({mexp}, array(0.25, 0.5, 0.75))[0]) as bigint)").alias("__q1"),
        F.expr(f"cast(round(4 * percentile({mexp}, array(0.25, 0.5, 0.75))[2]) as bigint)").alias("__q3"),
        F.expr(f"cast(round(2 * percentile({mexp}, array(0.25, 0.5, 0.75))[1]) as bigint)").alias("__med_2"),
    ]
    stats1 = src.groupBy(*keys).agg(*aggs) if keys else src.agg(*aggs)
    s = attach(src, stats1).withColumn(
        "__sdev_2", F.abs(F.expr(f"2 * {mexp}") - F.col("__med_2"))
    )
    mad8_agg = F.expr(
        "cast(round(4 * percentile(__sdev_2, 0.5)) as bigint)"
    ).alias("__mad_8")
    stats2 = s.groupBy(*keys).agg(mad8_agg) if keys else s.agg(mad8_agg)
    d = attach(attach(df, stats1), stats2)
    # every derived column is SCALAR over (target, __q1, __q3, __med_2,
    # __mad_8): one withColumns layer, one analysis pass (CSE dedupes
    # the repeated sub-expressions after project collapse)
    m8 = F.expr(f"8 * {mexp}")
    dev_2 = F.abs(F.expr(f"2 * {mexp}") - F.col("__med_2"))
    return d.withColumns(
        {
            "iqr_lo": (5 * F.col("__q1") - 3 * F.col("__q3"))
            / F.lit(8.0 * scale),
            "iqr_hi": (5 * F.col("__q3") - 3 * F.col("__q1"))
            / F.lit(8.0 * scale),
            "iqr_alarm": (
                (m8 < 5 * F.col("__q1") - 3 * F.col("__q3"))
                | (m8 > 5 * F.col("__q3") - 3 * F.col("__q1"))
            ).cast("int"),
            "med": F.col("__med_2") / (2.0 * scale),
            "mad": F.col("__mad_8") / (8.0 * scale),
            "dev": dev_2 / (2.0 * scale),
            "robust_alarm": (
                (F.col("__mad_8") > 0)
                & (26980 * dev_2 > 35000 * F.col("__mad_8"))
            ).cast("int"),
        }
    ).drop("__q1", "__q3", "__med_2", "__mad_8")


def _ols_stats_int(
    src: DataFrame,
    target: str,
    keys: list[str],
    order_cols: Sequence[str],
    scale: int,
) -> DataFrame:
    """Exact-integer sufficient statistics for the per-key OLS fit:
    ``y`` snapped to ``1/scale`` units (bigint), ``x`` = 0-based row
    index — all six sums ``(n, Σx, Σy, Σx², Σxy, Σy²)`` are BIGINT, so
    they are combine-order-proof and any engine derives bit-identical
    slope/intercept/stderr doubles from them (the cross-engine
    determinism convention of :func:`page_hinkley`). Returns one row per
    key: ``__b`` (slope, y-units per step), ``__a`` (intercept), ``__s``
    (residual std error), all in INTEGER y-units — callers divide by
    ``scale`` at output. Bounded: Σx² overflows int64 only past ~2e6
    rows per key; beyond that use the float path with ``x_col``."""
    d = src.selectExpr(
        *map(col_ref, keys),
        f"cast(round({col_ref(target)} * {scale}) as bigint) AS __y",
        f"cast(row_number() {over(keys, order_cols)} - 1 as bigint) AS __x",
    ).where("__y IS NOT NULL")
    stats = _ols_sums(d, keys, y_col="__y")
    return _ols_fit_from_sums(stats, keys)


def _ols_sums(d: DataFrame, keys: list[str], y_col: str) -> DataFrame:
    """The six exact-BIGINT OLS sums per key over (__x, y_col) rows."""
    return d.groupBy(*keys).agg(
        F.expr("count(*)").alias("__n"),
        F.expr("sum(__x)").alias("__sx"),
        F.expr(f"sum({y_col})").alias("__sy"),
        F.expr("sum(__x * __x)").alias("__sxx"),
        F.expr(f"sum(__x * {y_col})").alias("__sxy"),
        F.expr(f"sum({y_col} * {y_col})").alias("__syy"),
    )


def _ols_fit_from_sums(stats: DataFrame, keys: list[str]) -> DataFrame:
    """Slope / intercept / residual-stderr from the exact integer sums —
    identical IEEE expression shape to the SQL-oracle formulation."""
    n, sx, sy = "cast(__n as double)", "cast(__sx as double)", "cast(__sy as double)"
    sxx, sxy, syy = (
        "cast(__sxx as double)",
        "cast(__sxy as double)",
        "cast(__syy as double)",
    )
    vx = f"{n} * {sxx} - {sx} * {sx}"
    fitted = stats.selectExpr(
        "*",
        f"CASE WHEN {n} >= 3 AND {vx} > 0"
        f" THEN ({n} * {sxy} - {sx} * {sy}) / ({vx}) END AS __b",
    )
    sse = (
        f"greatest(0.0D, {syy} - {sy} * {sy} / {n}"
        f" - __b * __b * ({sxx} - {sx} * {sx} / {n}))"
    )
    return fitted.selectExpr(
        *[f"`{k}`" for k in keys],
        "__b",
        f"({sy} - __b * {sx}) / {n} AS __a",
        f"CASE WHEN {n} > 2 THEN sqrt({sse} / ({n} - 2)) END AS __s",
    )


def trend_ols_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str] | None = None,
    x_col: str | None = None,
    threshold: float = 3.0,
    round_digits: int = 6,
    unit_digits: int | None = None,
    stats_source: DataFrame | None = None,
) -> DataFrame:
    """Detrended anomaly detection: per-series closed-form OLS fit
    ``y = a + b·x``, then flag points whose residual exceeds
    ``threshold`` regression standard errors. Catches level drift that
    a global z-score misreads (a steadily-rising series makes early
    points "low" and late points "high") and flags genuine departures
    from the trend line.

    ``x_col``: the regressor — pass the epoch-seconds column for
    irregular series. When None, x is the 0-based row index within the
    series (``row_number`` over ``order_cols``, which is then
    required), i.e. equal spacing is ASSUMED.

    100 TB shape: the fit is the textbook closed form over the sufficient
    statistics ``(n, Σx, Σy, Σx², Σxy, Σy²)`` — ONE partial-aggregated
    groupBy pass per key, broadcast back, with SSE derived from the same
    sums (``SSE = Syy − Sy²/n − b²·(Sxx − Sx²/n)``) so there is NO second
    pass for the residual scale. With ``x_col`` given the whole detector
    is aggregate + map: zero windows, zero sorts. Scoring is scalar.

    Degenerate series (n < 3, or zero x-variance) yield NULL
    slope/z/flag — surfaced, not silently zeroed.

    Output adds: ``trend_slope``, ``trend_intercept``, ``trend_fit``
    (fitted value), ``trend_resid``, ``trend_z``, ``trend_alarm``.

    ``unit_digits`` (requires ``x_col=None``): run the sufficient
    statistics in EXACT integer units (:func:`_ols_stats_int`) so the
    detector is cross-engine hash-exact. ``stats_source``: compute the
    fit from this frame instead of ``df`` (same lineage-flattening
    rationale as :func:`tukey_robust_flags` — keep the aggregate off a
    battery-composed plan); the (keys, order) row sets must be
    identical between the two frames.
    """
    keys = list(key_cols)
    if unit_digits is not None:
        if x_col is not None:
            raise ValueError(
                "trend_ols_flags: unit_digits requires x_col=None "
                "(the integer x is the row index)"
            )
        if not order_cols:
            raise ValueError("trend_ols_flags: order_cols is required")
        scale = 10**unit_digits
        src = stats_source if stats_source is not None else df
        fitted = _ols_stats_int(src, target, keys, order_cols, scale)
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).asc() for c in order_cols]
        )
        d = df.withColumn(
            "__x", (F.row_number().over(w) - 1).cast("bigint")
        ).join(F.broadcast(fitted), keys, "left")
        y_i = F.round(F.col(target) * scale).cast("bigint").cast("double")
        fit_i = F.col("__a") + F.col("__b") * F.col("__x").cast("double")
        resid_i = y_i - fit_i
        z = F.round(resid_i / F.nullif(F.col("__s"), F.lit(0.0)), round_digits)
        return d.withColumns(
            {
                "trend_slope": F.round(F.col("__b") / scale, round_digits),
                "trend_intercept": F.round(F.col("__a") / scale, round_digits),
                "trend_fit": F.round(fit_i / scale, round_digits),
                "trend_resid": F.round(resid_i / scale, round_digits),
                "trend_z": z,
                "trend_alarm": F.when(
                    z.isNotNull(), (F.abs(z) > threshold).cast("int")
                ),
            }
        ).drop("__x", "__b", "__a", "__s")
    if stats_source is not None:
        raise ValueError(
            "trend_ols_flags: stats_source requires unit_digits (the "
            "float path's x depends on df's own lineage)"
        )
    if x_col is None:
        if not order_cols:
            raise ValueError(
                "trend_ols_flags: order_cols is required when x_col is None"
            )
        w = Window.partitionBy(*keys).orderBy(*order_cols)
        d = df.withColumn(
            "__x", (F.row_number().over(w) - 1).cast("double")
        )
    else:
        d = df.withColumn("__x", F.col(x_col).cast("double"))
    y = F.col(target).cast("double")
    base = d.filter(y.isNotNull() & F.col("__x").isNotNull())
    stats = base.groupBy(*keys).agg(
        F.count("*").cast("double").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxx, sxy, syy = F.col("__sxx"), F.col("__sxy"), F.col("__syy")
    vx = n * sxx - sx * sx  # n² · Var(x)
    slope = F.when(
        (n >= 3) & (vx > 0), (n * sxy - sx * sy) / vx
    )
    fitted = stats.withColumn("__b", slope).withColumn(
        "__a", (sy - F.col("__b") * sx) / n
    )
    sse = F.greatest(
        F.lit(0.0),
        syy - sy * sy / n - F.col("__b") * F.col("__b") * (sxx - sx * sx / n),
    )
    fitted = fitted.withColumn(
        "__s", F.when(n > 2, F.sqrt(sse / (n - 2)))
    ).select(*keys, "__b", "__a", "__s")
    out = d.join(F.broadcast(fitted), keys, "left")
    fit = F.col("__a") + F.col("__b") * F.col("__x")
    resid = y - fit
    z = F.round(resid / F.nullif(F.col("__s"), F.lit(0.0)), round_digits)
    return (
        out.withColumn("trend_slope", F.round("__b", round_digits))
        .withColumn("trend_intercept", F.round("__a", round_digits))
        .withColumn("trend_fit", F.round(fit, round_digits))
        .withColumn("trend_resid", F.round(resid, round_digits))
        .withColumn("trend_z", z)
        .withColumn(
            "trend_alarm",
            F.when(z.isNotNull(), (F.abs(z) > threshold).cast("int")),
        )
        .drop("__x", "__b", "__a", "__s")
    )


def trend_ols_expanding(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    threshold: float = 3.0,
    unit_digits: int = 2,
    min_points: int = 3,
) -> DataFrame:
    """ONLINE detrended anomaly detection — the expanding-window face of
    :func:`trend_ols_flags`: at every row, fit ``y = a + b·x`` on the
    PAST rows only ([first, t-1] — the battery's anti-leakage
    convention) from running sufficient statistics, and flag the current
    row's residual against the past fit's standard error. This is the
    recursive-least-squares semantics a stream can carry with O(1)
    state, expressed relationally: SIX running sums over ONE
    ``rowsBetween(unboundedPreceding, -1)`` frame on the shared (key,
    order) exchange — no iteration, no Python.

    Integer-exact by construction (``unit_digits``): y snaps to the
    unit grid (BIGINT), x is the 0-based row index, so every running
    sum is an exact integer and the derived doubles are bit-identical
    in any engine — and bit-identical to the streaming twin
    (:func:`~..streaming.rolling.streaming_trend_ols`), which replays
    the same integer recursion with Python's unbounded ints. Outputs
    ``trend_run_slope``, ``trend_run_fit``, ``trend_run_z``,
    ``trend_run_alarm`` — UNROUNDED doubles (exactness comes from the
    integer sums, so no rounding convention is needed; rows whose past
    window has fewer than ``min_points`` usable points, zero x-variance,
    or zero residual scale get NULLs).
    """
    if min_points < 3:
        raise ValueError("trend_ols_expanding: min_points must be >= 3")
    keys = list(key_cols)
    scale = 10**unit_digits
    w_ord = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    past = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    y_i = F.round(F.col(target) * scale).cast("bigint")
    d = df.withColumns(
        {
            "__yi": y_i,
            "__x": (F.row_number().over(w_ord) - 1).cast("bigint"),
        }
    )
    xm = F.when(F.col("__yi").isNotNull(), F.col("__x"))
    ym = F.col("__yi")
    d = d.withColumns(
        {
            "__n": F.count(ym).over(past),
            "__sx": F.sum(xm).over(past),
            "__sy": F.sum(ym).over(past),
            "__sxx": F.sum(xm * xm).over(past),
            "__sxy": F.sum(xm * ym).over(past),
            "__syy": F.sum(ym * ym).over(past),
        }
    )
    n = F.col("__n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    syy = F.col("__syy").cast("double")
    vx = n * sxx - sx * sx
    b = F.when((n >= min_points) & (vx > 0), (n * sxy - sx * sy) / vx)
    a = (sy - b * sx) / n
    sse = F.greatest(
        F.lit(0.0),
        syy - sy * sy / n - b * b * (sxx - sx * sx / n),
    )
    s = F.when(n > 2, F.sqrt(sse / (n - 2)))
    fit_i = a + b * F.col("__x").cast("double")
    z = (F.col("__yi").cast("double") - fit_i) / F.nullif(s, F.lit(0.0))
    return d.withColumns(
        {
            "trend_run_slope": b / scale,
            "trend_run_fit": fit_i / scale,
            "trend_run_z": z,
            "trend_run_alarm": F.when(
                z.isNotNull(), (F.abs(z) > F.lit(threshold)).cast("int")
            ),
        }
    ).drop("__yi", "__x", "__n", "__sx", "__sy", "__sxx", "__sxy", "__syy")


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    trend_window: int = 12,
    z_threshold: float = 3.0,
    round_digits: int | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition + residual z-score —
    the STL-lite anomaly tier for periodic series (the reference's
    domain is hourly energy data, where daily seasonality dominates;
    its unimplemented threshold spec is config.py:33).

    Requires a REGULAR time grid (compose after
    ``operators.timeseries.resample_grid``):
    - ``trend``: centered rolling mean over ±``trend_window`` rows
      (frame shrinks at the series edges — same semantics in the SQL
      oracle);
    - ``seasonal``: mean detrended value per (series, hour-of-day);
    - ``residual`` = value - trend - seasonal;
    - ``resid_z``: residual z-scored against the series' full history
      (``stddev_samp``), ``is_anomaly`` = |z| > ``z_threshold``.

    Scale: the trend/z windows and the seasonal aggregate are all keyed
    by the series — ONE hash exchange serves every step (the same
    single-exchange property as the lag/rolling family; plan-asserted
    for that family in tests). Per-series history must fit a partition;
    beyond that, bucket the series exactly like ``bucketed_rolling``.

    ``round_digits``: when set, the decomposition runs in EXACT integer
    micro-units (``10^-round_digits``): the value is snapped to integer
    units once, every cross-row aggregate is an INTEGER sum (exact in
    any combine order — float averages pick up ~1e-8 association noise
    from Spark's incremental moving frames and unordered partition
    combines, and rounding cannot fix a true half-boundary tie), and
    each stage's average is the deterministic integer rounding
    ``floor((2S+n)/(2n))`` (ties toward +inf). A SQL oracle replays the
    pipeline bit-for-bit. The z stage alone stays float (stddev needs
    it) and is rounded at ``round_digits``; its inputs are identical
    integers in both engines so the result is stable far beyond the
    rounding boundary. Leave None for raw float arithmetic.
    """
    keys = [F.col(c) for c in series_cols]
    w_ord = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    w_frame = w_ord.rowsBetween(-trend_window, trend_window)
    w_season = Window.partitionBy(*keys, F.hour(ts_col))
    w_all = Window.partitionBy(*keys)

    if round_digits is None:
        trend = F.avg(value_col).over(w_frame)
        d = df.withColumn("trend", trend).withColumn(
            "__detr", F.col(value_col) - F.col("trend")
        )
        d = d.withColumn("seasonal", F.avg("__detr").over(w_season))
        d = d.withColumn(
            "residual", F.col("__detr") - F.col("seasonal")
        ).drop("__detr")
        mu = F.avg("residual").over(w_all)
        sd = F.stddev_samp("residual").over(w_all)
        z = (F.col("residual") - mu) / F.nullif(sd, F.lit(0))
    else:
        scale = float(10**round_digits)

        def int_avg(int_col, w):
            s, n = F.sum(int_col).over(w), F.count(int_col).over(w)
            return F.floor((2 * s + n) / (2 * n)).cast("bigint")

        v_i = F.round(F.col(value_col) * scale).cast("bigint")
        d = df.withColumn("__v_i", v_i)
        d = d.withColumn("__trend_i", int_avg(F.col("__v_i"), w_frame))
        d = d.withColumn("__detr_i", F.col("__v_i") - F.col("__trend_i"))
        d = d.withColumn(
            "__seas_i", int_avg(F.col("__detr_i"), w_season)
        )
        d = d.withColumn("__res_i", F.col("__detr_i") - F.col("__seas_i"))
        d = (
            d.withColumn("trend", F.col("__trend_i") / scale)
            .withColumn("seasonal", F.col("__seas_i") / scale)
            .withColumn("residual", F.col("__res_i") / scale)
        )
        mu = F.avg("residual").over(w_all)
        sd = F.stddev_samp("residual").over(w_all)
        z = F.round(
            (F.col("residual") - mu) / F.nullif(sd, F.lit(0)), round_digits
        )
        d = d.drop("__v_i", "__trend_i", "__detr_i", "__seas_i", "__res_i")
    return d.withColumn("resid_z", z).withColumn(
        "is_anomaly",
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).cast("int"),
    )


def cooldown_kernel(last, times, cooldown_s: float):
    """Fixed-cooldown delivery, resumable: ``last`` is the time (epoch
    seconds) of the last DELIVERED alert, None before any, and ``times``
    are the next alerts' times in order. An alert is delivered when it
    comes more than ``cooldown_s`` after the last delivery. Returns the
    new ``last`` and one delivered flag per alert. The fixed-cooldown
    policy of :func:`throttle_alerts` and its streaming twin both run
    it."""
    out = []
    for t in times:
        delivered = last is None or t - last > cooldown_s
        if delivered:
            last = t
        out.append(delivered)
    return last, out


def _fixed_cooldown_pick(pdf, *, keys, ts_col, tie):
    """One key's alert rows -> its delivered ``(*keys, __dts, __d)``
    rows under the fixed-cooldown policy; the cooldown in seconds is the
    constant ``__cd`` column."""
    import pandas as pd

    pdf = pdf.sort_values([ts_col, *tie]).reset_index(drop=True)
    _, picks = cooldown_kernel(
        None, [t.timestamp() for t in pdf[ts_col]], float(pdf["__cd"].iloc[0])
    )
    d = pdf.loc[picks]
    return pd.DataFrame(
        {**{k: d[k].to_numpy() for k in keys}, "__dts": d[ts_col].to_numpy(), "__d": 1}
    )


def throttle_alerts(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    cooldown: str = "1 hour",
    flag_col: str = "is_anomaly",
    policy: str = "quiet-period",
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Alert fatigue control: of a burst of per-key alarms, deliver only
    the ones a human should see. Adds ``alert_delivered`` (1/0; 0 for
    non-alarm rows). Two standard policies, explicitly distinct:

    - ``quiet-period`` (default): an alert is delivered only if NO alert
      (delivered or not) fired within ``cooldown`` before it — i.e.
      alert bursts collapse to their first member, and delivery resumes
      only after a full quiet window. Purely relational: gap-based
      :func:`~.timeseries.sessionize` over the alert rows + first-of-
      session, one window exchange, unbounded scale.
    - ``fixed-cooldown``: classic rate limiting — deliver, then suppress
      for ``cooldown`` AFTER THE LAST DELIVERED alert, then deliver the
      next alarm even mid-burst. "Previous DELIVERED" is a genuinely
      sequential recursion (the suppression decision feeds its own
      predicate), so it runs per key in Arrow ``applyInPandas`` — over
      ALERT ROWS ONLY, which are a sliver of the stream, so the Python
      stage sees alert-cardinality data, never the raw 100 TB. The
      recursion is :func:`cooldown_kernel`, shared with the streaming
      twin ``streaming.rolling.streaming_throttle_alerts``.

    The two differ exactly when a burst outlasts the cooldown: a
    20-minute burst with a 5-minute cooldown delivers 1 alert under
    quiet-period and 4 under fixed-cooldown — pinned in the tests.

    Delivery is identified by (key, ts): if several alarm rows share a
    timestamp, a delivery at that instant marks them all.
    """
    from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
        sessionize,
    )

    if policy not in ("quiet-period", "fixed-cooldown"):
        raise ValueError(f"throttle_alerts: unknown policy {policy!r}")
    keys = list(key_cols)
    alerts = df.where(F.col(flag_col) == 1)
    if policy == "quiet-period":
        s = sessionize(
            alerts, keys, ts_col, gap=cooldown, order_tiebreak=order_tiebreak
        )
        w = Window.partitionBy(*keys, "session_id").orderBy(
            F.col(ts_col).asc(), *[F.col(c).asc() for c in order_tiebreak]
        )
        delivered = (
            s.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(*keys, F.col(ts_col).alias("__dts"), F.lit(1).alias("__d"))
        )
    else:
        # the cooldown in seconds under Spark's interval semantics, as a
        # constant-folded column of the grouped input: no job at build time
        sec = F.unix_timestamp(
            F.to_timestamp(F.lit("1970-01-01 00:00:00"))
            + F.expr(f"INTERVAL {cooldown}")
        ).cast("double")
        tie = list(order_tiebreak)
        schema = ", ".join(
            f"`{k}` {df.schema[k].dataType.simpleString()}" for k in keys
        ) + f", `__dts` {df.schema[ts_col].dataType.simpleString()}, __d int"
        delivered = (
            alerts.select(*keys, ts_col, *tie, sec.alias("__cd"))
            .groupBy(*keys)
            .applyInPandas(
                partial(_fixed_cooldown_pick, keys=keys, ts_col=ts_col, tie=tie),
                schema,
            )
        )
    joined = df.join(
        delivered.withColumnRenamed("__dts", ts_col),
        [*keys, ts_col],
        "left",
    )
    return joined.withColumn(
        "alert_delivered",
        F.when(
            (F.col(flag_col) == 1) & (F.col("__d") == 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).drop("__d")


def hampel_flags(
    df: DataFrame,
    target: str,
    window_rows: int,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    k: float = 3.0,
    centered: bool = True,
) -> DataFrame:
    """Hampel filter — the classic robust despiker the mean/std z-score
    can't be: a rolling MEDIAN/MAD outlier test, immune to the masking
    where a spike inflates its own window's std and hides itself.

    Flags ``|x - rolling_median| > k * 1.4826 * rolling_MAD`` (1.4826 =
    the Gaussian MAD-to-sigma constant). ``centered=True`` uses the
    symmetric ±window frame (the textbook filter, for offline
    cleaning); ``False`` uses the past-only [t-w, t-1] frame (the
    battery's anti-leakage convention, for online detection). Adds
    ``hampel_median``, ``hampel_mad``, ``hampel_flag`` (0 when the
    frame is empty or the deviation is within the fence; a zero-MAD
    window flags any value off the median).

    Pure Catalyst for bounded windows: the frame's values come back as
    ONE ``collect_list`` over the shared (key, order) window exchange,
    and the exact median/MAD are array HOFs (``array_sort`` +
    ``element_at`` interpolation; deviations via ``transform``) —
    no second window pass, no Python. Cost is O(w log w) per row, the
    same as every textbook Hampel; keep ``window_rows`` chart-sized
    (the despiker's regime), not season-sized.
    """
    keys = list(key_cols)
    w_ord = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    frame = (
        w_ord.rowsBetween(-window_rows, window_rows)
        if centered
        else w_ord.rowsBetween(-window_rows, -1)
    )
    vals = F.array_sort(F.collect_list(F.col(target)).over(frame))

    def arr_median(arr):
        n = F.size(arr)
        lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(arr, F.ceil((n + 1) / 2).cast("int"))
        return F.when(n > 0, (lo + hi) / 2.0)

    d = df.withColumn("__vals", vals)
    d = d.withColumn("hampel_median", arr_median(F.col("__vals")))
    devs = F.array_sort(
        F.transform(
            F.col("__vals"), lambda v: F.abs(v - F.col("hampel_median"))
        )
    )
    d = d.withColumn("hampel_mad", arr_median(devs))
    x = F.col(target)
    med, mad = F.col("hampel_median"), F.col("hampel_mad")
    fence = F.lit(k) * F.lit(1.4826) * mad
    flag = F.when(
        x.isNull() | med.isNull(), F.lit(0)
    ).when(
        (mad == 0.0) & (x != med), F.lit(1)
    ).when(
        F.abs(x - med) > fence, F.lit(1)
    ).otherwise(F.lit(0))
    return d.withColumn("hampel_flag", flag).drop("__vals")


def anomaly_battery(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    z_window: int = 24,
    ewma_window: int = 8,
    ewma_alpha: float = 0.5,
    z_threshold: float = 3.0,
    ph_delta: float = 0.0,
    ph_lam: float = 10.0,
    tukey_k: float = 1.5,
    unit_digits: int = 2,
    stats_source: DataFrame | None = None,
    trend: bool = True,
    trend_threshold: float = 3.0,
) -> DataFrame:
    """The full model-free detector battery in ONE fused plan:
    :func:`rolling_zscore` + :func:`page_hinkley` +
    :func:`ewma_deviation` + :func:`tukey_robust_flags` (+
    :func:`trend_ols_flags` when ``trend``), value-identical to the
    sequential composition (differential-tested) but built in the
    MINIMUM number of analysis layers.

    Why: executor-side the composed battery was already one (key,
    order) exchange + three FileScans — but DRIVER-side each
    ``withColumn(s)``/``join`` re-analyzes the whole accumulated tree,
    and the composed chain's ~17 passes over an ever-growing plan were
    measured at ~0.9 s warm per call (the dominant term of the
    anomaly_zscore bench query). The fusion batches every
    data-independent expression into one layer:

    - L1: ALL window functions over the shared (key, order) exchange —
      z-mean/std, the EWMA lag terms, the EWMA-deviation std, the PH
      running sum/count, the trend row index — plus the integer-unit
      snap; Page-Hinkley's running-mean → running-deviation-sum →
      running-min/max chain forces exactly two more window layers (L3,
      L4) because each stage windows over the previous stage's output;
    - L2/L5: the scalar arithmetic between them;
    - the per-key order statistics (Tukey/MAD) and OLS sufficient
      statistics: on the default path (``stats_source is df``, every
      in-repo caller) they ride the SAME (key, order) exchange as
      ``... OVER (PARTITION BY key)`` window aggregates (r14 fusion),
      so the whole battery executes as 1 FileScan / 1 Exchange /
      0 joins; only a genuinely distinct ``stats_source``
      (fit-on-one-frame, score-on-another) keeps the separate
      aggregate + broadcast-join shape.

    Driver analysis is ~9 passes, most over small trees. Integer-exact
    conventions (``unit_digits``) and thresholds follow the component
    operators' docstrings.
    """
    keys = list(key_cols)
    src = stats_source if stats_source is not None else df
    scale = 10**unit_digits
    if ewma_window > 32:
        raise ValueError("anomaly_battery: ewma_window > 32")
    if abs(tukey_k - 1.5) > 1e-12:
        raise ValueError("anomaly_battery: integer mode supports k=1.5 only")

    # Every expression is built as SQL TEXT and shipped through ONE
    # selectExpr per layer: profiling showed the per-Column py4j round
    # trips of the functions-API form cost more driver time than the
    # analysis itself (~0.7 s of the 1.2 s composed build was pure
    # Column-object construction). String building is free Python; the
    # JVM parses each layer once.
    t = col_ref(target)
    we = over(keys, order_cols, past_rows(ewma_window))
    wrun = over(keys, order_cols, RUNNING)
    word = over(keys, order_cols)
    mexp = f"cast(round({t} * {scale}) as bigint)"

    # EWMA numerator/denominator (r15): ONE collect_list window over the
    # truncated frame + a position-weights zip, replacing the flat
    # 2x`ewma_window` lag() chain. The r14 replan profile attributed
    # ~45% of the battery's per-action optimize+physical cost to those
    # 64 window expressions, and an interleaved A/B measured the
    # collect_list form 2.1x FASTER to execute as well (0.72 -> 0.34 s
    # on 100k rows: 64 per-row offset-frame advances cost more than 32
    # struct copies + an interpreted 32-step fold). Values bit-identical
    # by construction: reverse() puts lag-1 first, zip_with pads the
    # short start-of-partition arrays with NULL structs (-> coalesce 0,
    # exactly the out-of-frame lag), and aggregate's left fold adds the
    # terms in the SAME j=1..w order as the old chain, so even float
    # summation order is unchanged (verified exact on 100k rows with
    # planted nulls, plus the composition-equality and oracle pins).
    num, den = _ewma_num_den_sql(t, we, ewma_window, ewma_alpha)

    z_cols = zscore_window_sql(target, z_window, keys, order_cols)
    z_flags = zscore_flag_sql(target, z_threshold)
    l1 = [
        "*",
        *aliased(z_cols),
        f"stddev_samp({t}) {we} AS __rstd",
        f"{num} AS __ewma_num",
        f"{den} AS __ewma_den",
        f"{mexp} AS __m",
        f"sum({mexp}) {wrun} AS __s_run",
        f"count({mexp}) {wrun} AS __n_run",
    ]
    if trend:
        l1.append(f"cast(row_number() {word} - 1 as bigint) AS __x")

    # L2: scalar over L1's materialized outputs (ewma moved here from L1
    # so the num/den window results are computed once and the division
    # is a plain scalar)
    ewma_expr = "CASE WHEN __ewma_den > 0.0D THEN __ewma_num / __ewma_den END"
    dv = f"({t} - ({ewma_expr})) / nullif(__rstd, 0.0D)"
    zt = repr(float(z_threshold))
    l2 = [
        "*",
        *aliased(z_flags),
        f"{ewma_expr} AS ewma",
        f"{dv} AS ewma_dev",
        f"coalesce(cast(abs({dv}) > {zt}D as int), 0) AS ewma_alarm",
        "cast(floor((2 * __s_run + __n_run) / (2 * __n_run)) as bigint)"
        " AS __xbar_i",
    ]

    # L3/L4: Page-Hinkley's inherently sequential window stages
    delta_i = int(round(ph_delta * scale))
    l3 = [
        "*",
        f"sum(__m - __xbar_i - {delta_i}) {wrun} AS __u",
        f"sum(__m - __xbar_i + {delta_i}) {wrun} AS __d",
    ]
    l4 = [
        "*",
        f"__u - min(__u) {wrun} AS __inc_i",
        f"max(__d) {wrun} - __d AS __dec_i",
    ]

    # per-key order statistics + OLS sufficient statistics. Shared
    # arithmetic for both shapes below:
    pcts = f"percentile({mexp}, array(0.25, 0.5, 0.75))"
    key_list = ", ".join(col_ref(k) for k in keys)
    n, sx, sy = (
        "cast(__n as double)",
        "cast(__sx as double)",
        "cast(__sy as double)",
    )
    sxx, sxy, syy = (
        "cast(__sxx as double)",
        "cast(__sxy as double)",
        "cast(__syy as double)",
    )
    vx = f"{n} * {sxx} - {sx} * {sx}"
    sse = (
        f"greatest(0.0D, {syy} - {sy} * {sy} / {n}"
        f" - __b * __b * ({sxx} - {sx} * {sx} / {n}))"
    )
    ctes: list[str] = []
    if src is df:
        # FUSED stats (r14): when the stats frame IS the scored frame
        # (every in-repo caller), the per-key aggregates ride the main
        # (key, order) exchange as partition-window aggregates instead
        # of separate aggregate-plus-broadcast-join subtrees. The
        # pre-r14 shape re-scanned the source 3 more times (order
        # stats, MAD, OLS sums) and joined the results back — 4
        # FileScans / 4 exchanges / 3 joins per action; this shape is
        # ONE scan, ONE exchange, ZERO joins (plan-asserted in
        # tests/test_operators.py). Values are bit-identical: the
        # window aggregate evaluates the same percentile/BIGINT-sum
        # functions over the same partition rows the GROUP BY saw, and
        # the broadcast join only copied those per-key scalars back —
        # pinned by test_fused_battery_equals_composition. Measured at
        # sf0.1: anomaly_zscore 1.02 -> 0.7 s/action, and at 100 TB
        # three full re-reads of the fact table simply disappear.
        wpart = f"OVER (PARTITION BY {key_list})"
        l1.append(f"{pcts} {wpart} AS __pcts")
        l2.extend(
            [
                "cast(round(4 * __pcts[0]) as bigint) AS __q1",
                "cast(round(4 * __pcts[2]) as bigint) AS __q3",
                "cast(round(2 * __pcts[1]) as bigint) AS __med_2",
            ]
        )
        # __sdev_2 references __med_2 (L2) and the MAD percentile
        # references __sdev_2, so they slot into the PH layers that
        # already exist for exactly this kind of dependency chain
        l3.append(f"abs(2 * {mexp} - __med_2) AS __sdev_2")
        l4.append(
            f"cast(round(4 * percentile(__sdev_2, 0.5) {wpart}) as bigint)"
            " AS __mad_8"
        )
        join_tail = " FROM __l4"
        hint_tables: list[str] = []
        if trend:
            # the WHERE __m IS NOT NULL of the aggregate form becomes
            # CASE guards; sum/count already ignore NULLs identically
            l2.extend(
                [
                    f"count(CASE WHEN __m IS NOT NULL THEN 1 END) {wpart}"
                    " AS __n",
                    f"sum(CASE WHEN __m IS NOT NULL THEN __x END) {wpart}"
                    " AS __sx",
                    f"sum(__m) {wpart} AS __sy",
                    "sum(CASE WHEN __m IS NOT NULL THEN __x * __x END)"
                    f" {wpart} AS __sxx",
                    f"sum(__x * __m) {wpart} AS __sxy",
                    f"sum(__m * __m) {wpart} AS __syy",
                ]
            )
            l3.append(
                f"CASE WHEN {n} >= 3 AND {vx} > 0"
                f" THEN ({n} * {sxy} - {sx} * {sy}) / ({vx}) END AS __b"
            )
            # a key with zero non-null __m has __n = 0, so __b/__a/__s
            # come out NULL exactly like the LEFT JOIN they replace
            l4.extend(
                [
                    f"({sy} - __b * {sx}) / {n} AS __a",
                    f"CASE WHEN {n} > 2 THEN sqrt({sse} / ({n} - 2))"
                    " END AS __s",
                ]
            )
        ctes.extend(
            [
                "__l1 AS (SELECT " + ", ".join(l1) + " FROM {df})",
                "__l2 AS (SELECT " + ", ".join(l2) + " FROM __l1)",
                "__l3 AS (SELECT " + ", ".join(l3) + " FROM __l2)",
                "__l4 AS (SELECT " + ", ".join(l4) + " FROM __l3)",
            ]
        )
    else:
        # distinct stats frame (fit-on-one-score-on-another): the
        # aggregate + broadcast-join shape is the only correct one
        stats1_sql = (
            f"SELECT {key_list},"
            f" cast(round(4 * {pcts}[0]) as bigint) AS __q1,"
            f" cast(round(4 * {pcts}[2]) as bigint) AS __q3,"
            f" cast(round(2 * {pcts}[1]) as bigint) AS __med_2"
            " FROM {src}" f" GROUP BY {key_list}"
        )
        stats2_sql = (
            f"SELECT {key_list},"
            " cast(round(4 * percentile(__sdev_2, 0.5)) as bigint) AS __mad_8"
            " FROM (SELECT /*+ BROADCAST(__s1) */"
            f" *, abs(2 * {mexp} - __med_2) AS __sdev_2"
            " FROM {src}" f" JOIN __s1 USING ({key_list}))"
            f" GROUP BY {key_list}"
        )
        ctes.extend(
            [
                "__l1 AS (SELECT " + ", ".join(l1) + " FROM {df})",
                "__l2 AS (SELECT " + ", ".join(l2) + " FROM __l1)",
                "__l3 AS (SELECT " + ", ".join(l3) + " FROM __l2)",
                "__l4 AS (SELECT " + ", ".join(l4) + " FROM __l3)",
                "__s1 AS (" + stats1_sql + ")",
                "__s2 AS (" + stats2_sql + ")",
            ]
        )
        join_tail = (
            " FROM __l4"
            f" JOIN __s1 USING ({key_list})"
            f" JOIN __s2 USING ({key_list})"
        )
        hint_tables = ["__s1", "__s2"]
        if trend:
            # OLS sufficient statistics off the L1 frame (pre-join
            # lineage: scan→exchange→window only): __m IS y_i and __x
            # is already materialized, so no second row_number window
            # is planned.
            ctes.extend(
                [
                    "__sums AS (SELECT "
                    f"{key_list}, count(*) AS __n, sum(__x) AS __sx,"
                    " sum(__m) AS __sy, sum(__x * __x) AS __sxx,"
                    " sum(__x * __m) AS __sxy, sum(__m * __m) AS __syy"
                    f" FROM __l1 WHERE __m IS NOT NULL GROUP BY {key_list})",
                    "__fit0 AS (SELECT *,"
                    f" CASE WHEN {n} >= 3 AND {vx} > 0"
                    f" THEN ({n} * {sxy} - {sx} * {sy}) / ({vx}) END AS __b"
                    " FROM __sums)",
                    f"__fit AS (SELECT {key_list}, __b,"
                    f" ({sy} - __b * {sx}) / {n} AS __a,"
                    f" CASE WHEN {n} > 2 THEN sqrt({sse} / ({n} - 2))"
                    " END AS __s"
                    " FROM __fit0)",
                ]
            )
            join_tail += f" LEFT JOIN __fit USING ({key_list})"
            hint_tables.append("__fit")

    # L5 + drop in one pass: the final select lists the input columns,
    # the public L1/L2 outputs, and the scalar battery columns — the
    # __-helpers fall away without a separate drop() analysis pass
    lam_i = int(round(ph_lam * scale))
    m8 = f"(8 * {mexp})"
    dev2 = f"abs(2 * {mexp} - __med_2)"
    s8 = repr(8.0 * scale)
    s2 = repr(2.0 * scale)
    l5 = [
        f"__inc_i / {scale} AS ph_inc",
        f"__dec_i / {scale} AS ph_dec",
        f"cast(__inc_i > {lam_i} OR __dec_i > {lam_i} as int) AS ph_alarm",
        f"(5 * __q1 - 3 * __q3) / {s8}D AS iqr_lo",
        f"(5 * __q3 - 3 * __q1) / {s8}D AS iqr_hi",
        f"cast({m8} < 5 * __q1 - 3 * __q3 OR {m8} > 5 * __q3 - 3 * __q1"
        " as int) AS iqr_alarm",
        f"__med_2 / {s2}D AS med",
        f"__mad_8 / {s8}D AS mad",
        f"{dev2} / {s2}D AS dev",
        f"cast(__mad_8 > 0 AND 26980 * {dev2} > 35000 * __mad_8 as int)"
        " AS robust_alarm",
    ]
    if trend:
        fit_i = "(__a + __b * cast(__x as double))"
        resid_i = f"(cast({mexp} as double) - {fit_i})"
        tz = f"round({resid_i} / nullif(__s, 0.0D), 6)"
        tt = repr(float(trend_threshold))
        l5.extend(
            [
                f"round(__b / {scale}, 6) AS trend_slope",
                f"round(__a / {scale}, 6) AS trend_intercept",
                f"round({fit_i} / {scale}, 6) AS trend_fit",
                f"round({resid_i} / {scale}, 6) AS trend_resid",
                f"{tz} AS trend_z",
                f"CASE WHEN {tz} IS NOT NULL THEN"
                f" cast(abs({tz}) > {tt}D as int) END AS trend_alarm",
            ]
        )
    keep = [ident(c) for c in [*df.columns, *z_cols, *z_flags]] + [
        "ewma", "ewma_dev", "ewma_alarm",
    ]
    # ONE spark.sql call for the whole battery (r9): the r8 layered
    # selectExpr form still paid ~0.6 s of DRIVER time per invocation
    # because every DataFrame op triggers an EAGER analysis pass over
    # the whole accumulated tree (~13 passes, most over the big lineage;
    # measured with QueryExecution phase timers: build 0.62 s, optimize
    # 0.2 s, physical 0.05 s). Emitting the identical expression strings
    # as CTE layers through a single parameterized spark.sql analyzes
    # the tree ONCE. {df}/{src} bind the input frames by reference
    # (PySpark SQL string formatting registers them — no view-name
    # management, no global state).
    hint = (
        "/*+ BROADCAST(" + ", ".join(hint_tables) + ") */ "
        if hint_tables
        else ""
    )
    sql = (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT "
        + hint
        + ", ".join(keep + l5)
        + join_tail
    )
    if src is df:
        return df.sparkSession.sql(sql, df=df)
    return df.sparkSession.sql(sql, df=df, src=src)


def ensemble_flags(
    df: DataFrame,
    flag_cols: Sequence[str],
    k: int = 2,
    votes_col: str = "votes",
    alarm_col: str = "ensemble_alarm",
) -> DataFrame:
    """Detector-ensemble vote: ``votes_col`` = how many of
    ``flag_cols`` fired (NULL = abstain = 0, the detector-metrics
    convention), ``alarm_col`` = votes >= ``k``. The standard
    fusion step over a battery — k=1 is union (max recall), k=len is
    intersection (max precision), in between trades them; see e.g.
    Aggarwal, "Outlier Analysis" ch. 6 (ensemble methods).

    Pure SQL-text expression layer (the §12 plan-time rule): one
    ``selectExpr``, no joins, no shuffle, trivially oracle-mirrorable
    — the vote arithmetic is exact integer addition over 0/1 columns.
    """
    cols = list(flag_cols)
    if not cols:
        raise ValueError("ensemble_flags: need at least one flag column")
    if not 1 <= int(k) <= len(cols):
        raise ValueError(
            f"ensemble_flags: k must be in [1, {len(cols)}], got {k}"
        )
    terms = " + ".join(f"coalesce(cast(`{c}` as int), 0)" for c in cols)
    return df.selectExpr(
        "*",
        f"cast(({terms}) as bigint) AS `{votes_col}`",
        f"cast(({terms}) >= {int(k)} as bigint) AS `{alarm_col}`",
    )


def anomaly_episodes(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    flag_col: str,
    gap: str = "2 hours",
    order_tiebreak: Sequence[str] = (),
    value_col: str | None = None,
    attach: bool = False,
) -> DataFrame:
    """Collapse consecutive flagged points into EPISODES — the unit an
    on-call rotation actually reasons about (one incident, not 40
    pages): flagged rows closer than ``gap`` belong to the same
    episode (the same lag/cumsum sessionization as
    :func:`operators.timeseries.sessionize`, applied to the ALERT rows
    only — the gap clock ignores healthy points in between).

    ``attach=False``: one row per episode — keys + ``episode_id`` +
    ``episode_start`` / ``episode_end`` / ``episode_n`` and, with
    ``value_col``, ``episode_peak`` (max). ``attach=True``: the flagged
    rows themselves, each carrying its ``episode_id`` and the episode's
    summary columns (broadcast-sized per key in practice, but joined on
    the same (key, episode_id) partitioning — no new shuffle axis).

    Pure relational (two window passes + one grouped aggregate), so
    exactly SQL-expressible and oracle-checkable.
    """
    from .timeseries import sessionize

    flagged = df.where(F.col(flag_col).cast("boolean"))
    assigned = sessionize(
        flagged, list(keys), ts_col, gap=gap,
        order_tiebreak=list(order_tiebreak), session_col="episode_id",
    )
    aggs = [
        F.min(ts_col).alias("episode_start"),
        F.max(ts_col).alias("episode_end"),
        F.count("*").alias("episode_n"),
    ]
    if value_col:
        aggs.append(F.max(value_col).alias("episode_peak"))
    episodes = assigned.groupBy(*keys, "episode_id").agg(*aggs)
    if not attach:
        return episodes
    return assigned.join(episodes, [*keys, "episode_id"])
