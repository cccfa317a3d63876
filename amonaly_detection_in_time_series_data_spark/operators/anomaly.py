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
   the LSTM-AE. The numpy LSTM autoencoder (:mod:`.lstm`) scores in the
   same slot through Arrow-batched ``mapInPandas``
   (:func:`.inference.sequence_reconstruction_scores`).

Around them sits the model-free detector battery (:func:`anomaly_battery`:
z-score, Page-Hinkley, EWMA, Tukey fences + MAD, OLS trend). Each battery
statistic is written ONCE, as SQL text, by a pure-Python builder that takes
column names and parameters and returns ``{output: expression}`` maps
(``..._sql`` functions, a list of them where a statistic needs several
analysis layers):

- :func:`zscore_window_sql` / :func:`zscore_flag_sql` — rolling z-score;
- :func:`page_hinkley_sql` — the PH running-mean/sum/min-max layers;
- :func:`ewma_sql` — truncated EWMA window layer, deviation and alarm;
- :func:`percentiles_sql`, :func:`order_stats_sql`, :func:`mad_sql`,
  :func:`abs_dev_sql`, :func:`tukey_fence_sql`, :func:`robust_z_sql` —
  quartiles/median, the MAD pass, Tukey's fences and the modified z;
- :func:`ols_sums_sql`, :func:`ols_fit_sql`, :func:`trend_flag_sql` — the
  OLS sufficient statistics, closed-form fit and residual scoring.

The aggregate-style builders take an optional ``OVER`` clause, so the same
text is a GROUP BY aggregate in a detector's face and a partition-window
aggregate in the battery's fused plan. Each DataFrame face ships its
builders' layers through one ``selectExpr`` per layer (and aggregates
through one ``groupBy``); :func:`anomaly_battery` merges the same layers
position by position into the CTEs of one ``spark.sql`` statement. The
integer-unit snap is :func:`~..functions.sqltext.unit_snap`.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import (
    RUNNING,
    aliased,
    col_ref,
    ddl,
    ident,
    over,
    past_rows,
    unit_snap,
    with_columns,
)


def _dbl(x: float) -> str:
    """``x`` as a DOUBLE literal (what ``F.lit`` of a Python float gives)."""
    return f"{float(x)!r}D"


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
        "is_anomaly": f"coalesce(cast(abs({z}) > {_dbl(threshold)} as int), 0)",
    }


def page_hinkley_sql(
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    delta: float = 0.0,
    lam: float = 10.0,
    unit_digits: int | None = None,
) -> list[dict[str, str]]:
    """Page-Hinkley as SQL-text layers, each over the previous layer's
    materialized outputs: running mean, running deviation sums
    ``__u``/``__d``, their distance from the running min/max, then the
    alarm. Outputs ``ph_inc``, ``ph_dec``, ``ph_alarm``; the ``__``
    columns are helpers. With ``unit_digits`` every stage is an exact
    integer over the snapped value ``__m`` and the running mean is
    ``floor((2S+n)/(2n))`` (see :func:`page_hinkley`)."""
    t = col_ref(target)
    run = over(key_cols, order_cols, RUNNING)
    if unit_digits is None:
        d, lam_t = _dbl(delta), _dbl(lam)
        return [
            {"__xbar": f"avg({t}) {run}"},
            {
                "__u": f"sum({t} - __xbar - {d}) {run}",
                "__d": f"sum({t} - __xbar + {d}) {run}",
            },
            {
                "ph_inc": f"__u - min(__u) {run}",
                "ph_dec": f"max(__d) {run} - __d",
            },
            {"ph_alarm": f"cast(ph_inc > {lam_t} OR ph_dec > {lam_t} as int)"},
        ]
    scale = 10**unit_digits
    m = unit_snap(t, scale)
    d, lam_i = int(round(delta * scale)), int(round(lam * scale))
    return [
        {
            "__m": m,
            "__s_run": f"sum({m}) {run}",
            "__n_run": f"count({m}) {run}",
        },
        {
            "__xbar_i": "cast(floor((2 * __s_run + __n_run)"
            " / (2 * __n_run)) as bigint)"
        },
        {
            "__u": f"sum(__m - __xbar_i - {d}) {run}",
            "__d": f"sum(__m - __xbar_i + {d}) {run}",
        },
        {
            "__inc_i": f"__u - min(__u) {run}",
            "__dec_i": f"max(__d) {run} - __d",
        },
        {
            "ph_inc": f"__inc_i / {scale}",
            "ph_dec": f"__dec_i / {scale}",
            "ph_alarm": f"cast(__inc_i > {lam_i} OR __dec_i > {lam_i} as int)",
        },
    ]


def ewma_sql(
    target: str,
    window_rows: int,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    alpha: float = 0.5,
    threshold: float = 3.0,
) -> list[dict[str, str]]:
    """The truncated EWMA control chart as two SQL-text layers: the window
    layer (``__rstd`` and the weighted-sum numerator/denominator over the
    past-only frame), then ``ewma``, ``ewma_dev`` and ``ewma_alarm``.

    The weighted sum is ONE ``collect_list`` window, reversed so lag 1 is
    first, zipped against the literal weight vector and folded left to
    right. That is bit-identical to a flat ``lag(t, j)`` chain: zip_with
    pads the short start-of-partition arrays with NULL structs (the
    out-of-frame lag) and ``aggregate`` adds the terms in the same
    j = 1..w order. It replaces 2*w window expressions with one: measured
    (interleaved, sf0.1 events with planted nulls, w = 32) replan
    34 -> 16 ms and execution 0.72 -> 0.34 s."""
    t = col_ref(target)
    we = over(key_cols, order_cols, past_rows(window_rows))
    wts = ", ".join(_dbl((1.0 - alpha) ** (j - 1)) for j in range(1, window_rows + 1))
    terms = f"zip_with(reverse(collect_list(struct({t} AS v)) {we}), array({wts}), (s, w) ->"
    ewma = "CASE WHEN __ewma_den > 0.0D THEN __ewma_num / __ewma_den END"
    dev = f"({t} - ({ewma})) / nullif(__rstd, 0.0D)"
    return [
        {
            "__rstd": f"stddev_samp({t}) {we}",
            "__ewma_num": f"aggregate({terms} coalesce(s.v * w, 0.0D)),"
            " 0.0D, (acc, x) -> acc + x)",
            "__ewma_den": f"aggregate({terms} CASE WHEN s.v IS NOT NULL"
            " THEN w ELSE 0.0D END), 0.0D, (acc, x) -> acc + x)",
        },
        {
            "ewma": ewma,
            "ewma_dev": dev,
            "ewma_alarm": f"coalesce(cast(abs({dev}) > {_dbl(threshold)} as int), 0)",
        },
    ]


def percentiles_sql(target: str, unit_digits: int | None = None) -> str:
    """Quartiles and median of ``target`` (snapped to integer units with
    ``unit_digits``) in ONE exact ``percentile`` buffer: the aggregate the
    Tukey/MAD family reads its order statistics from."""
    x = col_ref(target)
    if unit_digits is not None:
        x = unit_snap(x, 10**unit_digits)
    return f"percentile({x}, array(0.25, 0.5, 0.75))"


def order_stats_sql(pcts: str, unit_digits: int | None = None) -> dict[str, str]:
    """``__q1``, ``__q3`` and the median out of the :func:`percentiles_sql`
    array ``pcts`` (the aggregate itself, or a column holding it). Float:
    the median is the public ``med``. Integer mode: ``4*q1``, ``4*q3`` and
    ``2*median`` of integer units, exact BIGINTs (quartile weights are
    quarters, median weights halves); the median is ``__med_2``."""
    if unit_digits is None:
        return {"__q1": f"{pcts}[0]", "__q3": f"{pcts}[2]", "med": f"{pcts}[1]"}
    return {
        "__q1": f"cast(round(4 * {pcts}[0]) as bigint)",
        "__q3": f"cast(round(4 * {pcts}[2]) as bigint)",
        "__med_2": f"cast(round(2 * {pcts}[1]) as bigint)",
    }


def abs_dev_sql(target: str, unit_digits: int | None = None) -> str:
    """``|x - median|`` over a frame carrying :func:`order_stats_sql`'s
    median; in integer mode in half-units (``|2m - __med_2|``)."""
    t = col_ref(target)
    if unit_digits is None:
        return f"abs({t} - med)"
    return f"abs(2 * {unit_snap(t, 10**unit_digits)} - __med_2)"


def mad_sql(
    target: str, unit_digits: int | None = None, window: str = ""
) -> list[dict[str, str]]:
    """The MAD pass as two layers: the absolute deviation (a scalar over
    a frame carrying the median), then its median. Float: ``mad``;
    integer mode: ``__mad_8``, the MAD in eighth-units (exact). The
    second layer is an aggregate, or with ``window`` (an ``OVER``
    clause) a window aggregate."""
    over_w = f" {window}" if window else ""
    if unit_digits is None:
        return [
            {"__dev": abs_dev_sql(target)},
            {"mad": f"percentile(__dev, 0.5){over_w}"},
        ]
    return [
        {"__sdev_2": abs_dev_sql(target, unit_digits)},
        {"__mad_8": f"cast(round(4 * percentile(__sdev_2, 0.5){over_w}) as bigint)"},
    ]


def tukey_fence_sql(
    target: str, k: float = 1.5, unit_digits: int | None = None
) -> dict[str, str]:
    """Tukey's fences over a frame carrying :func:`order_stats_sql`'s
    ``__q1``/``__q3``: ``iqr_lo``, ``iqr_hi``, ``iqr_alarm``. Integer
    mode (``k`` = 1.5) compares ``8m`` against the integer fences
    ``5*q1_4 - 3*q3_4`` and ``5*q3_4 - 3*q1_4``: no float boundary."""
    t = col_ref(target)
    if unit_digits is None:
        lo = f"__q1 - {_dbl(k)} * (__q3 - __q1)"
        hi = f"__q3 + {_dbl(k)} * (__q3 - __q1)"
        return {
            "iqr_lo": lo,
            "iqr_hi": hi,
            "iqr_alarm": f"cast({t} < ({lo}) OR {t} > ({hi}) as int)",
        }
    scale = 10**unit_digits
    m8 = f"8 * {unit_snap(t, scale)}"
    lo, hi = "5 * __q1 - 3 * __q3", "5 * __q3 - 3 * __q1"
    return {
        "iqr_lo": f"({lo}) / {_dbl(8.0 * scale)}",
        "iqr_hi": f"({hi}) / {_dbl(8.0 * scale)}",
        "iqr_alarm": f"cast({m8} < {lo} OR {m8} > {hi} as int)",
    }


def robust_z_sql(
    target: str, threshold: float = 3.5, unit_digits: int | None = None
) -> dict[str, str]:
    """The Iglewicz-Hoaglin modified z-score over a frame carrying the
    median and the MAD. Float: ``dev``, ``robust_mz``, ``robust_alarm``.
    Integer mode (``threshold`` = 3.5): ``med``, ``mad``, ``dev`` as exact
    decimals and the alarm ``0.6745 * dev / mad > 3.5`` as an integer
    cross-multiplication of the half-unit deviation and the eighth-unit
    MAD (``0.6745 * 8/2`` against 3.5, both times 10^4)."""
    dev = abs_dev_sql(target, unit_digits)
    if unit_digits is None:
        mz = f"0.6745D * {dev} / nullif(mad, 0.0D)"
        return {
            "dev": dev,
            "robust_mz": mz,
            "robust_alarm": f"coalesce(cast({mz} > {_dbl(threshold)} as int), 0)",
        }
    s2, s8 = _dbl(2.0 * 10**unit_digits), _dbl(8.0 * 10**unit_digits)
    return {
        "med": f"__med_2 / {s2}",
        "mad": f"__mad_8 / {s8}",
        "dev": f"{dev} / {s2}",
        "robust_alarm": f"cast(__mad_8 > 0 AND 26980 * {dev} > 35000 * __mad_8 as int)",
    }


def ols_sums_sql(x: str, y: str, window: str = "") -> dict[str, str]:
    """The six OLS sufficient statistics ``(n, Σx, Σy, Σx², Σxy, Σy²)``
    of the rows where ``y`` is non-NULL (``x`` must be non-NULL there),
    as aggregates (or window aggregates with ``window``, an ``OVER``
    clause). Over BIGINT ``x``/``y`` every sum is exact in any combine
    order."""
    ok = f"{y} IS NOT NULL"
    over_w = f" {window}" if window else ""
    return {
        "__n": f"count(CASE WHEN {ok} THEN 1 END){over_w}",
        "__sx": f"sum(CASE WHEN {ok} THEN {x} END){over_w}",
        "__sy": f"sum({y}){over_w}",
        "__sxx": f"sum(CASE WHEN {ok} THEN {x} * {x} END){over_w}",
        "__sxy": f"sum({x} * {y}){over_w}",
        "__syy": f"sum({y} * {y}){over_w}",
    }


def ols_fit_sql(min_points: int = 3) -> list[dict[str, str]]:
    """The closed-form OLS fit from :func:`ols_sums_sql`'s sums, as two
    layers: slope ``__b`` (NULL below ``min_points`` points or at zero
    x-variance), then intercept ``__a`` and residual standard error
    ``__s`` (``SSE = Syy - Sy²/n - b²(Sxx - Sx²/n)``, so no second pass
    over the rows)."""
    n, sx, sy, sxx, sxy, syy = (
        f"cast({c} as double)"
        for c in ("__n", "__sx", "__sy", "__sxx", "__sxy", "__syy")
    )
    vx = f"{n} * {sxx} - {sx} * {sx}"
    sse = (
        f"greatest(0.0D, {syy} - {sy} * {sy} / {n}"
        f" - __b * __b * ({sxx} - {sx} * {sx} / {n}))"
    )
    return [
        {
            "__b": f"CASE WHEN {n} >= {min_points} AND {vx} > 0"
            f" THEN ({n} * {sxy} - {sx} * {sy}) / ({vx}) END"
        },
        {
            "__a": f"({sy} - __b * {sx}) / {n}",
            "__s": f"CASE WHEN {n} > 2 THEN sqrt({sse} / ({n} - 2)) END",
        },
    ]


def trend_flag_sql(
    y: str,
    x: str,
    threshold: float = 3.0,
    round_digits: int | None = 6,
    scale: int | None = None,
) -> dict[str, str]:
    """Scoring against an :func:`ols_fit_sql` fit over a frame carrying
    ``__a``/``__b``/``__s``: ``trend_slope``, ``trend_intercept``,
    ``trend_fit``, ``trend_resid``, ``trend_z`` and ``trend_alarm``
    (NULL when z is). ``y``/``x`` are DOUBLE expressions; with ``scale``
    the fit is in integer units and the outputs are divided back by it.
    ``round_digits=None`` leaves every output unrounded."""

    def out(e: str) -> str:
        e = f"{e} / {scale}" if scale is not None else e
        return e if round_digits is None else f"round({e}, {round_digits})"

    fit = f"(__a + __b * {x})"
    resid = f"({y} - {fit})"
    z = f"{resid} / nullif(__s, 0.0D)"
    if round_digits is not None:
        z = f"round({z}, {round_digits})"
    return {
        "trend_slope": out("__b"),
        "trend_intercept": out("__a"),
        "trend_fit": out(fit),
        "trend_resid": out(resid),
        "trend_z": z,
        "trend_alarm": f"CASE WHEN {z} IS NOT NULL THEN"
        f" cast(abs({z}) > {_dbl(threshold)} as int) END",
    }


def _helpers(layers: Sequence[Mapping[str, str]]) -> list[str]:
    """The ``__`` helper columns a layer list defines."""
    return [c for layer in layers for c in layer if c.startswith("__")]


def _layered(
    df: DataFrame, layers: Sequence[Mapping[str, str]], drop: Sequence[str] = ()
) -> DataFrame:
    """Each layer through one ``selectExpr`` (``withColumns`` semantics);
    the last one also leaves out the ``drop`` columns."""
    for i, layer in enumerate(layers):
        last = i == len(layers) - 1
        df = df.selectExpr(*with_columns(df.columns, layer, drop if last else ()))
    return df


def _attach(
    frame: DataFrame, stats: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """Broadcast-join per-key (or, keyless, global) statistics back. The
    keyless statistics are one row, so a cross join serves every ``how``."""
    if keys:
        return frame.join(F.broadcast(stats), keys, how)
    return frame.crossJoin(F.broadcast(stats))


def _aggregate(src: DataFrame, keys: list[str], exprs: Mapping[str, str]) -> DataFrame:
    """One (grouped, when ``keys``) aggregate of SQL-text expressions."""
    aggs = [F.expr(e) for e in aliased(exprs)]
    return src.groupBy(*keys).agg(*aggs) if keys else src.agg(*aggs)


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
    df: DataFrame, score_col: str, threshold: float = 3.0
) -> DataFrame:
    """Standardize ``score_col`` against its global mean/std and flag
    ``|z| > threshold`` (reference spec main.py:223-231 with the 3.0
    constant from config.py:21).

    The mu/sigma aggregate runs EAGERLY as one bounded scalar collect (a
    single row — the audited exception class) and the values are
    embedded as literals, so the returned plan has NO stats subtree and
    no global window partition. Why that matters: when ``score_col`` is
    produced by a Python map stage (the Arrow ``mapInPandas`` scorer),
    column pruning cannot cross the UDF boundary, so a lazy
    broadcast-stats branch re-executed the ENTIRE scoring pass on every
    action — two global passes per count/write, the measured
    ~3x/decade ceiling of ``sequence_scores`` (SCALING §10a0d).
    Collected once, each action pays ONE pass.
    """
    row = df.agg(
        F.avg(score_col).alias("__mu"), F.stddev_samp(score_col).alias("__sigma")
    ).collect()[0]
    mu = F.lit(row["__mu"]).cast("double")
    sigma = F.lit(row["__sigma"]).cast("double")
    z = (F.col(score_col) - mu) / F.nullif(sigma, F.lit(0.0))
    return df.withColumn(f"{score_col}_z", z).withColumn(
        "is_anomaly",
        F.coalesce(
            (F.abs(F.col(f"{score_col}_z")) > F.lit(threshold)).cast("int"),
            F.lit(0),
        ),
    )


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
    detector is oracle-checkable. The stages are
    :func:`page_hinkley_sql`'s layers, one ``selectExpr`` each: each
    layer reads only the previous layer's materialized outputs
    (re-deriving a window expression would make WindowExec evaluate it
    twice).

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
    layers = page_hinkley_sql(target, key_cols, order_cols, delta, lam, unit_digits)
    return _layered(df, layers, _helpers(layers))


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

    Two ``selectExpr`` layers, :func:`ewma_sql`'s: the window outputs,
    then the scalar deviation and alarm over them. The 32-row cap
    stands — beyond it the truncated-window model itself should be
    revisited, not the weight vector.
    """
    if window_rows > 32:
        raise ValueError(
            "ewma_deviation: window_rows > 32 — use the seasonal/rolling "
            "family or extend with the HOF form (flat codegen blows up)"
        )
    layers = ewma_sql(target, window_rows, key_cols, order_cols, alpha, threshold)
    return _layered(df, layers, _helpers(layers))


def _order_stats_joined(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None,
    unit_digits: int | None,
    names: Sequence[str],
    mad: bool,
) -> DataFrame:
    """``df`` with the per-key (or global) order statistics ``names`` of
    :func:`order_stats_sql` broadcast-joined back and, when ``mad``, the
    MAD from a second aggregate over that joined frame joined to them."""
    keys = list(key_cols) if key_cols else []
    pcts = percentiles_sql(target, unit_digits)
    stats = order_stats_sql(pcts, unit_digits)
    out = _attach(df, _aggregate(df, keys, {c: stats[c] for c in names}), keys)
    if not mad:
        return out
    dev, mad_agg = mad_sql(target, unit_digits)
    return _attach(out, _aggregate(_layered(out, [dev]), keys, mad_agg), keys)


def iqr_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    k: float = 1.5,
    unit_digits: int | None = None,
) -> DataFrame:
    """Tukey-fence outliers: flag values outside ``[q1 - k*IQR,
    q3 + k*IQR]`` with exact (interpolated) quartiles, per key or
    globally.

    Per-key stats are one aggregate (quartiles of one percentile buffer
    per key) broadcast back — never a per-key window over the data.
    Exact ``percentile`` is a per-key sort of that key's values; at
    100 TB swap ``approx_percentile`` into the same slot (documented
    trade, same fence logic).

    ``unit_digits``: exact integer-unit mode (requires ``k=1.5``) — the
    quartile interpolation weights are quarters, so ``4*percentile`` of
    integer-unit values is an exact integer; the fences become the
    integer combinations ``lo = (5*q1_4 - 3*q3_4)/8``, ``hi = (5*q3_4 -
    3*q1_4)/8`` and the alarm compares ``8*m`` against them — no float
    boundary anywhere, bit-reproducible in any engine (quartiles of
    grid data sit ON the fence grid routinely: measured 62/10000
    cross-engine flips in float mode).

    Composed after other detectors, the stats aggregate reads the
    composed frame, prior broadcast joins included (inner joins are not
    prunable); :func:`anomaly_battery` fuses the whole set into one plan.
    """
    if unit_digits is not None and abs(k - 1.5) > 1e-12:
        raise ValueError("iqr_flags integer mode supports k=1.5 only")
    q = ("__q1", "__q3")
    d = _order_stats_joined(df, target, key_cols, unit_digits, q, mad=False)
    return _layered(d, [tukey_fence_sql(target, k, unit_digits)], q)


def robust_zscore_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    threshold: float = 3.5,
    unit_digits: int | None = None,
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
    and the alarm becomes an integer cross-multiplication of the two
    (:func:`robust_z_sql`), so there is no float comparison anywhere and
    any engine reproduces the flags bit-for-bit. Outputs
    ``med``/``mad``/``dev`` are exact decimals (<= 5 places). The float
    mode additionally emits ``robust_mz``.
    """
    if unit_digits is not None and abs(threshold - 3.5) > 1e-12:
        raise ValueError("robust_zscore_flags integer mode needs threshold=3.5")
    med = "med" if unit_digits is None else "__med_2"
    d = _order_stats_joined(df, target, key_cols, unit_digits, (med,), mad=True)
    out = robust_z_sql(target, threshold, unit_digits)
    return _layered(d, [out], ("__med_2", "__mad_8"))


def tukey_robust_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str] | None = None,
    k: float = 1.5,
    threshold: float = 3.5,
    unit_digits: int | None = None,
) -> DataFrame:
    """Fused :func:`iqr_flags` + :func:`robust_zscore_flags` — identical
    output columns and values, one fewer pass over the data.

    Composed separately the two detectors cost three stats aggregates
    (IQR quartiles; median; MAD of residuals).
    The quartiles and the median are order statistics of the SAME
    column, so pass 1 here computes ``percentile(m, array(0.25, 0.5,
    0.75))`` in ONE groupBy aggregate — the key's values are buffered
    once, not three times. MAD keeps its inherent second pass
    (residuals need the median first). Net: the 5-FileScan battery plan
    becomes 3 scans (main + fused order-stats + MAD), plan-asserted in
    tests — at 100 TB every shaved scan compounds.

    Semantics and integer-exact mode: see the two fused functions'
    docstrings.
    """
    if unit_digits is not None:
        if abs(k - 1.5) > 1e-12:
            raise ValueError("tukey_robust_flags integer mode supports k=1.5 only")
        if abs(threshold - 3.5) > 1e-12:
            raise ValueError("tukey_robust_flags integer mode needs threshold=3.5")
    names = ("__q1", "__q3", "med" if unit_digits is None else "__med_2")
    d = _order_stats_joined(df, target, key_cols, unit_digits, names, mad=True)
    out = {
        **tukey_fence_sql(target, k, unit_digits),
        **robust_z_sql(target, threshold, unit_digits),
    }
    return _layered(d, [out], ("__q1", "__q3", "__med_2", "__mad_8"))


def _ols_fit(d: DataFrame, keys: list[str], x: str, y: str) -> DataFrame:
    """Per-key ``__b``/``__a``/``__s`` fitted from ``d``'s (x, y) rows:
    one aggregate of the sufficient statistics, then the closed form."""
    sums = ols_sums_sql(x, y)
    return _layered(_aggregate(d, keys, sums), ols_fit_sql(), list(sums))


def trend_ols_flags(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str] | None = None,
    x_col: str | None = None,
    threshold: float = 3.0,
    round_digits: int = 6,
    unit_digits: int | None = None,
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
    statistics ``(n, Σx, Σy, Σx², Σxy, Σy²)`` (:func:`ols_sums_sql`,
    :func:`ols_fit_sql`) — ONE partial-aggregated groupBy pass per key,
    broadcast back, with SSE derived from the same sums so there is NO
    second pass for the residual scale. With ``x_col`` given the whole
    detector is aggregate + map: zero windows, zero sorts. Scoring is
    scalar (:func:`trend_flag_sql`).

    Degenerate series (n < 3, or zero x-variance) yield NULL
    slope/z/flag — surfaced, not silently zeroed.

    Output adds: ``trend_slope``, ``trend_intercept``, ``trend_fit``
    (fitted value), ``trend_resid``, ``trend_z``, ``trend_alarm``.

    ``unit_digits`` (requires ``x_col=None``): run the sufficient
    statistics in EXACT integer units — ``y`` snapped to ``1/scale``
    units, ``x`` the row index, all six sums BIGINT, so they are
    combine-order-proof and any engine derives bit-identical doubles
    from them. Bounded: Σx² overflows int64 only past ~2e6 rows per key;
    beyond that use the float path with ``x_col``.
    """
    keys = list(key_cols)
    t = col_ref(target)
    if unit_digits is not None:
        if x_col is not None:
            raise ValueError(
                "trend_ols_flags: unit_digits requires x_col=None "
                "(the integer x is the row index)"
            )
        if not order_cols:
            raise ValueError("trend_ols_flags: order_cols is required")
        scale = 10**unit_digits
        x = f"cast(row_number() {over(keys, order_cols)} - 1 as bigint)"
        y_fit = unit_snap(t, scale)
        flags = trend_flag_sql(
            f"cast({y_fit} as double)", "cast(__x as double)",
            threshold, round_digits, scale,
        )
    else:
        if x_col is not None:
            x = f"cast({col_ref(x_col)} as double)"
        elif order_cols:
            x = f"cast(row_number() {over(keys, order_cols)} - 1 as double)"
        else:
            raise ValueError(
                "trend_ols_flags: order_cols is required when x_col is None"
            )
        y = f"cast({t} as double)"
        y_fit = f"CASE WHEN __x IS NOT NULL THEN {y} END"
        flags = trend_flag_sql(y, "__x", threshold, round_digits)
    d = df.selectExpr(*with_columns(df.columns, {"__x": x}))
    d = _attach(d, _ols_fit(d, keys, "__x", y_fit), keys, "left")
    return _layered(d, [flags], ("__x", "__b", "__a", "__s"))


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
    ``[first, t-1]`` frame on the shared (key, order) exchange — no
    iteration, no Python.

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
    past = over(keys, order_cols, "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    scored = trend_flag_sql(
        "cast(__yi as double)", "cast(__x as double)", threshold, None, scale
    )
    layers = [
        {
            "__yi": unit_snap(col_ref(target), scale),
            "__x": f"cast(row_number() {over(keys, order_cols)} - 1 as bigint)",
        },
        ols_sums_sql("__x", "__yi", past),
        *ols_fit_sql(min_points),
        {
            f"trend_run_{c}": scored[f"trend_{c}"]
            for c in ("slope", "fit", "z", "alarm")
        },
    ]
    return _layered(df, layers, _helpers(layers))


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

        d = df.withColumn("__v_i", F.expr(unit_snap(col_ref(value_col), scale)))
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
        schema = f"{ddl(df.schema, keys)}, {ddl(df.schema, {'__dts': ts_col})}, __d int"
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
    trend_threshold: float = 3.0,
) -> DataFrame:
    """The full model-free detector battery in ONE fused plan:
    :func:`rolling_zscore` + :func:`page_hinkley` +
    :func:`ewma_deviation` + :func:`tukey_robust_flags` +
    :func:`trend_ols_flags`, value-identical to the
    sequential composition (differential-tested) but built in the
    MINIMUM number of analysis layers, from the same SQL-text builders
    the detectors ship.

    Why: executor-side the composed battery was already one (key,
    order) exchange + three FileScans — but DRIVER-side each
    ``withColumn(s)``/``join`` re-analyzes the whole accumulated tree,
    and the composed chain's ~17 passes over an ever-growing plan were
    measured at ~0.9 s warm per call (the dominant term of the
    anomaly_zscore bench query). The fusion merges the detectors'
    layers position by position:

    - L1: ALL window functions over the shared (key, order) exchange —
      z-mean/std, the EWMA window, the PH running sum/count, the trend
      row index — plus the integer-unit snap; Page-Hinkley's
      running-mean → running-deviation-sum → running-min/max chain
      forces exactly two more window layers (L3, L4) because each stage
      windows over the previous stage's output;
    - L2/L5: the scalar arithmetic between them;
    - the per-key order statistics (Tukey/MAD) and OLS sufficient
      statistics ride the SAME (key, order) exchange as
      ``... OVER (PARTITION BY key)`` window aggregates (r14 fusion),
      so the whole battery executes as 1 FileScan / 1 Exchange /
      0 joins.

    The layers are CTEs of ONE ``spark.sql`` call (r9): layered
    ``selectExpr`` calls still paid ~0.6 s of driver time per call,
    because every DataFrame op runs an eager analysis pass over the
    whole accumulated tree; one parameterized statement analyzes it
    once (``{df}`` binds the input frame by reference, so no view
    names and no global state). Integer-exact conventions
    (``unit_digits``) and thresholds follow the component operators'
    docstrings.
    """
    keys = list(key_cols)
    scale = 10**unit_digits
    if ewma_window > 32:
        raise ValueError("anomaly_battery: ewma_window > 32")
    if abs(tukey_k - 1.5) > 1e-12:
        raise ValueError("anomaly_battery: integer mode supports k=1.5 only")

    z_cols = zscore_window_sql(target, z_window, keys, order_cols)
    z_flags = zscore_flag_sql(target, z_threshold)
    ewma = ewma_sql(target, ewma_window, keys, order_cols, ewma_alpha, z_threshold)
    ph = page_hinkley_sql(target, keys, order_cols, ph_delta, ph_lam, unit_digits)
    layers = [
        {**z_cols, **ewma[0], **ph[0]},
        {**z_flags, **ewma[1], **ph[1]},
        {**ph[2]},
        {**ph[3]},
    ]
    layers[0]["__x"] = f"cast(row_number() {over(keys, order_cols)} - 1 as bigint)"
    outputs = {
        **ph[4],
        **tukey_fence_sql(target, tukey_k, unit_digits),
        **robust_z_sql(target, 3.5, unit_digits),
        **trend_flag_sql(
            f"cast({unit_snap(col_ref(target), scale)} as double)",
            "cast(__x as double)", trend_threshold, 6, scale,
        ),
    }
    # FUSED stats (r14): the per-key aggregates ride the main (key,
    # order) exchange as partition-window aggregates instead of
    # aggregate + broadcast-join subtrees, which re-scanned the source 3
    # more times (order stats, MAD, OLS sums): 4 FileScans / 4 exchanges
    # / 3 joins per action became 1 / 1 / 0. Values are bit-identical:
    # the window aggregate evaluates the same percentile/BIGINT-sum
    # functions over the same partition rows the GROUP BY saw. Measured
    # at sf0.1: anomaly_zscore 1.02 -> 0.7 s/action.
    wpart = over(keys, ())
    mad = mad_sql(target, unit_digits, wpart)
    layers[0]["__pcts"] = f"{percentiles_sql(target, unit_digits)} {wpart}"
    layers[1].update(order_stats_sql("__pcts", unit_digits))
    layers[2].update(mad[0])
    layers[3].update(mad[1])
    fit = ols_fit_sql()
    layers[1].update(ols_sums_sql("__x", "__m", wpart))
    layers[2].update(fit[0])
    layers[3].update(fit[1])
    chain, prev = [], "{df}"
    for i, layer in enumerate(layers, 1):
        chain.append(f"__l{i} AS (SELECT *, {', '.join(aliased(layer))} FROM {prev})")
        prev = f"__l{i}"
    # the final select lists the input columns, the public outputs of
    # L1/L2 and the L5 scalars: the __ helpers fall away with no drop()
    keep = map(ident, [*df.columns, *z_cols, *z_flags, *ewma[1]])
    sql = (
        "WITH " + ",\n".join(chain)
        + "\nSELECT " + ", ".join([*keep, *aliased(outputs)]) + " FROM __l4"
    )
    return df.sparkSession.sql(sql, df=df)


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
