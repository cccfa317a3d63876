"""Kalman local-level filter + RTS smoother with innovation anomaly
flags.

The local level (random-walk-plus-noise) state-space model — Harvey,
"Forecasting, Structural Time Series Models and the Kalman Filter"
(1989) ch. 2; Durbin & Koopman, "Time Series Analysis by State Space
Methods" §2.2:

    y_t = mu_t + eps_t,   eps ~ N(0, R)
    mu_t = mu_{t-1} + eta_t,  eta ~ N(0, Q)

The filter yields, per row, the one-step prediction, the filtered
level, the innovation v_t = y_t - pred_t and its variance F_t; the
standardized innovation v_t / sqrt(F_t) is the classic model-based
anomaly score (a correctly-specified model makes it ~N(0,1), so |.|>3
flags genuine surprises while the adaptive level absorbs drift that
would page a fixed-mean z-score forever). The backward
Rauch-Tung-Striebel pass adds the smoothed level — the best in-sample
denoising the model supports.

Defaults: R from the Hall difference estimator ``mean(diff(y)^2)/2``
(robust to the level shifts being tracked), Q = ``snr * R`` with
``snr`` the signal-to-noise ratio knob (Durbin-Koopman's q).
Initialization is the standard exact-diffuse step: the first
observation initializes the level (its innovation/score are null).

Execution: the recursion is sequential per series — one Python loop
per series group in the shared Arrow stage :func:`~.series.per_series`;
O(1) state per series for the filter, O(n) for the smoother's stored
gains. The
filter loop is :func:`kalman_kernel`, the same kernel the streaming
twin ``streaming.rolling.streaming_kalman_level`` folds.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_series

__all__ = ["kalman_level", "kalman_numpy"]

KALMAN_INIT = (None, None)  # (level, variance) before the first observation


def kalman_kernel(state, ys, Q, R):
    """The filter recursion, resumable: ``state`` is the ``(level,
    variance)`` pair after the rows already seen (:data:`KALMAN_INIT`
    before any), ``ys`` the next values in time order. Returns the new
    state and, per value, ``(pred, pred_var, innov, innov_var, score,
    level, var)``; the first observation of a series pins the level
    (exact diffuse init) and has no prediction, so its first five are
    None. The batch :func:`kalman_numpy` and the streaming twin both
    run this loop."""
    a, P = state
    out = []
    for y in ys:
        if y is None or y != y:
            raise ValueError("kalman_level: null values in series (fill first)")
        y = float(y)
        if a is None:
            a, P = y, R
            out.append((None, None, None, None, None, a, P))
            continue
        a_pred = a
        p_pred = P + Q
        F = p_pred + R
        v = y - a_pred
        K = p_pred / F
        a = a_pred + K * v
        P = (1.0 - K) * p_pred
        out.append((a_pred, p_pred, v, F, v / math.sqrt(F), a, P))
    return (a, P), out


def kalman_numpy(y, q_var=None, r_var=None, snr=0.01):
    """Filter + RTS smoother for a 1-D series. Returns a dict of
    arrays: pred, level, innov, innov_var, score, smooth. Exposed so
    tests can pin the Spark operator bit-for-bit."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    if n == 0:
        return {
            k: np.full(0, np.nan)
            for k in ("pred", "level", "innov", "innov_var", "score", "smooth")
        }
    if r_var is None:
        if n >= 3:
            d = np.diff(y)
            r_var = float(np.mean(d * d) / 2.0)
        else:
            r_var = 1.0
        r_var = max(r_var, 1e-12)
    if q_var is None:
        q_var = float(snr) * r_var
    _, rows = kalman_kernel(KALMAN_INIT, y.tolist(), float(q_var), float(r_var))
    pred, p_pred, innov, innov_var, score, a, P = zip(*rows)
    # RTS backward pass: C_t = P_t / P_pred_{t+1}
    sm = [0.0] * n
    sm[n - 1] = a[n - 1]
    for t in range(n - 2, -1, -1):
        C = P[t] / p_pred[t + 1]
        sm[t] = a[t] + C * (sm[t + 1] - pred[t + 1])
    cols = dict(pred=pred, level=a, innov=innov, innov_var=innov_var,
                score=score, smooth=sm)
    return {k: np.array(v, dtype="float64") for k, v in cols.items()}


def kalman_columns(y, q_var, r_var, snr, threshold):
    """:func:`kalman_level`'s columns for one sorted series ``y``."""
    import numpy as np
    import pandas as pd

    r = kalman_numpy(y, q_var=q_var, r_var=r_var, snr=snr)
    score = r["score"]
    return {
        "kf_pred": r["pred"],
        "kf_level": r["level"],
        "kf_smooth": r["smooth"],
        "kf_innov": r["innov"],
        "kf_innov_sd": np.sqrt(r["innov_var"]),
        "kf_score": score,
        "kf_flag": pd.array(
            np.where(np.isnan(score), None, np.abs(score) > threshold),
            dtype="boolean",
        ),
    }


def kalman_level(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    q_var: float | None = None,
    r_var: float | None = None,
    snr: float = 0.01,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-series local-level Kalman filter/smoother.

    Output: series keys + ts + value + ``kf_pred`` (one-step-ahead
    prediction), ``kf_level`` (filtered), ``kf_smooth`` (RTS smoothed),
    ``kf_innov``, ``kf_innov_sd``, ``kf_score`` (standardized
    innovation) and ``kf_flag`` (|score| > ``threshold``; null on the
    diffuse first row). Row count preserved.

    Input contract: regular, null-free grid per series (compose after
    ``resample_grid`` + a fill operator); nulls raise.
    """
    if threshold <= 0:
        raise ValueError(f"kalman_level: threshold must be > 0, got {threshold}")
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(kalman_columns, q_var=q_var, r_var=r_var, snr=snr,
                threshold=float(threshold)),
        "kf_pred double, kf_level double, kf_smooth double, kf_innov double, "
        "kf_innov_sd double, kf_score double, kf_flag boolean",
        name="kalman_level",
    )
