"""Spectral Residual (SR) saliency anomaly detection.

Ren et al., "Time-Series Anomaly Detection Service at Microsoft"
(KDD 2019) — the SR transform from visual saliency detection applied
to time series: anomalies are points that stand out in the *saliency
map* reconstructed from the log-amplitude spectrum's residual. It
catches single spikes/dips AND small level shifts that a fixed-window
z-score smears out, complementing the point detectors in
``operators.anomaly`` (beyond-reference extension; the reference's
only scorers are reconstruction-error models, SURVEY §2.12).

Transform (paper §3.2, eqs. 1-9):
  A(f)    = amplitude of FFT(x)
  L(f)    = log A(f)
  AL(f)   = local average of L (window ``q``)
  R(f)    = L - AL                      (the spectral residual)
  S(x)    = |IFFT(exp(R + i*phase))|    (the saliency map)
  score_t = (S_t - mean(local S)) / mean(local S)
and a point is flagged when score > ``threshold`` (paper uses tau=3).

Per the paper the series is extended by ``extend`` estimated points
before the FFT (eq. 10: the estimate is the last point plus the mean
gradient of the preceding ``grad_points`` points) so the transform
does not ring at the right boundary where fresh anomalies live; the
extension rows are dropped from the output.

Execution: FFT per series — inherently whole-series, so numpy inside
the shared per-series Arrow stage :func:`~.series.per_series` (one
shuffle on the series key; parallelism = series count; O(n log n) per
series, scale-safe for many bounded series).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_series

__all__ = ["spectral_residual", "sr_numpy"]


def sr_numpy(y, q=3, score_window=21, extend=5, grad_points=5):
    """Saliency map + SR score for a 1-D series. Returns (saliency,
    score) arrays of len(y). Pure numpy — exposed so tests can pin the
    Spark operator bit-for-bit against a driver-side run."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    if n < 3:
        return np.zeros(n), np.zeros(n)
    ext = int(extend)
    if ext > 0:
        g = min(int(grad_points), n - 1)
        if g >= 1:
            grad = (y[-1] - y[-1 - g]) / g
        else:
            grad = 0.0
        tail = y[-1] + grad * np.arange(1, ext + 1)
        x = np.concatenate([y, tail])
    else:
        x = y
    spec = np.fft.fft(x)
    amp = np.abs(spec)
    eps = 1e-8
    logamp = np.log(np.maximum(amp, eps))
    kernel = np.ones(int(q)) / float(q)
    # centered moving average with edge replication (convolve on a
    # padded array so AL has the same length and no phase shift)
    pad = int(q) // 2
    padded = np.concatenate(
        [np.repeat(logamp[0], pad), logamp, np.repeat(logamp[-1], int(q) - 1 - pad)]
    )
    avg_log = np.convolve(padded, kernel, mode="valid")
    residual = logamp - avg_log
    phase = np.angle(spec)
    sal = np.abs(np.fft.ifft(np.exp(residual + 1j * phase)))
    sal = sal[:n]
    # score: relative deviation from the local mean of the saliency map
    w = min(int(score_window), n)
    csal = np.concatenate([[0.0], np.cumsum(sal)])
    idx = np.arange(n)
    lo = np.maximum(idx - w + 1, 0)
    local_mean = (csal[idx + 1] - csal[lo]) / (idx + 1 - lo)
    local_mean = np.maximum(local_mean, eps)
    score = (sal - local_mean) / local_mean
    return sal, score


def sr_columns(y, q, score_window, threshold, extend):
    """:func:`spectral_residual`'s columns for one sorted series ``y``."""
    sal, score = sr_numpy(y, q=q, score_window=score_window, extend=extend)
    return {"sr_saliency": sal, "sr_score": score, "sr_flag": score > threshold}


def spectral_residual(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    q: int = 3,
    score_window: int = 21,
    threshold: float = 3.0,
    extend: int = 5,
) -> DataFrame:
    """Per-series SR saliency scores and flags.

    Output: series keys + ``ts_col`` + ``value_col`` + ``sr_saliency``
    (the saliency-map value), ``sr_score`` (relative deviation from the
    trailing local saliency mean) and ``sr_flag``
    (score > ``threshold``). Row count is preserved.

    Input contract: regular, null-free grid per series (compose after
    ``resample_grid`` + a fill operator); nulls raise.
    """
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(sr_columns, q=q, score_window=score_window,
                threshold=float(threshold), extend=extend),
        "sr_saliency double, sr_score double, sr_flag boolean",
        name="spectral_residual",
    )
