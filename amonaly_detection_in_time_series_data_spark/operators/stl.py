"""STL: Seasonal-Trend decomposition using LOESS.

Cleveland, Cleveland, McRae & Terpenning, "STL: A Seasonal-Trend
Decomposition Procedure Based on Loess" (J. Official Statistics 1990) —
the standard robust decomposition: cycle-subseries LOESS for the
seasonal, a low-pass + LOESS pass for the trend, and outer robustness
iterations that bisquare-downweight outliers so a spike cannot bend
the seasonal/trend around itself. This upgrades the repo's
seasonal-median tier (``operators.anomaly.seasonal_decompose`` — fast,
exact, but piecewise-constant): STL gives SMOOTH, slowly-evolving
seasonality and trend, the shape real calendars have.

Implementation is the paper's structure with the common simplifications
(locally-LINEAR loess everywhere; the low-pass is the paper's
MA(period) x MA(period) x MA(3) cascade; defaults n_inner=2,
n_outer=1 robustness pass — statsmodels' defaults). All numpy, O(n * q)
per loess pass.

Execution: whole-series iterative — numpy per series group in the
shared Arrow stage :func:`~.series.per_series`, parallel across series
(the same axis as holt_winters). Input contract: regular null-free grid.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_series

__all__ = ["stl_decompose", "stl_numpy", "loess_numpy"]


def loess_numpy(y, q, rho=None):
    """Locally-linear LOESS smooth of a regular-grid series: for each
    point, weighted linear fit over its ``q`` nearest neighbors with
    tricube distance weights (times optional robustness weights
    ``rho``). Exact on globally linear data by construction."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    q = max(int(q), 2)
    q = min(q, n)
    out = np.empty(n)
    x = np.arange(n, dtype="float64")
    half = q // 2
    for i in range(n):
        lo = max(0, min(i - half, n - q))
        hi = lo + q
        xi = x[lo:hi]
        yi = y[lo:hi]
        d = np.abs(xi - i)
        dmax = d.max()
        if dmax <= 0:
            out[i] = yi.mean()
            continue
        w = (1.0 - (d / dmax) ** 3) ** 3
        w = np.maximum(w, 1e-9)  # endpoints of the span get ~0 tricube
        if rho is not None:
            w = w * rho[lo:hi]
        sw = w.sum()
        if sw <= 0:
            out[i] = yi.mean()
            continue
        xm = (w * xi).sum() / sw
        ym = (w * yi).sum() / sw
        sxx = (w * (xi - xm) * (xi - xm)).sum()
        if sxx <= 1e-12:
            out[i] = ym
            continue
        b = (w * (xi - xm) * (yi - ym)).sum() / sxx
        out[i] = ym + b * (i - xm)
    return out


def _ma(y, width):
    """Centered-ish moving average used by the STL low-pass cascade
    (for even widths the paper averages two offset windows; this uses
    the simple trailing-centered form with edge replication)."""
    import numpy as np

    n = len(y)
    if width <= 1 or n == 0:
        return np.asarray(y, dtype="float64").copy()
    pad_l = (width - 1) // 2
    pad_r = width - 1 - pad_l
    yp = np.concatenate([np.repeat(y[0], pad_l), y, np.repeat(y[-1], pad_r)])
    c = np.concatenate([[0.0], np.cumsum(yp)])
    return (c[width:] - c[:-width]) / width


def stl_numpy(y, period, seasonal_span=None, trend_span=None,
              n_inner=2, n_outer=1):
    """Returns (seasonal, trend, resid) arrays. Defaults follow the
    paper's guidance: seasonal span 7 periods (odd), trend span the
    smallest odd integer >= 1.5*period / (1 - 1.5/seasonal_span)."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    m = int(period)
    if m < 2:
        raise ValueError(f"stl: period must be >= 2, got {m}")
    if n < 2 * m:
        # too short to decompose: all trend (series mean), no seasonal
        tr = np.full(n, y.mean() if n else 0.0)
        return np.zeros(n), tr, y - tr
    ns = int(seasonal_span) if seasonal_span else 7
    if trend_span:
        nt = int(trend_span)
    else:
        nt = int(np.ceil(1.5 * m / (1.0 - 1.5 / ns)))
        if nt % 2 == 0:
            nt += 1
    rho = np.ones(n)
    seasonal = np.zeros(n)
    trend = np.zeros(n)
    for _outer in range(max(int(n_outer), 0) + 1):
        for _inner in range(max(int(n_inner), 1)):
            # 1. detrend
            detr = y - trend
            # 2. cycle-subseries loess -> preliminary seasonal
            c = np.empty(n)
            for p in range(m):
                idx = np.arange(p, n, m)
                c[idx] = loess_numpy(detr[idx], ns, rho[idx])
            # 3. low-pass the preliminary seasonal and remove it, so
            # the seasonal carries no trend
            low = _ma(_ma(_ma(c, m), m), 3)
            seasonal = c - low
            # 4. deseasonalize and loess -> trend
            trend = loess_numpy(y - seasonal, nt, rho)
        resid = y - seasonal - trend
        if _outer < n_outer:
            # bisquare robustness weights from the residuals
            s = np.median(np.abs(resid))
            if s <= 0:
                rho = np.ones(n)
            else:
                u = np.clip(resid / (6.0 * s), -1.0, 1.0)
                rho = (1.0 - u * u) ** 2
    return seasonal, trend, y - seasonal - trend


def stl_columns(y, period, seasonal_span, trend_span, n_outer, threshold):
    """:func:`stl_decompose`'s columns for one sorted series ``y``."""
    import numpy as np
    import pandas as pd

    s, t, r = stl_numpy(
        y, period, seasonal_span=seasonal_span, trend_span=trend_span,
        n_outer=n_outer,
    )
    scale = 1.4826022185056018 * float(np.median(np.abs(r - np.median(r)))) if len(r) else 0.0
    if scale > 0:
        z = (r - np.median(r)) / scale
        flag = pd.array(np.abs(z) > threshold, dtype="boolean")
    else:
        z = np.full(len(r), np.nan)
        flag = pd.array([None] * len(r), dtype="boolean")
    return {
        "stl_seasonal": s, "stl_trend": t, "stl_resid": r, "stl_z": z,
        "stl_flag": flag,
    }


def stl_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    period: int,
    seasonal_span: int | None = None,
    trend_span: int | None = None,
    n_outer: int = 1,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-series STL with residual z-score flags.

    Output: keys + ts + value + ``stl_seasonal`` / ``stl_trend`` /
    ``stl_resid`` (exact additive decomposition: the three columns sum
    to value) + ``stl_z`` (residual / robust residual scale,
    1.4826*MAD) + ``stl_flag`` (|z| > threshold; null when the scale is
    0). Input contract: regular null-free grid (compose after
    ``resample_grid`` + a fill operator).
    """
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(stl_columns, period=period, seasonal_span=seasonal_span,
                trend_span=trend_span, n_outer=n_outer,
                threshold=float(threshold)),
        "stl_seasonal double, stl_trend double, stl_resid double, "
        "stl_z double, stl_flag boolean",
        name="stl_decompose",
    )
