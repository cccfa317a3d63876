"""Extreme-value thresholding: peaks-over-threshold with a GPD tail
fit (the SPOT/DSPOT idea).

Siffer, Fouque, Termier & Largouët, "Anomaly Detection in Streams with
Extreme Value Theory" (KDD 2017): instead of assuming normality (3σ)
or a fixed quantile, fit a Generalized Pareto Distribution to the
excesses over a high empirical threshold ``t`` (Pickands-Balkema-de
Haan: tail excesses converge to GPD regardless of the base
distribution) and set the alert threshold ``z_q`` so the probability
of exceeding it is a calibrated, USER-MEANINGFUL ``q`` (e.g. one in
1e4 observations):

    z_q = t + (sigma/gamma) * ((q*n/N_t)^(-gamma) - 1)      (gamma != 0)
    z_q = t - sigma * ln(q*n/N_t)                           (gamma == 0)

with ``n`` observations, ``N_t`` excesses over ``t``, and (gamma,
sigma) the GPD shape/scale. Fit: method of moments on the excesses
(gamma = 0.5*(1 - mean²/var), sigma = 0.5*mean*(1 + mean²/var) —
Hosking & Wallis 1987), the robust closed-form choice (no iterative
MLE dependency); SPOT's Grimshaw MLE refines the same two parameters.

Why it earns a place beside the battery: a 3σ rule on heavy-tailed
data either floods (tail wider than Gaussian) or sleeps (threshold
dragged up by the tail); POT calibrates the false-alarm RATE directly.

Execution: per-series numpy in the shared Arrow stage
:func:`~.series.per_series` (the fit needs the excess set; O(n) per
series), emitting per-row flags plus the fitted threshold columns so
downstream jobs can apply ``z_q`` as a stream filter without refitting.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_series

__all__ = ["pot_threshold", "gpd_fit_numpy", "pot_numpy"]


def gpd_fit_numpy(excesses):
    """Method-of-moments GPD fit (Hosking & Wallis 1987). Returns
    (gamma, sigma). Requires positive variance; a degenerate excess
    set (var == 0) returns (0.0, mean) — the exponential-tail limit."""
    import numpy as np

    e = np.asarray(excesses, dtype="float64")
    m = float(np.mean(e))
    v = float(np.var(e))
    if v <= 0.0 or m <= 0.0:
        return 0.0, max(m, 1e-12)
    r = m * m / v
    gamma = 0.5 * (1.0 - r)
    sigma = 0.5 * m * (1.0 + r)
    return gamma, sigma


def pot_numpy(y, init_quantile=0.98, q=1e-4, min_excesses=10):
    """POT threshold for a 1-D array. Returns (t, z_q, gamma, sigma,
    n_excess) — ``z_q`` is the calibrated alert level; falls back to
    ``z_q = max(y)`` (never alerts in-sample) when there are fewer
    than ``min_excesses`` points above the initial threshold."""
    import math

    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    if n < 4:
        t = float(np.max(y)) if n else 0.0
        return t, t, 0.0, 0.0, 0
    t = float(np.quantile(y, init_quantile))
    exc = y[y > t] - t
    nt = int(len(exc))
    if nt < int(min_excesses):
        zq = float(np.max(y))
        return t, zq, 0.0, 0.0, nt
    gamma, sigma = gpd_fit_numpy(exc)
    ratio = q * n / nt
    if abs(gamma) < 1e-12:
        zq = t - sigma * math.log(ratio)
    else:
        zq = t + (sigma / gamma) * (ratio ** (-gamma) - 1.0)
    return t, float(zq), float(gamma), float(sigma), nt


def pot_columns(y, init_quantile, q, min_excesses):
    """:func:`pot_threshold`'s columns for one sorted series ``y``."""
    import numpy as np

    t, zq, gamma, sigma, _ = pot_numpy(
        y, init_quantile=init_quantile, q=q, min_excesses=min_excesses
    )
    n = len(y)
    return {
        "pot_t": np.full(n, t), "pot_z": np.full(n, zq),
        "pot_gamma": np.full(n, gamma), "pot_sigma": np.full(n, sigma),
        "pot_flag": y > zq,
    }


def pot_threshold(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    init_quantile: float = 0.98,
    q: float = 1e-4,
    min_excesses: int = 10,
) -> DataFrame:
    """Per-series POT alert threshold + flags.

    Output: series keys + ts + value + ``pot_t`` (the empirical tail
    threshold), ``pot_z`` (the calibrated alert level), ``pot_gamma`` /
    ``pot_sigma`` (the fitted GPD), ``pot_flag`` (value > pot_z).
    Upper tail only — run on ``-value`` for the lower tail.

    ``q`` is the target exceedance probability: the fraction of
    observations expected above ``pot_z`` if the tail model holds —
    the calibrated-false-alarm-rate contract that 3σ cannot give on
    heavy tails.
    """
    if not 0.5 < init_quantile < 1.0:
        raise ValueError(
            f"pot_threshold: init_quantile must be in (0.5, 1), got {init_quantile}"
        )
    if not 0.0 < q < 1.0:
        raise ValueError(f"pot_threshold: q must be in (0,1), got {q}")
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(pot_columns, init_quantile=init_quantile, q=q,
                min_excesses=min_excesses),
        "pot_t double, pot_z double, pot_gamma double, pot_sigma double, "
        "pot_flag boolean",
        name="pot_threshold",
    )
