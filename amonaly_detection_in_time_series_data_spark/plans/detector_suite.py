"""Composed detector suite: the full r6-r8 anomaly arsenal over one
regular grid, fused by an ensemble vote.

The deployment shape a monitoring pipeline actually runs (beyond the
reference's single-detector ``run_pipeline``, main.py:58-233):

  1. resample to a regular per-series grid + fill     (grid contract
     every sequential detector requires)
  2. the Catalyst battery on the RAW events           (z/PH/EWMA/IQR/
     robust/OLS — one shared exchange, no Python)
  3. the model-based per-series detectors on the grid (Kalman
     standardized innovations; seasonal-hybrid ESD; spectral residual)
  4. one ensemble vote over every flag                (k-of-n fusion,
     ensemble_flags)

Execution shape: stages 2 and 3 are independent lineages over the same
key — the battery stays entirely JVM-side; the three model-based grid
detectors run fused as ONE ``applyInPandas`` per series group (r15):
the individual operator wrappers all sort the same grid by ts and call
a numpy kernel, so one fused kernel calls the same three kernels on the
same sorted array (bit-equal scores) with a single grid recompute,
Arrow round trip, and join instead of three. Everything stays one
logical plan; nothing materializes until the caller acts.
"""

from __future__ import annotations

import inspect
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.anomaly import ensemble_flags, rolling_zscore
from ..operators.esd import esd_anomalies, gesd_numpy, seasonal_resid
from ..operators.kalman import kalman_level, kalman_numpy
from ..operators.spectral import spectral_residual, sr_numpy
from ..operators.timeseries import resample_grid

__all__ = ["detector_suite"]


def _defaults(fn) -> dict:
    """A public operator's keyword defaults: the fused kernel runs each
    detector exactly as its operator does when called without overrides."""
    return {
        k: p.default
        for k, p in inspect.signature(fn).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def detector_suite(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    grid_step: str = "1 hour",
    zscore_window: int = 24,
    season_rows: int = 24,
    k: int = 2,
    kalman_snr: float = 0.05,
) -> DataFrame:
    """Grid rows with every detector's score + flag and the fused
    ``votes`` / ``ensemble_alarm`` columns.

    Flags fused (k-of-``n`` with NULL = abstain): rolling 3-sigma
    (``is_anomaly``), Kalman innovation (``kf_flag``), seasonal-hybrid
    ESD (``esd_flag``), spectral residual (``sr_flag``).
    """
    keys = list(series_cols)
    # resample_grid forward-fills empty buckets itself and emits the
    # grid timestamp as `bucket_ts`; the na.drop only trims a series'
    # pre-first-observation edge
    grid = resample_grid(df, keys, ts_col, [value_col], step=grid_step)
    gts = "bucket_ts"
    filled = grid.na.drop(subset=[value_col])

    z = rolling_zscore(filled, value_col, zscore_window, keys, [gts])
    zs = z.select(
        *keys, gts, value_col,
        F.col(f"{value_col}_zscore").alias("zscore"),
        F.col("is_anomaly").cast("boolean").alias("z_flag"),
    )
    # The three model detectors (Kalman / S-H-ESD / spectral residual)
    # run as ONE applyInPandas per series group (r15, guide §4): each
    # wrapper operator was the same sort-by-ts → numpy-kernel shape on
    # the same key, so fusing them calls the identical kernels on the
    # identical sorted array — bit-equal scores — while cutting three
    # grid recomputes + Arrow round trips + joins down to one each.
    snr = kalman_snr
    m = int(season_rows) if season_rows else 0
    kf, esd, sr = (
        _defaults(kalman_level), _defaults(esd_anomalies),
        _defaults(spectral_residual),
    )
    model_schema = (
        ", ".join(
            f"`{c}` {filled.schema[c].dataType.simpleString()}" for c in keys
        )
        + f", `{gts}` {filled.schema[gts].dataType.simpleString()}"
        + ", kf_score double, kf_flag boolean"
        + ", esd_resid double, esd_flag boolean"
        + ", sr_score double, sr_flag boolean"
    )

    def model_detectors(pdf):
        import math

        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(gts).reset_index(drop=True)
        y = pdf[value_col].to_numpy(dtype="float64")
        if np.isnan(y).any():
            raise ValueError("detector_suite: null values in series (fill first)")
        n = len(y)
        r = kalman_numpy(y, snr=snr)
        kf_score = r["score"]
        kf_flag = pd.array(
            np.where(
                np.isnan(kf_score), None, np.abs(kf_score) > kf["threshold"]
            ),
            dtype="boolean",
        )
        resid = seasonal_resid(y, m)
        esd_flags, _rank = gesd_numpy(
            resid, max_outliers=int(math.floor(esd["max_anoms"] * n)),
            alpha=esd["alpha"], hybrid=esd["hybrid"],
        )
        _sal, sr_score = sr_numpy(
            y, q=sr["q"], score_window=sr["score_window"],
            extend=sr["extend"],
        )
        return pd.DataFrame(
            {
                **{c: pdf[c].to_numpy() for c in keys},
                gts: pdf[gts].to_numpy(),
                "kf_score": kf_score,
                "kf_flag": kf_flag,
                "esd_resid": resid,
                "esd_flag": esd_flags,
                "sr_score": sr_score,
                "sr_flag": sr_score > sr["threshold"],
            }
        )

    models = (
        filled.select(*keys, gts, value_col)
        .groupBy(*keys)
        .applyInPandas(model_detectors, model_schema)
    )
    on = keys + [gts]
    joined = zs.join(models, on)
    return ensemble_flags(
        joined, ["z_flag", "kf_flag", "esd_flag", "sr_flag"], k=k
    )
