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
detectors run fused in ONE pass of the shared per-series stage
(``operators.series.per_series``, the runner every per-series detector
composes through): each detector contributes its column function
(``kalman_columns``, ``esd_columns``, ``sr_columns``) and the suite's
column function calls all three on the same sorted array — the same
scores and flags as the three operators, with a single grid recompute,
Arrow round trip, and join instead of three. Everything stays one
logical plan; nothing materializes until the caller acts.
"""

from __future__ import annotations

import inspect
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.anomaly import ensemble_flags, rolling_zscore
from ..operators.esd import esd_anomalies, esd_columns
from ..operators.kalman import kalman_columns, kalman_level
from ..operators.series import per_series
from ..operators.spectral import spectral_residual, sr_columns
from ..operators.timeseries import resample_grid

__all__ = ["detector_suite"]


#: the model columns the suite keeps of its three detectors, typed
MODEL_COLUMNS = {
    "kf_score": "double", "kf_flag": "boolean", "esd_resid": "double",
    "esd_flag": "boolean", "sr_score": "double", "sr_flag": "boolean",
}


def _defaults(fn) -> dict:
    """A public operator's keyword defaults: the fused kernel runs each
    detector exactly as its operator does when called without overrides."""
    return {
        k: p.default
        for k, p in inspect.signature(fn).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def _model_columns(y, kf: dict, esd: dict, sr: dict) -> dict:
    """The Kalman, S-H-ESD and spectral-residual columns of one sorted
    series ``y``, each detector run with its keyword arguments."""
    out = {
        **kalman_columns(y, **kf), **esd_columns(y, **esd), **sr_columns(y, **sr),
    }
    return {c: out[c] for c in MODEL_COLUMNS}


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
    # run fused in one per-series pass (r15, guide §4): each operator is
    # a column function over the same sorted grid on the same key, so
    # one pass calls all three — bit-equal scores — while cutting three
    # grid recomputes + Arrow round trips + joins down to one each.
    kf, esd, sr = (
        _defaults(kalman_level), _defaults(esd_anomalies),
        _defaults(spectral_residual),
    )
    models = per_series(
        filled, keys, gts, value_col,
        partial(
            _model_columns,
            kf={**kf, "snr": kalman_snr},
            esd={**esd, "season_rows": season_rows},
            sr=sr,
        ),
        ", ".join(f"{c} {t}" for c, t in MODEL_COLUMNS.items()),
        name="detector_suite",
        carry=(gts,),
    )
    on = keys + [gts]
    joined = zs.join(models, on)
    return ensemble_flags(
        joined, ["z_flag", "kf_flag", "esd_flag", "sr_flag"], k=k
    )
