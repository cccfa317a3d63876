"""The batch per-series Python stage, written once.

Every sequential detector here (Kalman, S-H-ESD, spectral residual,
STL, POT, ADWIN, theta, Croston, the matrix profile, the fused
detector-suite and forecast-selector kernels) is the same Arrow stage
around a different numpy kernel: group by the series key, sort the
group by time, hand the float64 values to the kernel, put the key (and
the timestamp / value) back in front of its columns. :func:`per_series`
is that stage; an operator supplies only its column function
``y -> {column: array}`` and the DDL of those columns. It is the batch
counterpart of ``streaming.rolling._keyed_fold``, which runs the
stateful streaming twins.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame

from ..functions.sqltext import ddl

__all__ = ["per_series"]


def per_series(
    df: DataFrame,
    series_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    fn: Callable[..., Mapping],
    columns: str,
    *,
    name: str,
    carry: Sequence[str] | None = None,
    distinct_ts: bool = False,
) -> DataFrame:
    """Run ``fn`` over every series of ``df`` in ``ts_col`` order.

    ``fn`` maps a series' values, a float64 array ``y``, to
    ``{column: array}``, every array of one length ``n``: ``len(y)``
    for a per-row detector, fewer for a profile or a one-row final. A
    series yields its first ``n`` sorted rows of ``series_cols`` +
    ``carry`` (default ``(ts_col, value_col)``), then ``fn``'s columns,
    typed by the DDL ``columns``. A null value raises ``"{name}: null
    values in series"``; with ``distinct_ts`` a repeated timestamp
    raises first.
    """
    keys = list(series_cols)
    front = keys + list((ts_col, value_col) if carry is None else carry)
    schema = f"{ddl(df.schema, front)}, {columns}"

    def run(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        if distinct_ts and pdf[ts_col].duplicated().any():
            raise ValueError(f"{name}: duplicate timestamps in a series")
        y = pdf[value_col].to_numpy(dtype="float64")
        if np.isnan(y).any():
            raise ValueError(f"{name}: null values in series (fill first)")
        out = fn(y)
        n = len(next(iter(out.values())))
        return pd.DataFrame({**{c: pdf[c].to_numpy()[:n] for c in front}, **out})

    return (
        df.select(*keys, ts_col, value_col)
        .groupBy(*keys)
        .applyInPandas(run, schema)
    )
