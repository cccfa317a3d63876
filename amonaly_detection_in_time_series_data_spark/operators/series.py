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

:func:`per_template` is the template-match stage on top of it
(``dtw_match``, ``mp_shape_search``): a bounded library of named
template series, one distance row per (series, template), and the
series' closest template marked ``is_best``.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import ddl

__all__ = ["per_series", "per_template"]


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
    for a per-row detector, fewer for a profile or a one-row final, any
    number for a template stage. A series yields ``n`` rows: its key
    ``series_cols`` repeated, the first ``n`` sorted rows of ``carry``
    (default ``(ts_col, value_col)``), then ``fn``'s columns, typed by
    the DDL ``columns``. A null value raises ``"{name}: null
    values in series"``; with ``distinct_ts`` a repeated timestamp
    raises first.
    """
    keys = list(series_cols)
    carry = list((ts_col, value_col) if carry is None else carry)
    schema = f"{ddl(df.schema, keys + carry)}, {columns}"

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
        head = {k: np.repeat(pdf[k].to_numpy()[:1], n) for k in keys}
        head.update({c: pdf[c].to_numpy()[:n] for c in carry})
        return pd.DataFrame({**head, **out})

    return (
        df.select(*keys, ts_col, value_col)
        .groupBy(*keys)
        .applyInPandas(run, schema)
    )


def per_template(
    df: DataFrame,
    series_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    refs: DataFrame,
    ref_key: str,
    ref_ts_col: str | None,
    ref_value_col: str | None,
    fn: Callable[..., Mapping],
    columns: str,
    *,
    name: str,
    max_refs: int,
    refusal: str,
    best_by: str,
) -> DataFrame:
    """Match every series of ``df`` against the templates in ``refs``.

    ``refs`` holds template series keyed by ``ref_key`` (its ts / value
    columns default to ``ts_col`` / ``value_col``). It is collected
    once on the driver; an empty library raises ``"{name}: refs is
    empty"``, more than ``max_refs`` templates raises ``refusal``
    (formatted with ``count`` and ``max_refs``). ``fn(y, template)``
    maps the time-ordered float64 values of a series and of one
    template to ``{column: scalar}``, typed by the DDL ``columns``. A
    series yields one row per template, in name order: its key,
    ``ref`` (the template name), ``fn``'s columns and ``is_best``, true
    on the template with the smallest ``best_by`` (nulls last, ties to
    the lower ``ref``).
    """
    rts = ref_ts_col or ts_col
    rval = ref_value_col or value_col
    ref_pdf = refs.select(ref_key, rts, rval).toPandas()
    names = sorted(ref_pdf[ref_key].unique().tolist())
    if not names:
        raise ValueError(f"{name}: refs is empty")
    if len(names) > int(max_refs):
        raise ValueError(f"{name}: " + refusal.format(count=len(names), max_refs=max_refs))
    library = {
        str(t): ref_pdf[ref_pdf[ref_key] == t].sort_values(rts)[rval].to_numpy(dtype="float64")
        for t in names
    }

    def match(y):
        rows = [fn(y, template) for template in library.values()]
        return {"ref": list(library), **{c: [r[c] for r in rows] for c in rows[0]}}

    out = per_series(
        df, series_cols, ts_col, value_col, match, f"ref string, {columns}",
        name=name, carry=(),
    )
    w = Window.partitionBy(*series_cols).orderBy(
        F.col(best_by).asc_nulls_last(), F.col("ref").asc()
    )
    return out.withColumn("is_best", F.row_number().over(w) == 1)
