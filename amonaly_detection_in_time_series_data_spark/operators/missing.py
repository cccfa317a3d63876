"""Missing-value operators M1-M8 (SURVEY.md §2.5).

Reference: ``handle_missing_values`` (src/preprocessing.py:125-173)
dispatches a per-column strategy; the residual whole-frame ``fillna(0)``
(:170-171) and the post-feature ``dropna`` (main.py:149-153) complete the
surface.

Scale notes: ffill/bfill are window functions over the series key — they
share the engine-wide ``(series, ts)`` exchange with lag/rolling features
(one shuffle for the whole feature stage). Global mean/median fills avoid
an all-rows-to-one-partition window (``over ()`` would serialize 100 TB
through a single task): the scalar is computed with a normal aggregate
(map-side partials) and attached with a broadcast cross-join of the 1-row
stats frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import RUNNING, col_ref, over, sql_type, with_columns


def _series_window(key_cols: Sequence[str], order_cols: Sequence[str]) -> Window:
    return Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])


def ffill_sql(
    cols: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> dict[str, str]:
    """M1 as SQL text: each column's last non-null value over the series'
    unbounded-preceding row frame, by column name."""
    w = over(key_cols, order_cols, RUNNING)
    return {c: f"last({col_ref(c)}, true) {w}" for c in cols}


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """M1: per-series forward fill in time order.

    Reference: src/preprocessing.py:145-146 (``df[col].ffill()``).
    ``last(ignorenulls)`` over an unbounded-preceding row frame.
    """
    return df.selectExpr(*with_columns(df.columns, ffill_sql(cols, key_cols, order_cols)))


def bfill(
    df: DataFrame,
    cols: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """M2: per-series backward fill (src/preprocessing.py:147-148)."""
    w = _series_window(key_cols, order_cols).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return df.withColumns(
        {c: F.first(F.col(c), ignorenulls=True).over(w) for c in cols}
    )


def fill_with_global(
    df: DataFrame,
    cols: Sequence[str],
    strategy: str = "mean",
) -> DataFrame:
    """M3/M4: fill nulls with the column's global mean or exact median.

    Reference: src/preprocessing.py:149-156. pandas ``median()`` is the
    exact interpolated median -> Spark ``median`` (exact, Spark>=3.4);
    swap in ``percentile_approx`` at extreme scale if approximation is
    acceptable.

    Implementation: one aggregate job producing a single stats row, then a
    broadcast cross-join + coalesce — never a global window.
    """
    agg = {"mean": F.avg, "median": F.median}[strategy]
    stats = df.agg(*[agg(F.col(c)).alias(f"__stat_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(stats))
    out = out.withColumns(
        {c: F.coalesce(F.col(c), F.col(f"__stat_{c}")) for c in cols}
    )
    return out.drop(*[f"__stat_{c}" for c in cols])


def fill_with_strategies(
    df: DataFrame,
    strategies: dict[str, str],
) -> DataFrame:
    """Per-column mean/median fills with ONE stats aggregate.

    Same semantics as calling :func:`fill_with_global` once per column,
    but all scalar statistics come from a single aggregate job and ride
    one broadcast — at scale, n strategy columns would otherwise cost n
    full-input aggregate jobs (reference dispatches per-column too:
    src/preprocessing.py:125-173, but on one in-memory frame where the
    repeated passes are cheap).
    """
    aggs = {"mean": F.avg, "median": F.median}
    stats = df.agg(
        *[aggs[s](F.col(c)).alias(f"__stat_{c}") for c, s in strategies.items()]
    )
    out = df.crossJoin(F.broadcast(stats))
    out = out.withColumns(
        {c: F.coalesce(F.col(c), F.col(f"__stat_{c}")) for c in strategies}
    )
    return out.drop(*[f"__stat_{c}" for c in strategies])


def fill_zero_sql(expr: str, dtype: T.DataType) -> str | None:
    """M5 as SQL text: the expression ``na.fill(0)`` puts in place of a
    ``dtype`` column holding ``expr`` (NaN counts as missing in a float
    column), or None where ``na.fill(0)`` leaves a column of that type
    alone (it fills numeric columns only)."""
    if not isinstance(dtype, T.NumericType):
        return None
    t = sql_type(dtype)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        expr = f"nanvl({expr}, CAST(NULL AS {t}))"
    return f"coalesce({expr}, CAST(0.0D AS {t}))"


def fill_zero(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """M5 + M7: fill nulls with 0 (per-column strategy, and the residual
    whole-frame ``fillna(0)`` after ffill — reference
    src/preprocessing.py:157-159, 170-171).

    Bug-compat note (M7): the reference's residual fill also stuffs the
    literal 0 into *non-numeric* columns. ``na.fill(0)`` only touches
    numeric columns; callers wanting bug-parity pass string columns through
    ``na.fill("0", subset)`` explicitly. :func:`fill_zero_sql` writes the
    expression ``na.fill`` generates, for callers that fold the fill into
    a layer of their own.
    """
    return df.na.fill(0, subset=list(cols) if cols else None)


def fill_interpolate(
    df: DataFrame,
    cols: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    ts_col: str | None = None,
) -> DataFrame:
    """M9 (extension): per-series linear interpolation of INTERIOR
    nulls — the missing member of the fill family (pandas
    ``interpolate``; the reference stops at ffill/bfill/scalar fills).

    ``ts_col=None`` interpolates on row position (pandas
    ``method='linear'``); passing the timestamp column weights by time
    (pandas ``method='time'``), the right choice on irregular grids.
    Leading/trailing nulls have only one bound and stay NULL —
    extrapolation is a modeling decision, not a fill (compose with
    :func:`ffill`/:func:`bfill` when wanted). Null runs between two
    equal x positions (duplicate timestamps) also stay NULL rather
    than divide by zero.

    Scale: two frames over the SAME ``(key, order)`` window the whole
    feature stage already shuffles on — no extra exchange, no
    self-join; the four bound lookups are ``last/first IGNORE NULLS``
    over running frames, streamable by the window operator.
    """
    wp = _series_window(key_cols, order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = _series_window(key_cols, order_cols).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    if ts_col is not None:
        from pyspark.sql.types import TimestampType

        dtype = df.schema[ts_col].dataType
        if isinstance(dtype, TimestampType):
            x = F.unix_micros(F.col(ts_col))
        else:  # numeric regressor (epoch seconds, sensor tick, ...)
            x = F.col(ts_col).cast("double")
    else:
        x = F.row_number().over(_series_window(key_cols, order_cols))
    out = df.withColumn("__x", x)
    updates = {}
    for c in cols:
        v = F.col(c)
        prev_v = F.last(v, ignorenulls=True).over(wp)
        prev_x = F.last(
            F.when(v.isNotNull(), F.col("__x")), ignorenulls=True
        ).over(wp)
        next_v = F.first(v, ignorenulls=True).over(wn)
        next_x = F.first(
            F.when(v.isNotNull(), F.col("__x")), ignorenulls=True
        ).over(wn)
        interp = prev_v + (next_v - prev_v) * (F.col("__x") - prev_x) / (
            F.nullif(next_x - prev_x, F.lit(0))
        )
        updates[c] = F.when(v.isNotNull(), v).otherwise(interp)
    return out.withColumns(updates).drop("__x")
