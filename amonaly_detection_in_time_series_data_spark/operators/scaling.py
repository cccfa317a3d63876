"""F4 — min-max scaling (SURVEY.md §2.6).

Reference: sklearn ``MinMaxScaler().fit_transform`` over all numeric
columns (src/preprocessing.py:264-294). Two-pass by nature (global min/max
then transform). Two implementations:

- :func:`minmax_scale` — pure-SQL: one aggregate job for min/max (map-side
  partials), broadcast 1-row stats, then a single projection. Oracle-
  checkable; sklearn convention reproduced: a constant column maps to 0.0.
- :func:`minmax_scale_ml` — MLlib ``MinMaxScaler`` producing a persistable
  model (the reference pickles its scaler, main.py:177-179; S4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import col_ref, ident, unit_snap


def minmax_scale(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Scale ``cols`` to [0, 1]; constant columns -> 0.0 (sklearn)."""
    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    scaled = {}
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        rng = hi - lo
        scaled[c] = F.when(rng == 0, F.lit(0.0)).otherwise((F.col(c) - lo) / rng)
    out = out.withColumns(scaled)
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def minmax_scale_ml(df: DataFrame, cols: Sequence[str], output_col: str = "features_scaled"):
    """MLlib variant: returns (transformed_df, fitted PipelineModel).

    The model persists via ``model.write().save(path)`` — the engine's
    equivalent of the reference's joblib scaler dump (S4).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler

    assembler = VectorAssembler(
        inputCols=list(cols), outputCol="__features", handleInvalid="keep"
    )
    scaler = MinMaxScaler(inputCol="__features", outputCol=output_col)
    model = Pipeline(stages=[assembler, scaler]).fit(df)
    return model.transform(df).drop("__features"), model


def standard_scale(
    df: DataFrame, cols: Sequence[str], ddof: int = 1,
    unit_digits: int | None = None,
) -> DataFrame:
    """sklearn ``StandardScaler`` convention: ``(x - mean) / std``;
    a zero-variance column maps to 0.0 (like the minmax constant-column
    rule). ``ddof=1`` matches Spark's ``stddev_samp`` default; pass 0
    for sklearn's population std. Same two-pass shape as
    :func:`minmax_scale`: ONE aggregate job (partial+final), stats
    broadcast as a 1-row frame, then a single projection.

    ``unit_digits``: snap the column to ``10^-d`` units and compute mean
    and std from EXACT integer sums ``(n, Σy, Σy²)`` — unlike min/max,
    these are combine-order-sensitive in float, so the integer form is
    what makes the scaler cross-engine hash-exact (the z-score is
    unit-free, so the snapped result equals the float result up to the
    input grid). BIGINT bound: Σy² caps at ~3e5 rows per 10⁶-unit value;
    fine for any grid-valued metric column, use the float path for
    free-scale data.
    """
    if unit_digits is not None:
        scale = 10**unit_digits
        y = {c: F.expr(unit_snap(col_ref(c), scale)) for c in cols}
        stats = df.agg(
            *[F.count(y[c]).alias(f"__n_{c}") for c in cols],
            *[F.sum(y[c]).alias(f"__s1_{c}") for c in cols],
            *[F.sum(y[c] * y[c]).alias(f"__s2_{c}") for c in cols],
        )
        out = df.crossJoin(F.broadcast(stats))
        for c in cols:
            n = F.col(f"__n_{c}").cast("double")
            s1 = F.col(f"__s1_{c}").cast("double")
            s2 = F.col(f"__s2_{c}").cast("double")
            var = (s2 - s1 * s1 / n) / (n - ddof)
            sd = F.sqrt(var)
            out = out.withColumn(
                c,
                F.when(
                    sd.isNull() | (sd == 0.0),
                    F.when(F.col(c).isNotNull(), F.lit(0.0)),
                ).otherwise((y[c].cast("double") - s1 / n) / sd),
            )
        return out.drop(
            *[f"__n_{c}" for c in cols],
            *[f"__s1_{c}" for c in cols],
            *[f"__s2_{c}" for c in cols],
        )
    sd = F.stddev_samp if ddof == 1 else F.stddev_pop
    stats = df.agg(
        *[F.avg(c).alias(f"__mu_{c}") for c in cols],
        *[sd(c).alias(f"__sd_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        mu, s = F.col(f"__mu_{c}"), F.col(f"__sd_{c}")
        out = out.withColumn(
            c,
            F.when(
                s.isNull() | (s == 0.0),
                F.when(F.col(c).isNotNull(), F.lit(0.0)),
            ).otherwise((F.col(c) - mu) / s),
        )
    return out.drop(
        *[f"__mu_{c}" for c in cols], *[f"__sd_{c}" for c in cols]
    )


def robust_scale(
    df: DataFrame, cols: Sequence[str], unit_digits: int | None = None
) -> DataFrame:
    """sklearn ``RobustScaler`` convention: ``(x - median) / IQR`` —
    the scaler that outliers can't drag (median and quartiles move by
    rank, not value). Zero-IQR columns map to 0.0. One aggregate job
    computes the exact interpolated q1/median/q3 per column (Catalyst
    folds the three percentile references into one buffer per column),
    broadcast back, one projection.

    ``unit_digits``: snap to ``10^-d`` units and keep the quartiles in
    EXACT quarter-unit integers (``round(4·percentile)`` — interpolation
    of integers lands on quarters, the :func:`~.anomaly
    .tukey_robust_flags` convention), making the scaler cross-engine
    hash-exact; the ratio ``(4y − med₄)/(q3₄ − q1₄)`` is unit-free, so
    it equals the float result up to the input grid.
    """
    if unit_digits is not None:
        scale = 10**unit_digits
        y = {c: F.expr(unit_snap(col_ref(c), scale)) for c in cols}
        pcts = {
            c: F.expr(
                f"percentile({unit_snap(ident(c), scale)},"
                " array(0.25, 0.5, 0.75))"
            )
            for c in cols
        }
        stats = df.agg(
            *[
                F.round(4 * pcts[c][i]).cast("bigint").alias(
                    f"__p{p}_{c}"
                )
                for c in cols
                for i, p in ((0, 25), (1, 50), (2, 75))
            ]
        )
        out = df.crossJoin(F.broadcast(stats))
        for c in cols:
            q1_4, med_4, q3_4 = (
                F.col(f"__p25_{c}"),
                F.col(f"__p50_{c}"),
                F.col(f"__p75_{c}"),
            )
            iqr_4 = q3_4 - q1_4
            out = out.withColumn(
                c,
                F.when(
                    iqr_4.isNull() | (iqr_4 == 0),
                    F.when(F.col(c).isNotNull(), F.lit(0.0)),
                ).otherwise((4 * y[c] - med_4) / iqr_4),
            )
        return out.drop(
            *[f"__p{p}_{c}" for c in cols for p in (25, 50, 75)]
        )
    stats = df.agg(
        *[
            F.percentile(F.col(c), F.lit(p)).alias(f"__p{int(p*100)}_{c}")
            for c in cols
            for p in (0.25, 0.5, 0.75)
        ]
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        q1, med, q3 = (
            F.col(f"__p25_{c}"),
            F.col(f"__p50_{c}"),
            F.col(f"__p75_{c}"),
        )
        iqr = q3 - q1
        out = out.withColumn(
            c,
            F.when(
                iqr.isNull() | (iqr == 0.0),
                F.when(F.col(c).isNotNull(), F.lit(0.0)),
            ).otherwise((F.col(c) - med) / iqr),
        )
    return out.drop(
        *[f"__p{p}_{c}" for c in cols for p in (25, 50, 75)]
    )
