"""Bivariate Mahalanobis-distance anomaly flags, integer-exact and
fully Catalyst-side.

Mahalanobis distance (Mahalanobis 1936) is the standard multivariate
"how far from the cloud" score: the squared distance of a point from
the sample mean in the metric of the inverse covariance matrix; under
normality it is chi-square distributed with d degrees of freedom, so a
chi-square quantile makes a calibrated flag. This operator is the d=2
closed-form case — covariance inversion is literal arithmetic, so the
WHOLE detector (fit + score) is one aggregate and one broadcast join,
no Python, no MLlib, and it is exactly SQL-expressible (the property
that puts it in the driver's oracle window, unlike the float-tier
multivariate detectors `pca_anomaly` / `isolation_forest_score`).

Cross-engine determinism (the repo's integer-unit convention, as in
``page_hinkley`` / ``trend_ols_flags``): inputs are snapped to
``10^-digits`` units as BIGINT; the sufficient statistics
``(n, Σx, Σy, Σx², Σy², Σxy)`` and the scatter numerators
``A = nΣx²-(Σx)², B = nΣy²-(Σy)², C = nΣxy-ΣxΣy`` are exact integers,
combine-order-proof; every double in the score is derived from those
integers by the SAME IEEE expression text on any engine, so the score
hashes bit-identically. The squared distance is scale-invariant
(units cancel between the quadratic form and the determinant), so no
de-scaling is needed at output.

Overflow contract (documented, same class as `trend_ols_flags`):
``n * Σx²`` must fit int64 — with x snapped to ``1/scale`` units,
that bounds ``n * (scale * max|x|)² * n``; e.g. 1e6 rows of values up
to 1e4 at 2 digits. Beyond that, reduce ``digits`` or use the float
multivariate tiers.

Degenerate guards: fewer than 3 complete rows, or a singular /
near-singular scatter (``det <= 0`` — collinear columns), yield NULL
scores (never a divide-by-zero or a fake 0).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["mahalanobis_flags", "CHI2_2DF_999"]

# chi-square(2 dof) 0.999 quantile = -2 ln(0.001); snapped to the 1e-4
# grid the threshold literal is expressed on (see _thr_text)
CHI2_2DF_999 = 13.8155

_PRIV = ("__xi", "__yi", "__n", "__sx", "__sy", "__sxx", "__syy", "__sxy",
         "__A", "__B", "__C")


def _score_text() -> tuple[str, str]:
    """The shared SQL fragments (dx/dy/det/m2) — the SAME text must be
    used in any oracle so both engines build the identical IEEE
    expression tree over the identical exact integers."""
    dx = "(cast(__xi as double) - cast(__sx as double) / cast(__n as double))"
    dy = "(cast(__yi as double) - cast(__sy as double) / cast(__n as double))"
    det = ("(cast(__A as double) * cast(__B as double) - "
           "cast(__C as double) * cast(__C as double))")
    m2 = (
        "cast(__n as double) * cast(__n as double) * "
        f"(cast(__B as double) * {dx} * {dx} - "
        f"cast(2 as double) * cast(__C as double) * {dx} * {dy} + "
        f"cast(__A as double) * {dy} * {dy}) / {det}"
    )
    return det, m2


def mahalanobis_flags(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keys: Sequence[str] = (),
    x_digits: int = 2,
    y_digits: int = 2,
    threshold: float = CHI2_2DF_999,
    score_col: str = "mah_score",
    flag_col: str = "mah_flag",
) -> DataFrame:
    """Append ``score_col`` (squared Mahalanobis distance of
    ``(x_col, y_col)`` from the per-``keys`` cloud; global cloud when
    ``keys`` is empty) and ``flag_col`` (score > ``threshold``, the
    chi-square(2) 0.999 quantile by default). Rows with a null input
    get null score/flag; the fit uses complete rows only.

    The threshold is snapped to a 1e-4 grid and expressed as an
    integer ratio in the comparison, keeping the flag cross-engine
    deterministic.
    """
    keys = list(keys)
    xs, ys = 10 ** int(x_digits), 10 ** int(y_digits)
    d = df.withColumns(
        {
            "__xi": F.expr(f"cast(round(`{x_col}` * {xs}) as bigint)"),
            "__yi": F.expr(f"cast(round(`{y_col}` * {ys}) as bigint)"),
        }
    )
    complete = d.where("__xi IS NOT NULL AND __yi IS NOT NULL")
    aggs = [
        F.expr("count(*)").alias("__n"),
        F.expr("sum(__xi)").alias("__sx"),
        F.expr("sum(__yi)").alias("__sy"),
        F.expr("sum(__xi * __xi)").alias("__sxx"),
        F.expr("sum(__yi * __yi)").alias("__syy"),
        F.expr("sum(__xi * __yi)").alias("__sxy"),
    ]
    gb = complete.groupBy(*keys) if keys else complete.groupBy()
    stats = gb.agg(*aggs).withColumns(
        {
            "__A": F.expr("__n * __sxx - __sx * __sx"),
            "__B": F.expr("__n * __syy - __sy * __sy"),
            "__C": F.expr("__n * __sxy - __sx * __sy"),
        }
    )
    joined = (
        d.join(F.broadcast(stats), keys, "left") if keys
        else d.crossJoin(F.broadcast(stats))
    )
    det, m2 = _score_text()
    score = (
        "CASE WHEN __xi IS NOT NULL AND __yi IS NOT NULL AND __n >= 3 "
        f"AND {det} > cast(0 as double) THEN {m2} END"
    )
    thr_num = int(round(float(threshold) * 10000))
    flag = (
        f"CASE WHEN `{score_col}` IS NULL THEN NULL ELSE "
        f"`{score_col}` > cast({thr_num} as double) / cast(10000 as double) END"
    )
    out = joined.withColumn(score_col, F.expr(score)).withColumn(flag_col, F.expr(flag))
    return out.drop(*_PRIV)
