"""Data-profiling aggregates: exact-integer distribution moments and a
Benford first-digit audit.

- ``moment_features``: per-group mean / std / skewness / excess
  kurtosis from the raw power sums ``(n, Σx, Σx², Σx³, Σx⁴)`` kept as
  EXACT BIGINTs of ``10^-digits``-unit integers, with the central
  moments derived in doubles by shared SQL text — so any engine
  produces bit-identical statistics (the repo's integer-unit
  determinism convention; a plain ``skewness()`` builtin differs
  between engines in both summation order AND definition).
  The distribution-shape row every feature store and data-profiler
  (tsfresh, deequ, great-expectations) computes per column/series.
- ``benford_report``: first-significant-digit distribution against
  Benford's law (Newcomb 1881 / Benford 1938; the standard fraud /
  data-fabrication screen — see Nigrini, "Benford's Law", Wiley 2012).
  The first digit is taken from the DECIMAL STRING of the snapped
  integer — no log10 anywhere near a power-of-ten boundary — and the
  chi-square terms are doubles from exact integer counts and 12-decimal
  probability literals, again engine-identical.

Both are ONE grouped aggregate (map-side partials, one shuffle on the
group key) + a broadcast-sized post-projection — the canonical
profile-at-scale shape.

Overflow contract (same class as ``trend_ols_flags``): ``Σx⁴`` must fit
int64 — with ``digits`` decimal digits kept and ``|x| <= X``,
``n * (X * 10^digits)^4 < 9.2e18``; e.g. 1e6 rows of |x| <= 250 at
digits=1. Lower ``digits`` for wider-range columns.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ident, unit_snap

__all__ = ["moment_features", "benford_report", "pearson_exact", "BENFORD_P"]

# log10(1 + 1/d) rounded to 12 decimals — the rounding makes the
# literal parse to the identical double in any engine
BENFORD_P = {d: round(math.log10(1.0 + 1.0 / d), 12) for d in range(1, 10)}


def _moment_text() -> dict[str, str]:
    """Central-moment SQL over exact BIGINT power sums named
    __n/__s1/__s2/__s3/__s4 (x in snapped integer units). The SAME text
    must be used in any oracle. ``scale`` placeholders: callers divide
    mean/std by 10^digits at output; skew/kurtosis are scale-free."""
    mu = "(cast(__s1 as double) / __n)"
    m2 = f"(cast(__s2 as double) / __n - {mu} * {mu})"
    m3 = (
        f"(cast(__s3 as double) / __n - cast(3 as double) * {mu} * "
        f"(cast(__s2 as double) / __n) + cast(2 as double) * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(cast(__s4 as double) / __n - cast(4 as double) * {mu} * "
        f"(cast(__s3 as double) / __n) + cast(6 as double) * {mu} * {mu} * "
        f"(cast(__s2 as double) / __n) - cast(3 as double) * {mu} * {mu} * {mu} * {mu})"
    )
    return {
        "mu": mu,
        "m2": m2,
        "skew": f"CASE WHEN {m2} > 0 THEN {m3} / ({m2} * sqrt({m2})) END",
        "exkurt": f"CASE WHEN {m2} > 0 THEN {m4} / ({m2} * {m2}) - cast(3 as double) END",
    }


def moment_features(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    digits: int = 1,
) -> DataFrame:
    """Per-``keys`` distribution shape: ``mom_n``, ``mom_mean``,
    ``mom_std`` (population), ``mom_skew``, ``mom_exkurt`` (excess;
    0 for a normal distribution). Nulls excluded; zero-variance groups
    get null skew/kurtosis. Mean/std are in ORIGINAL value units
    (de-scaled); skewness/kurtosis are scale-free by construction."""
    keys = list(keys)
    scale = 10 ** int(digits)
    d = df.selectExpr(
        *[f"`{k}`" for k in keys],
        f"{unit_snap(ident(value_col), scale)} AS __xi",
    ).where("__xi IS NOT NULL")
    gb = d.groupBy(*keys) if keys else d.groupBy()
    stats = gb.agg(
        F.expr("count(*)").alias("__n"),
        F.expr("sum(__xi)").alias("__s1"),
        F.expr("sum(__xi * __xi)").alias("__s2"),
        F.expr("sum(__xi * __xi * __xi)").alias("__s3"),
        F.expr("sum(__xi * __xi * __xi * __xi)").alias("__s4"),
    )
    t = _moment_text()
    return stats.selectExpr(
        *[f"`{k}`" for k in keys],
        "__n AS mom_n",
        f"{t['mu']} / cast({scale} as double) AS mom_mean",
        f"sqrt({t['m2']}) / cast({scale} as double) AS mom_std",
        f"{t['skew']} AS mom_skew",
        f"{t['exkurt']} AS mom_exkurt",
    )


def _benford_text() -> tuple[str, str]:
    """(expected-p CASE over __digit, chi2-term text over
    __nd/__ntot/__p) — shared with any oracle."""
    p_case = (
        "CASE __digit "
        + " ".join(f"WHEN {d} THEN cast({BENFORD_P[d]!r} as double)" for d in range(1, 10))
        + " END"
    )
    chi2 = (
        "(cast(__nd as double) - cast(__ntot as double) * __p) * "
        "(cast(__nd as double) - cast(__ntot as double) * __p) / "
        "(cast(__ntot as double) * __p)"
    )
    return p_case, chi2


def benford_report(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    digits: int = 2,
) -> DataFrame:
    """First-significant-digit audit: one row per (keys, digit 1..9)
    with ``bf_n`` (observed), ``bf_p`` (Benford's expected share),
    ``bf_chi2_term`` ((O-E)^2/E) — ``sum(bf_chi2_term)`` against a
    chi-square(8) quantile is the classic conformity test. Digits that
    never occur still appear with ``bf_n`` = 0 (their E contributes to
    the statistic). Only strictly-positive snapped values participate
    (Benford is undefined at zero; negate upstream for negative
    conventions)."""
    keys = list(keys)
    scale = 10 ** int(digits)
    d = df.selectExpr(
        *[f"`{k}`" for k in keys],
        f"{unit_snap(ident(value_col), scale)} AS __xi",
    ).where("__xi IS NOT NULL AND __xi > 0")
    # first digit of the decimal string of the exact integer — no
    # floating log10 anywhere near a power-of-ten boundary
    d = d.selectExpr(
        *[f"`{k}`" for k in keys],
        "cast(substring(cast(__xi as string), 1, 1) as int) AS __digit",
    )
    spark = df.sparkSession
    digits_df = spark.range(1, 10).selectExpr("cast(id as int) AS __digit")
    counts = d.groupBy(*keys, "__digit").agg(F.expr("count(*)").alias("__nd"))
    if keys:
        key_dom = d.select(*keys).distinct()
        grid = key_dom.crossJoin(F.broadcast(digits_df))
        counts = grid.join(counts, [*keys, "__digit"], "left").na.fill({"__nd": 0})
        totals = counts.groupBy(*keys).agg(F.expr("sum(__nd)").alias("__ntot"))
        full = counts.join(F.broadcast(totals), keys)
    else:
        counts = digits_df.join(counts, ["__digit"], "left").na.fill({"__nd": 0})
        totals = counts.groupBy().agg(F.expr("sum(__nd)").alias("__ntot"))
        full = counts.crossJoin(F.broadcast(totals))
    p_case, chi2 = _benford_text()
    return full.selectExpr(
        *[f"`{k}`" for k in keys],
        "__digit AS digit",
        "cast(__nd as bigint) AS bf_n",
        f"{p_case} AS bf_p",
        "CASE WHEN __ntot > 0 THEN "
        + chi2.replace("__p", f"({p_case})")
        + " END AS bf_chi2_term",
    )


def _pearson_text() -> str:
    """Pearson r over exact BIGINT sums named
    __n/__sx/__sy/__sxy/__sxx/__syy (x, y in snapped integer units) —
    the same shared-SQL-text convention as :func:`_moment_text`: every
    product/difference is exact integer arithmetic and the ONLY float
    steps are the final cast, multiply, sqrt and divide, so an oracle
    using this identical text computes the identical IEEE double.
    Degenerate columns (zero variance) yield NULL, not a 0/0."""
    num = "cast(__n * __sxy - __sx * __sy as double)"
    vx = "(__n * __sxx - __sx * __sx)"
    vy = "(__n * __syy - __sy * __sy)"
    return (
        f"CASE WHEN {vx} > 0 AND {vy} > 0 THEN "
        f"{num} / sqrt(cast({vx} as double) * cast({vy} as double)) END"
    )


def pearson_exact(
    df: DataFrame,
    group_cols: Sequence[str],
    x_units_sql: str,
    y_units_sql: str,
    out_name: str = "pearson_r",
) -> DataFrame:
    """Per-group Pearson correlation from EXACT integer sufficient
    statistics — the data-profiling dependency screen (which feature
    pairs carry redundant signal) done the repo's way: the caller
    snaps each column to an integer grid via SQL text (e.g.
    ``cast(round(value * 100) as bigint)``), the six sums
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in BIGINT — combine-order-
    proof, so the grouped aggregate is deterministic under ANY
    partitioning — and :func:`_pearson_text` turns them into r with
    one float tail. Rows with a NULL on either side are excluded
    pairwise (the standard correlation contract).

    Overflow contract (caller's): ``n * max(units)^2 < 2^63`` — at a
    0.01 grid that is ~30B rows of values up to ~55k per group, far
    beyond any per-group profile; snap coarser for wider domains.

    One shuffle (the groupBy), map-side combined; output one row per
    group with ``out_name``.
    """
    sums = (
        df.selectExpr(
            *group_cols,
            f"({x_units_sql}) AS __x",
            f"({y_units_sql}) AS __y",
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__x").alias("__sx"),
            F.sum("__y").alias("__sy"),
            F.sum(F.expr("__x * __y")).alias("__sxy"),
            F.sum(F.expr("__x * __x")).alias("__sxx"),
            F.sum(F.expr("__y * __y")).alias("__syy"),
        )
    )
    return sums.selectExpr(
        *group_cols, f"{_pearson_text()} AS {out_name}"
    )
