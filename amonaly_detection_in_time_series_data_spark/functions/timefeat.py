"""F1 — calendar/time features (SURVEY.md §2.6).

Reference: src/preprocessing.py:175-196 derives 9 integer columns from the
DatetimeIndex. Two pandas-vs-Spark conventions need explicit bridging:

- pandas ``dayofweek`` is Monday=0..Sunday=6; Spark ``dayofweek`` is
  Sunday=1..Saturday=7 — bridged with ``(dayofweek(ts)+5) % 7``.
- pandas ``isocalendar().week`` is the ISO week; Spark ``weekofyear`` is
  also ISO — direct match.

All nine features are plain Catalyst expressions, written once as SQL
text (:func:`time_feature_sql`) and added in ONE projection (the
reference's per-column assignments collapse into a single select).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sqltext import col_ref, with_columns

TIME_FEATURES = (
    "hour",
    "dayofweek",
    "dayofmonth",
    "dayofyear",
    "month",
    "year",
    "quarter",
    "weekofyear",
    "is_weekend",
)


def time_feature_sql(ts: str) -> dict[str, str]:
    """The 9 features of column ``ts`` as SQL text, by output name."""
    t = col_ref(ts)
    pandas_dow = f"(dayofweek({t}) + 5) % 7"  # Monday=0..Sunday=6
    feats = {
        name: f"cast({name}({t}) as int)"
        for name in ("hour", "dayofmonth", "dayofyear", "month", "year",
                     "quarter", "weekofyear")
    }
    feats["dayofweek"] = f"cast({pandas_dow} as int)"
    # reference: (dayofweek >= 5).astype(int) — Sat/Sun
    feats["is_weekend"] = f"cast({pandas_dow} >= 5 as int)"
    return {name: feats[name] for name in TIME_FEATURES}


def time_feature_exprs(ts: str) -> dict[str, Column]:
    """:func:`time_feature_sql` as Columns, for a caller's own select."""
    return {k: F.expr(v) for k, v in time_feature_sql(ts).items()}


def add_time_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Append the 9 reference time features derived from ``ts_col``."""
    return df.selectExpr(*with_columns(df.columns, time_feature_sql(ts_col)))
