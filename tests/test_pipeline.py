"""``anomaly_pipeline`` and the SQL-text builders it is made of.

- The pipeline equals the step-by-step composition of the public
  operators (``load_table`` -> ``repartition`` -> ``dedup_keep_positional``
  -> ``ffill`` -> ``fill_zero`` -> ``featurize`` -> ``rolling_zscore``):
  same schema, no row in one and not the other, on the test sf dir and on
  a small frame with planted NULL, NaN and duplicate-timestamp rows.
- ``featurize``'s one layer equals adding the feature groups one by one,
  also where a time feature replaces a column the lags are ordered by,
  and its drop keeps the rows ``na.drop`` keeps.
- ``col_ref`` resolves what ``F.col`` resolves, ``with_columns`` lays out
  columns as ``withColumns`` does, and ``fill_zero_sql`` is the
  expression ``na.fill(0)`` generates.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.functions.sqltext import (
    col_ref,
    with_columns,
)
from amonaly_detection_in_time_series_data_spark.functions.timefeat import add_time_features
from amonaly_detection_in_time_series_data_spark.operators.anomaly import rolling_zscore
from amonaly_detection_in_time_series_data_spark.operators.dedup import (
    dedup_keep_positional,
)
from amonaly_detection_in_time_series_data_spark.operators.features import (
    add_lag_features,
    add_rolling_features,
    featurize,
)
from amonaly_detection_in_time_series_data_spark.operators.missing import (
    ffill,
    fill_zero,
    fill_zero_sql,
)
from amonaly_detection_in_time_series_data_spark.plans.pipeline import anomaly_pipeline
from amonaly_detection_in_time_series_data_spark.sources.readers import load_table


def _composed(spark, sf_dir):
    key, order = ["user_id"], ["ts", "event_id"]
    df = load_table(spark, sf_dir, "events").repartition(*key)
    df = dedup_keep_positional(df, key + ["ts"], arrival_col="event_id")
    df = fill_zero(ffill(df, ["value"], key, order), ["value"])
    df = featurize(
        df, "value", key, order, lags=(1, 2, 3, 24), windows=(3, 6, 12, 24),
        aggs=("mean", "std", "min", "max"), dropna=True,
    )
    return rolling_zscore(df, "value", 24, key, order, 3.0)


def _assert_same(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _planted_events(path):
    """3 series x 40 hourly steps; NULL and NaN values, and duplicate
    timestamps whose later arrival must lose the dedup."""
    rng = np.random.default_rng(5)
    rows = []
    eid = 0
    for uid in range(3):
        for h in range(40):
            ts = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h)
            v = float(rng.normal(10.0, 2.0))
            if h % 7 == 3:
                v = None
            elif h % 11 == 5:
                v = float("nan")
            elif h == 30:
                v = 90.0  # a spike the z-score flags
            rows.append((eid, ts, uid, "e", v, "{}"))
            eid += 1
            if h % 5 == 2:  # duplicate timestamp, later arrival
                rows.append((eid + 10_000, ts, uid, "dup", 500.0, "{}"))
    names = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    cols = dict(zip(names, zip(*rows)))
    cols["ts"] = pa.array(cols["ts"], pa.timestamp("us"))
    cols["value"] = pa.array(cols["value"], pa.float64())  # NaN stays NaN
    pq.write_table(pa.table(cols), path / "events.parquet")


class TestPipelineEqualsComposition:
    def test_sf_dir(self, spark, sf_dir):
        _assert_same(anomaly_pipeline(spark, sf_dir), _composed(spark, sf_dir))

    def test_planted_null_nan_duplicates(self, spark, tmp_path):
        _planted_events(tmp_path)
        got = anomaly_pipeline(spark, str(tmp_path))
        _assert_same(got, _composed(spark, str(tmp_path)))
        # the planted rows shape the output: the NaN at hour 27 is zero
        # filled, the spike is flagged, no duplicate arrival is kept
        out = got.toPandas()
        assert len(out) == 3 * (40 - 24)
        assert not out["event_type"].eq("dup").any()
        assert out["is_anomaly"].sum() >= 3
        assert out["value"].eq(0.0).sum() == 3 and out["value"].notna().all()


@pytest.mark.parametrize("order", [["ts", "i"], ["hour", "i"]])
def test_featurize_equals_group_by_group(spark, order):
    df = spark.range(60).selectExpr(
        "id % 3 AS user_id", "id AS i", "timestamp_seconds(id * 5400) AS ts",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE double(id % 11) END AS value",
        "int(id % 4) AS hour",
    )
    key = ["user_id"]
    want = add_time_features(df, "ts")
    want = add_lag_features(want, "value", [1, 2], key, order)
    want = add_rolling_features(want, "value", [3], ["mean", "std"], key, order)
    got = featurize(df, "value", key, order, lags=(1, 2), windows=(3,), aggs=("mean", "std"))
    _assert_same(got, want.na.drop())


def test_featurize_drop_is_na_drop(spark):
    """``featurize``'s SQL-text drop keeps exactly the rows ``na.drop``
    keeps: NULL in any column, or NaN in a float/double column, drops
    the row; NaN text in a string column does not."""
    df = spark.range(80).selectExpr(
        "id % 2 AS user_id", "id AS i", "timestamp_seconds(id * 3600) AS ts",
        "double(id % 9) AS value",
        "CASE WHEN id % 10 = 4 THEN double('NaN') ELSE id / 3.0D END AS d",
        "CASE WHEN id % 13 = 6 THEN float('NaN') ELSE float(id) END AS f",
        "CASE WHEN id % 17 = 8 THEN NULL WHEN id % 5 = 1 THEN 'NaN' ELSE 'x' END AS s",
        "CASE WHEN id % 19 = 2 THEN NULL ELSE int(id) END AS n",
        "CASE WHEN id % 23 = 7 THEN NULL ELSE cast(id AS decimal(10, 2)) END AS dec",
    )
    key, order = ["user_id"], ["ts", "i"]
    got = featurize(df, "value", key, order, lags=(1,), windows=(2,), aggs=("mean",))
    want = featurize(
        df, "value", key, order, lags=(1,), windows=(2,), aggs=("mean",), dropna=False
    ).na.drop(how="any")
    _assert_same(got, want)
    assert 0 < got.count() < 70


class TestColRef:
    NAMES = ["a", "A", "a.b", "`a.b`", "a b", "`x``y`", "s.x", "`s`.x"]

    def test_resolves_what_f_col_resolves(self, spark):
        df = spark.sql(
            "SELECT 1 AS a, 2 AS `a.b`, 3 AS `a b`, 4 AS `x``y`,"
            " named_struct('x', 5) AS s"
        )
        for name in self.NAMES:
            try:
                want = df.select(F.col(name)).collect()
            except AnalysisException:
                with pytest.raises(AnalysisException):
                    df.selectExpr(col_ref(name)).collect()
                continue
            assert df.selectExpr(col_ref(name)).collect() == want, name

    @pytest.mark.parametrize("name", ["a..b", "a.", ".a", "`a", "`a`b", "a`b`"])
    def test_rejects_what_f_col_rejects(self, spark, name):
        with pytest.raises(Exception):
            spark.range(1).select(F.col(name)).collect()
        with pytest.raises(ValueError):
            col_ref(name)


class TestWithColumns:
    def test_matches_with_columns(self, spark):
        df = spark.sql("SELECT 1 AS a, 2 AS b, 3 AS `c.d`")
        for exprs in (
            {"x": "a + 1"},
            {"B": "a * 10", "x": "b"},
            {"c.d": "0", "a": "b", "y": "1"},
        ):
            got = df.selectExpr(*with_columns(df.columns, exprs))
            want = df.withColumns({k: F.expr(v) for k, v in exprs.items()})
            assert got.schema == want.schema, exprs
            assert got.collect() == want.collect(), exprs


def _analyzed(df) -> str:
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().analyzed().toString())


class TestFillZeroSql:
    def test_is_na_fill_expression(self, spark):
        df = spark.sql(
            "SELECT cast(a as double) AS d, cast(a as float) AS f, a AS i,"
            " cast(a as bigint) AS l, cast(a as decimal(10, 2)) AS m, 's' AS s"
            " FROM VALUES (1), (NULL) AS t(a)"
        ).union(spark.sql("SELECT double('NaN'), float('NaN'), 2, 2L, 2, 't'"))
        fields = {f.name: f.dataType for f in df.schema.fields}
        exprs = {
            c: fill_zero_sql(c, t) for c, t in fields.items()
            if fill_zero_sql(c, t) is not None
        }
        assert set(exprs) == {"d", "f", "i", "l", "m"}
        got = df.selectExpr(*with_columns(df.columns, exprs))
        want = df.na.fill(0)
        assert _analyzed(got).split("\n")[0] == _analyzed(want).split("\n")[0]
        assert got.collect() == want.collect()
