"""The batch per-series runner and the quoted output DDL of the Arrow
stages.

- ``operators.series.per_series`` sorts each series by time, emits its
  key repeated and the first ``n`` sorted rows of carry ahead of the
  kernel's columns, and names the operator when a value is null or
  (for the matrix profile) a timestamp repeats;
- the template stage ``operators.series.per_template`` emits one row
  per template, also for a series with fewer points than templates;
- a caller-chosen column name with a space builds and runs: a batch
  per-series operator (key, timestamp and value), and the streaming
  twins whose key, value, timestamp or flag column the caller names
  (built on a file stream that is never started).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.dtw import dtw_match
from amonaly_detection_in_time_series_data_spark.operators.kalman import (
    kalman_level,
    kalman_numpy,
)
from amonaly_detection_in_time_series_data_spark.operators.matrixprofile import (
    matrix_profile,
    mp_shape_search,
    stomp_numpy,
)
from amonaly_detection_in_time_series_data_spark.streaming.joins import interval_join
from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
    sessionized_stats,
    streaming_episode_assign,
    streaming_kmv,
    streaming_theta,
    streaming_throttle_alerts,
)

T0 = dt.datetime(2024, 1, 1)
SPACED = "`my key` string, g int, `my ts` timestamp, `my value` double"


def _series(spark, lengths, seed=3):
    """Rows of one series per ``(key, length)``, shuffled, with spaced
    key / timestamp / value column names."""
    rng = np.random.default_rng(seed)
    rows = [
        (key, g, T0 + dt.timedelta(hours=i), float(v))
        for g, (key, n) in enumerate(lengths)
        for i, v in enumerate(np.cumsum(rng.normal(0.0, 1.0, n)))
    ]
    order = rng.permutation(len(rows))
    return spark.createDataFrame([rows[i] for i in order], SPACED), rows


def test_batch_operator_with_spaced_names(spark):
    df, rows = _series(spark, [("a b", 40), ("c d", 25), ("e f", 1)])
    out = kalman_level(df, "my ts", "my value", ["my key", "g"])
    assert out.columns[:4] == ["my key", "g", "my ts", "my value"]
    got = out.toPandas()
    for key in ("a b", "c d", "e f"):
        want_y = [v for k, _, _, v in rows if k == key]
        g = got[got["my key"] == key].reset_index(drop=True)
        # the runner sorted the shuffled rows back into time order
        assert g["my ts"].is_monotonic_increasing
        assert g["my value"].tolist() == want_y
        want = kalman_numpy(want_y, snr=0.01)
        np.testing.assert_array_equal(g["kf_score"].to_numpy(float), want["score"])
        np.testing.assert_array_equal(g["kf_smooth"].to_numpy(float), want["smooth"])


def test_profile_rows_and_named_errors(spark):
    df, rows = _series(spark, [("a b", 30), ("c d", 4)])
    out = matrix_profile(df, "my ts", "my value", ["my key"], window=6).toPandas()
    # n - window + 1 subsequence rows for the long series, none for the
    # series shorter than one window
    assert out["my key"].tolist() == ["a b"] * 25
    y = [v for k, _, _, v in rows if k == "a b"]
    mp, _ = stomp_numpy(np.array(y), 6)
    out = out.sort_values("pos")
    np.testing.assert_array_equal(out["mp"].to_numpy(), mp)
    assert out["my ts"].tolist() == [T0 + dt.timedelta(hours=i) for i in range(25)]

    dup = df.unionByName(df.limit(1))
    with pytest.raises(Exception, match="matrix_profile: duplicate timestamps"):
        matrix_profile(dup, "my ts", "my value", ["my key"], window=6).collect()
    holes = df.withColumn(
        "my value", F.when(F.col("my ts") == T0, None).otherwise(F.col("my value"))
    )
    with pytest.raises(Exception, match="matrix_profile: null values in series"):
        matrix_profile(holes, "my ts", "my value", ["my key"], window=6).collect()


def test_template_stage_with_more_templates_than_points(spark):
    df, _ = _series(spark, [("a b", 3), ("c d", 8)])
    rng = np.random.default_rng(5)
    refs = spark.createDataFrame(
        [
            (f"r{t}", T0 + dt.timedelta(hours=i), float(v))
            for t in range(5)
            for i, v in enumerate(rng.normal(0.0, 1.0, 6))
        ],
        "tname string, `my ts` timestamp, `my value` double",
    )
    keys = ["my key", "g"]
    dtw = dtw_match(df, "my ts", "my value", keys, refs, "tname")
    shape = mp_shape_search(df, "my ts", "my value", keys, refs, "tname", window=3)
    assert dtw.columns == [*keys, "ref", "dtw_dist", "is_best"]
    assert shape.columns == [*keys, "ref", "best_dist", "query_pos", "ref_pos", "is_best"]
    for out in (dtw.toPandas(), shape.toPandas()):
        out = out.sort_values(keys + ["ref"])
        # one row per template, each carrying its series' key intact
        assert out["my key"].tolist() == ["a b"] * 5 + ["c d"] * 5
        assert out["g"].tolist() == [0] * 5 + [1] * 5
        assert out["ref"].tolist() == [f"r{t}" for t in range(5)] * 2
        assert out.groupby("my key")["is_best"].sum().tolist() == [1, 1]
    # the 3-point series holds one window: every template matches at 0
    short = shape.where(F.col("my key") == "a b").toPandas()
    assert short["query_pos"].tolist() == [0] * 5


@pytest.fixture
def file_stream(spark, tmp_path):
    def make(ddl):
        return spark.readStream.schema(ddl).parquet(str(tmp_path))

    return make


def test_twin_with_spaced_key_builds(file_stream):
    events = file_stream("`my key` bigint, ts timestamp, value double")
    out = streaming_kmv(events, "value", key_cols=["my key"])
    assert out.isStreaming
    assert out.columns == ["my key", "kmv", "kmv_size", "kmv_est"]


def test_twin_with_spaced_value_builds(file_stream):
    events = file_stream("user_id bigint, ts timestamp, `my value` double")
    out = streaming_theta(events, value_col="my value")
    assert out.isStreaming
    assert out.columns[:3] == ["user_id", "ts", "my value"]


def test_twin_with_spaced_ts_builds(file_stream):
    events = file_stream("user_id bigint, `my ts` timestamp, value double")
    out = streaming_theta(events, ts_col="my ts")
    assert out.isStreaming
    assert out.columns[:3] == ["user_id", "my ts", "value"]
    assert sessionized_stats(events, ts_col="my ts").isStreaming
    other = file_stream("user_id bigint, `my ts` timestamp, b double")
    joined = interval_join(events, other, "user_id", "my ts", "my ts")
    assert joined.isStreaming
    assert joined.columns == ["user_id", "my ts", "value", "right_my ts", "b"]


def test_twin_with_spaced_flag_builds(file_stream):
    events = file_stream(
        "user_id bigint, event_id bigint, ts timestamp, value double, `my flag` int"
    )
    for twin in (streaming_episode_assign, streaming_throttle_alerts):
        out = twin(events, flag_col="my flag")
        assert out.isStreaming
        assert "my flag" in out.columns
