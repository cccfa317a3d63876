"""The batch per-series runner and the quoted output DDL of the Arrow
stages.

- ``operators.series.per_series`` sorts each series by time, emits its
  first ``n`` sorted rows of key + carry ahead of the kernel's columns,
  and names the operator when a value is null or (for the matrix
  profile) a timestamp repeats;
- a caller-chosen column name with a space builds and runs: a batch
  per-series operator (key, timestamp and value), and the streaming
  twins whose key or value column the caller names (built on a file
  stream that is never started).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.kalman import (
    kalman_level,
    kalman_numpy,
)
from amonaly_detection_in_time_series_data_spark.operators.matrixprofile import (
    matrix_profile,
    stomp_numpy,
)
from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
    streaming_kmv,
    streaming_theta,
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
