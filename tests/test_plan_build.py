"""Plan construction is free of Spark jobs and of needless shuffles.

- ``anomaly_pipeline`` runs on ONE hash exchange and ONE sort: the series
  exchange sits under the dedup, whose row-number window it satisfies.
- Building ``anomaly_pipeline`` makes at most 125 py4j round trips.
- Building ``anomaly_pipeline``, ``load_table`` or the inline
  ``prefix_jaccard_join`` starts no job: ``load_table`` takes a single
  parquet file's schema from its footer, and that schema is exactly what
  Spark's inference job would have returned.
- A driver-side parameter check fires before any job runs.
- The fixed-cooldown throttle's interval is evaluated inside the plan.
- ``triangle_counts`` pins its shared edge frames lazily (``persist``).
- The session's debugging default drops only the Python call site from
  errors: they still raise with the same class.
"""

from __future__ import annotations

import os
import re
import uuid
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.similarity import (
    prefix_jaccard_join,
)
from amonaly_detection_in_time_series_data_spark.plans.pipeline import anomaly_pipeline
from amonaly_detection_in_time_series_data_spark.sources.readers import (
    TESTDATA_TABLES,
    _parquet_footer,
    load_table,
)


@contextmanager
def jobs_started(spark):
    """Collects the ids of the jobs started inside the block."""
    sc = spark.sparkContext
    group = f"plan-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan build")
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestAnomalyPipelinePlan:
    def test_one_exchange_one_sort(self, spark, sf_dir):
        plan = _plan(anomaly_pipeline(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert len(re.findall(r"\bSort \[", plan)) == 1, plan

    def test_build_starts_no_job(self, spark, sf_dir):
        with jobs_started(spark) as ids:
            df = anomaly_pipeline(spark, sf_dir)
            _plan(df)
        assert ids == []

    def test_build_round_trip_budget(self, spark, sf_dir):
        """Every expression ships as SQL text, one ``selectExpr`` per layer,
        and the feature stage's drop is one SQL-text ``where``: the build
        makes ~115 py4j round trips (612 when each expression was a
        ``Column``, 155 while the drop was ``na.drop``, which sends the
        column list one name at a time). Deferred deletes of earlier
        objects (``m`` commands, sent whenever py4j flushes them) are not
        counted."""
        anomaly_pipeline(spark, sf_dir)  # warm: first-use class lookups
        client = spark.sparkContext._gateway._gateway_client
        sent: list[str] = []
        send = client.send_command

        def counting(command, *args, **kwargs):
            sent.append(command)
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            anomaly_pipeline(spark, sf_dir)
        finally:
            del client.send_command
        built = [c for c in sent if not c.startswith("m\n")]
        assert len(built) <= 125, len(built)


def test_prefix_jaccard_join_build_starts_no_job(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w")],
        ["doc_id", "text"],
    )
    with jobs_started(spark) as ids:
        _plan(prefix_jaccard_join(docs))
    assert ids == []


class TestLoadTableSchema:
    @pytest.mark.parametrize("name", TESTDATA_TABLES)
    def test_footer_schema_equals_inference(self, spark, sf_dir, name):
        path = os.path.join(sf_dir, f"{name}.parquet")
        _ns, schema = _parquet_footer(spark, path)
        assert schema == spark.read.parquet(path).schema

    @pytest.mark.parametrize("name", TESTDATA_TABLES)
    def test_load_table_starts_no_job(self, spark, sf_dir, name):
        with jobs_started(spark) as ids:
            load_table(spark, sf_dir, name)
        assert ids == []

    def test_nanosecond_file(self, spark, tmp_path):
        ts = pd.date_range("2024-01-01", periods=6, freq="37min") + pd.to_timedelta(
            np.arange(6) * 1001, unit="ns"
        )
        pd.DataFrame({
            "id": np.arange(6), "ts": ts, "tz": ts.tz_localize("UTC"),
            "cat": pd.Categorical(list("abcabc")), "f": np.arange(6, dtype="float32"),
        }).to_parquet(tmp_path / "ns.parquet")
        path = str(tmp_path / "ns.parquet")
        ns, schema = _parquet_footer(spark, path)
        assert ns == {"ts", "tz"}
        assert schema == spark.read.parquet(path).schema
        with jobs_started(spark) as ids:
            df = load_table(spark, str(tmp_path), "ns")
        assert ids == []
        assert df.schema.simpleString() == (
            "struct<id:bigint,ts:timestamp,tz:timestamp,cat:string,f:float>"
        )
        got = [r.ts for r in df.orderBy("id").collect()]
        assert got == [t.floor("us").to_pydatetime() for t in ts]

    @pytest.mark.parametrize("kind", ["int96", "nested_ns"])
    def test_unsettled_footer_keeps_inference(self, spark, tmp_path, kind):
        import pyarrow as pa
        import pyarrow.parquet as pq

        ns = [10**15, 2 * 10**15]
        if kind == "int96":
            table = pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
        else:
            table = pa.table({"id": [1, 2], "ts": pa.array(
                [ns, ns], pa.list_(pa.timestamp("ns"))
            )})
        pq.write_table(
            table, tmp_path / "t.parquet",
            use_deprecated_int96_timestamps=kind == "int96",
        )
        path = str(tmp_path / "t.parquet")
        assert _parquet_footer(spark, path)[1] is None
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema == spark.read.parquet(path).schema
        assert df.count() == 2

    def test_spark_written_directory_keeps_inference(self, spark, tmp_path):
        spark.range(5).selectExpr(
            "id", "cast(id as short) s", "timestamp_micros(id) t",
            "cast(id as decimal(10, 2)) d", "array(id) a", "named_struct('x', id) st",
        ).write.parquet(str(tmp_path / "sp.parquet"))
        path = str(tmp_path / "sp.parquet")
        assert _parquet_footer(spark, path) == (set(), None)
        assert load_table(spark, str(tmp_path), "sp").schema == (
            spark.read.parquet(path).schema
        )


def test_forecast_selector_checks_season_rows_on_driver(spark):
    from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
        forecast_selector,
    )

    df = spark.createDataFrame(
        [(1, i, float(i % 4)) for i in range(16)], "sid int, t int, v double"
    )
    with jobs_started(spark) as ids:
        with pytest.raises(ValueError, match="season_rows"):
            forecast_selector(df, "t", "v", ["sid"], season_rows=0)
        with pytest.raises(ValueError, match="phi"):
            forecast_selector(df, "t", "v", ["sid"], season_rows=4, phi=0.0)
    assert ids == []


def test_fixed_cooldown_throttle_build_starts_no_job(spark):
    from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
        throttle_alerts,
    )

    df = spark.createDataFrame(
        [(1, i, 1) for i in range(4)], "uid int, t int, flag int"
    ).selectExpr("uid", "timestamp_seconds(t * 120) AS ts", "flag")
    with jobs_started(spark) as ids:
        out = throttle_alerts(
            df, ["uid"], "ts", cooldown="3 minutes", flag_col="flag",
            policy="fixed-cooldown",
        )
        _plan(out)
    assert ids == []
    delivered = out.orderBy("ts").select("alert_delivered").collect()
    assert [r[0] for r in delivered] == [1, 0, 1, 0]


def test_triangle_counts_build_starts_no_job(spark):
    from amonaly_detection_in_time_series_data_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.range(2000).selectExpr(
        "id % 500 AS id_a", "(id * 7 + 1) % 500 AS id_b"
    )
    with jobs_started(spark) as ids:
        out = triangle_counts(edges)
        _plan(out)
    assert ids == []
    assert out.count() == 500


class TestSessionDebuggingDefault:
    def test_default_is_off(self, spark):
        assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"

    def test_errors_still_raise(self, spark):
        with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
            spark.range(1).select(F.col("no_such_column"))
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            spark.range(1).select(F.lit(1) / F.lit(0)).collect()


class TestSessionCheckpointManagerDefault:
    """Streams checkpoint through Spark's FileSystem-based manager (the
    session module doc says why), and the class it names exists in the
    running JVM: a missing class would fail every stream at start."""

    NAME = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    def test_hadoop_conf_names_the_filesystem_manager(self, spark):
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        assert conf.get("spark.sql.streaming.checkpointFileManagerClass") == self.NAME

    def test_class_resolves_in_the_jvm(self, spark):
        cls = spark._jvm.java.lang.Class.forName(self.NAME)
        assert cls.getName() == self.NAME
