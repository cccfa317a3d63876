"""spread_small (r15): the round-robin repartition is a guarded SCALE
DECISION, not an unconditional shuffle. An input that already arrives
with >= target partitions (the normal case for any data-sized scan on a
real cluster — a 100 TB table shows up in thousands of splits) must be
returned unchanged: no added Exchange, no accidental coalesce to
defaultParallelism. Under-split inputs (the few-MB local parquet case)
keep the r14 behavior: repartition to full parallelism."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.sources.readers import (
    load_table,
    spread_small,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_presplit_input_is_returned_unchanged(spark):
    pre = spark.range(0, 1000, 1, 64).withColumn("v", F.col("id") * 2)
    out = spread_small(pre)
    assert out is pre  # same object: zero new plan nodes
    assert "Exchange" not in _plan(out)


def test_presplit_honors_explicit_target(spark):
    pre = spark.range(0, 1000, 1, 16)
    assert spread_small(pre, partitions=16) is pre
    assert spread_small(pre, partitions=8) is pre  # 16 >= 8: no coalesce
    out = spread_small(pre, partitions=32)  # genuinely under-split
    assert out is not pre
    assert "RoundRobinPartitioning(32" in _plan(out)


def test_undersplit_scan_still_spreads(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    n_in = docs.rdd.getNumPartitions()
    out = spread_small(docs)
    if n_in >= target:  # wide-CI boxes: the guard itself is the behavior
        assert out is docs
    else:
        assert f"RoundRobinPartitioning({target}" in _plan(out)
        assert out.rdd.getNumPartitions() == target


def test_aqe_wrapped_plan_keeps_explicit_repartition(spark):
    # a plan that already contains an exchange is AQE-wrapped; the guard
    # must NOT execute it (that would materialize its shuffle stages) —
    # it falls through to the explicit repartition unconditionally
    agg = spark.range(0, 1000, 1, 64).groupBy((F.col("id") % 7).alias("k")).count()
    out = spread_small(agg, partitions=4)
    assert "RoundRobinPartitioning(4" in _plan(out)


def test_values_unchanged_either_way(spark):
    pre = spark.range(0, 100, 1, 64)
    under = spark.range(0, 100, 1, 1)
    assert sorted(r.id for r in spread_small(pre).collect()) == list(range(100))
    assert sorted(r.id for r in spread_small(under).collect()) == list(range(100))


def test_post_shuffle_input_sized_by_caller_is_kept(spark):
    # an explicit repartition(n) is one AQE never re-sizes, so its count
    # is known from the plan: enough partitions -> returned unchanged
    pre = spark.range(0, 1000, 1, 2).repartition(16)
    assert spread_small(pre, partitions=8) is pre
    out = spread_small(pre.withColumn("v", F.col("id") + 1), partitions=32)
    assert "RoundRobinPartitioning(32" in _plan(out)


def test_probe_runs_no_job_even_with_a_scalar_subquery(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    avg_chars = docs.select(F.avg("n_chars"))
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        for enabled in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", enabled)
            q = docs.filter(F.col("n_chars") > avg_chars.scalar())
            group = f"spread-probe-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "probe")
            try:
                out = spread_small(q, partitions=64)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            assert "RoundRobinPartitioning(64" in _plan(out)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
