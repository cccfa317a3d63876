"""tools/measure.py and tools/bench_compare.py without Spark: the
audit's tree-aware single-partition-window check and its once-per-cached-
plan counts on hand-written plan strings, the HEADLINE names bench.py and
the harness time, and reading bench.py's captured stdout."""

from __future__ import annotations

import json

import __spark_entry__ as entrymod
from tools.bench_compare import load
from tools.measure import HEADLINE, audit_plan, single_partition_windows

# A window whose own input is funneled to one task.
FUNNELED = """\
AdaptiveSparkPlan isFinalPlan=false
+- Window [rank(v#3) windowspecdefinition(v#3 DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#9], [v#3 DESC NULLS LAST]
   +- Sort [v#3 DESC NULLS LAST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]
         +- FileScan parquet [v#3] Batched: true, DataFilters: [], Format: Parquet
"""

# A hash-partitioned window next to an unrelated single-partition
# exchange (a scalar count on the other join branch).
PARTITIONED = """\
AdaptiveSparkPlan isFinalPlan=false
+- BroadcastNestedLoopJoin BuildRight, Inner
   :- Window [avg(v#3) windowspecdefinition(k#2, t#1 ASC NULLS FIRST, specifiedwindowframe(RowFrame, -3, currentrow$())) AS m#8], [k#2], [t#1 ASC NULLS FIRST]
   :  +- Sort [k#2 ASC NULLS FIRST, t#1 ASC NULLS FIRST], false, 0
   :     +- Exchange hashpartitioning(k#2, 32), ENSURE_REQUIREMENTS, [plan_id=9]
   :        +- FileScan parquet [t#1,k#2,v#3] Batched: true, DataFilters: [], Format: Parquet
   +- BroadcastExchange IdentityBroadcastMode, [plan_id=12]
      +- HashAggregate(keys=[], functions=[count(1)])
         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=11]
            +- HashAggregate(keys=[], functions=[partial_count(1)])
               +- FileScan parquet [] Batched: true, DataFilters: [], Format: Parquet
"""


def test_window_over_single_partition_exchange_is_flagged():
    assert single_partition_windows(FUNNELED) == 1
    assert audit_plan(FUNNELED)["flags"] == ["single-partition-window:1"]


def test_unrelated_single_partition_exchange_is_not_blamed_on_window():
    assert single_partition_windows(PARTITIONED) == 0
    audit = audit_plan(PARTITIONED)
    assert audit["flags"] == []
    assert audit["single_part_exchanges"] == 1
    assert audit["windows"] == 1
    assert audit["exchanges"] == 2


def test_headline_names_resolve_to_entry_queries():
    assert len(set(HEADLINE)) == len(HEADLINE) == 15
    for name in HEADLINE:
        assert callable(getattr(entrymod, f"q_{name}", None)), name


# Two scans of ONE persisted frame (a self-join): its plan is printed
# under each InMemoryTableScan, with the relation line's ids renamed.
CACHED_TWICE = """\
AdaptiveSparkPlan isFinalPlan=false
+- BroadcastHashJoin [k#3L], [k#22L], Inner, BuildRight, false
   :- InMemoryTableScan [k#3L, count#5L], [isnotnull(k#3L)]
   :     +- InMemoryRelation [k#3L, count#5L], StorageLevel(disk, memory, deserialized, 1 replicas)
   :           +- AdaptiveSparkPlan isFinalPlan=false
   :              +- HashAggregate(keys=[k#3L], functions=[count(1)], output=[k#3L, count#5L])
   :                 +- Exchange hashpartitioning(k#3L, 4), ENSURE_REQUIREMENTS, [plan_id=30]
   :                    +- HashAggregate(keys=[k#3L], functions=[partial_count(1)], output=[k#3L, count#11L])
   :                       +- FileScan parquet [k#3L] Batched: true, DataFilters: [], Format: Parquet
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=52]
      +- InMemoryTableScan [k#22L, count#24L], [isnotnull(k#22L)]
            +- InMemoryRelation [k#22L, count#24L], StorageLevel(disk, memory, deserialized, 1 replicas)
                  +- AdaptiveSparkPlan isFinalPlan=false
                     +- HashAggregate(keys=[k#3L], functions=[count(1)], output=[k#3L, count#5L])
                        +- Exchange hashpartitioning(k#3L, 4), ENSURE_REQUIREMENTS, [plan_id=30]
                           +- HashAggregate(keys=[k#3L], functions=[partial_count(1)], output=[k#3L, count#11L])
                              +- FileScan parquet [k#3L] Batched: true, DataFilters: [], Format: Parquet
"""

# Two DIFFERENT persisted frames: both count.
TWO_CACHED = """\
AdaptiveSparkPlan isFinalPlan=false
+- Union
   :- InMemoryTableScan [v#40L]
   :     +- InMemoryRelation [v#40L], StorageLevel(disk, memory, deserialized, 1 replicas)
   :           +- *(1) Filter (v#41L > 1)
   :              +- FileScan parquet [v#41L] Batched: true, DataFilters: [], Format: Parquet
   +- InMemoryTableScan [v#50L]
         +- InMemoryRelation [v#50L], StorageLevel(disk, memory, deserialized, 1 replicas)
               +- *(1) Filter (v#51L < 1)
                  +- FileScan parquet [v#51L] Batched: true, DataFilters: [], Format: Parquet
"""

# A persisted frame whose cached plan reads another persisted frame,
# which the query also reads directly: the inner plan counts once.
NESTED_CACHED = """\
AdaptiveSparkPlan isFinalPlan=false
+- Union
   :- InMemoryTableScan [w#60L]
   :     +- InMemoryRelation [w#60L], StorageLevel(disk, memory, deserialized, 1 replicas)
   :           +- *(1) Project [(v#40L + 1) AS w#60L]
   :              +- InMemoryTableScan [v#40L]
   :                    +- InMemoryRelation [v#40L], StorageLevel(disk, memory, deserialized, 1 replicas)
   :                          +- *(1) Filter (v#41L > 1)
   :                             +- FileScan parquet [v#41L] Batched: true, DataFilters: [], Format: Parquet
   +- InMemoryTableScan [v#70L]
         +- InMemoryRelation [v#70L], StorageLevel(disk, memory, deserialized, 1 replicas)
               +- *(1) Filter (v#41L > 1)
                  +- FileScan parquet [v#41L] Batched: true, DataFilters: [], Format: Parquet
"""


def test_cached_plan_counts_once():
    assert CACHED_TWICE.count("FileScan") == 2
    audit = audit_plan(CACHED_TWICE)
    assert (audit["filescans"], audit["exchanges"]) == (1, 1)
    assert audit_plan(TWO_CACHED)["filescans"] == 2
    assert audit_plan(NESTED_CACHED)["filescans"] == 1


def test_bench_compare_reads_captured_bench_stdout(tmp_path):
    artifact = {"value": 1.5, "queries": {"q": 0.5}, "plans": {"q": "abc"}}
    trailer = {"value": 1.5, "trailer": True}
    path = tmp_path / "bench_stdout.txt"
    path.write_text(json.dumps(artifact) + "\n" + json.dumps(trailer) + "\n")
    assert load(str(path)) == (artifact, {"q": "abc"})
