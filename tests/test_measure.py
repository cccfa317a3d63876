"""tools/measure.py without Spark: the audit's tree-aware
single-partition-window check on hand-written plan strings, and the
HEADLINE names bench.py and the harness time."""

from __future__ import annotations

import __spark_entry__ as entrymod
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
