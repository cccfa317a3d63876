"""Streaming sinks (SURVEY.md §2.11): durable anomaly-alert output.

The alert stream lands in date-partitioned parquet through Spark's
NATIVE file sink — exactly-once by construction (the sink's commit log
records which files belong to which epoch; a replayed epoch overwrites
nothing and readers see only committed files). That beats a hand-rolled
``foreachBatch`` writer, which is at-least-once unless the caller
dedups by batch id.

At scale: alerts are a tiny filtered slice of the scored stream, so the
sink's per-epoch file count stays small; date partitioning keeps
downstream reads pruned (`alert_date` filter → PartitionFilters at the
scan, same discipline as the batch writers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_anomaly_alerts(
    flags: DataFrame,
    path: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    flag_col: str = "is_anomaly",
    available_now: bool = True,
):
    """Sink the flagged rows of a scored event stream to parquet.

    ``flags`` is the output of ``streaming_zscore_flags`` (or any stream
    with a 0/1 ``flag_col``). Returns the started StreamingQuery; with
    ``available_now`` the query drains everything available and stops,
    which is also the replay-verification mode used in tests.

    availableNow: the stateful twins arm no Spark timeout (an idle
    key expires inside the state function, when its bucket next has
    rows), so the query runs no no-data micro-batches and stops once
    it has drained its input, whatever the upstream ``timeout_minutes``.
    """
    alerts = flags.filter(F.col(flag_col) == 1).withColumn(
        "alert_date", F.to_date(F.col(ts_col))
    )
    writer = (
        alerts.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("alert_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
