"""Composed end-to-end anomaly pipeline — the Spark-first equivalent of
the reference's ``run_pipeline`` (main.py:58-233).

Stage map (reference -> here):

  1. load CSVs + header cleanup        -> sources.load_table (parquet;
                                          column names stripped)
  2. timestamp parse, dedup 'first',
     numeric clean, ffill              -> repartition by the series key,
                                          dedup_keep_positional, ffill,
                                          fill_zero
  3. time/lag/rolling features, dropna -> operators.features.featurize
  4. scale + sequence + train          -> not here: the model tier
                                          (minmax_scale, create_sequences,
                                          sequence_reconstruction_scores)
                                          composes on this plan's output,
                                          as perfbench's traced run does
  5. detect (spec-only in reference)   -> rolling_zscore 3-sigma flags

Crucial structural difference: the reference materializes a full pandas
frame between every stage (>=8 copies); here the stages only extend ONE
logical plan, and nothing executes until the caller acts on the result.

Physical shape: ONE hash exchange on ``user_id`` and ONE sort on
``(user_id, ts, event_id)`` feed every window. The events are
hash-partitioned by the series key before the dedup, so the dedup's
``(user_id, ts)`` row-number window is already clustered (``user_id``
partitioning satisfies it), and its ``(user_id, ts, event_id)`` sort is
the order the ffill, feature and z-score windows need; Catalyst stacks
the window groups over that one exchange and sort. Partitioning on the
dedup key ``(user_id, ts)`` instead would leave the series windows a
second exchange and sort. AQE still coalesces the exchange. Duplicate
rows now cross the one exchange (the dedup's map-side partial limit
needed an exchange of its own); with 1 row in 5 a duplicate, perfbench's
traced ``pipeline`` run still wrote 526 KB of shuffle per iteration
instead of 873 KB. Building the plan runs no Spark job (``load_table``
takes its schema from the parquet footer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table
from ..operators.dedup import dedup_keep_positional
from ..operators.missing import ffill, fill_zero
from ..operators.features import featurize
from ..operators.anomaly import rolling_zscore


def anomaly_pipeline(
    spark: SparkSession,
    sf_dir: str,
    target: str = "value",
    lags: tuple[int, ...] = (1, 2, 3, 24),
    windows: tuple[int, ...] = (3, 6, 12, 24),
    zscore_window: int = 24,
    threshold: float = 3.0,
) -> DataFrame:
    """events -> cleaned -> featurized -> 3-sigma anomaly flags.

    The series key is ``user_id`` (the reference's single global series
    generalized to many parallel series — SURVEY §1.1); ordering is
    ``(ts, event_id)`` with the unique event id as a deterministic
    tiebreaker for equal timestamps.
    """
    key = ["user_id"]
    order = ["ts", "event_id"]

    # the series exchange goes under the dedup (module doc)
    events = load_table(spark, sf_dir, "events").repartition(*key)
    deduped = dedup_keep_positional(events, key + ["ts"], arrival_col="event_id")
    filled = fill_zero(ffill(deduped, [target], key, order), [target])
    feats = featurize(
        filled,
        target,
        key,
        order,
        lags=lags,
        windows=windows,
        aggs=("mean", "std", "min", "max"),
        dropna=True,
    )
    return rolling_zscore(feats, target, zscore_window, key, order, threshold)
