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

Driver build: every expression is SQL text, written once by the operator
that owns it (``dedup_row_number_sql``, ``ffill_sql``, ``fill_zero_sql``,
``time_feature_sql``, ``lag_sql``/``rolling_sql``, ``complete_rows_sql``,
``zscore_window_sql``/``zscore_flag_sql``), and the plan is built in five
analysis layers:

  1. load (one projection) + the repartition;
  2. the dedup's row number, and its filter;
  3. ffill and the zero fill as one expression (the dedup's ``_rn`` drops
     out of this layer's column list);
  4. time, lag and rolling features in one layer, then the drop of
     incomplete rows (``complete_rows_sql``, one ``where``);
  5. the z-score window, then its scalar z/flag layer.

Building it with a ``Column`` per ``F.*`` call made 612 py4j round trips;
the SQL-text layers made 155, and the median warm build on sf0.001 went
from 135-151 ms to 98-100 ms on a 4-core host (SCALING §12b). With the
drop as SQL text too (``na.drop`` sent the column list one name at a
time) a build makes 115; ``tests/test_plan_build.py`` caps it at 125.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import with_columns
from ..operators.anomaly import rolling_zscore
from ..operators.dedup import dedup_row_number_sql
from ..operators.features import featurize
from ..operators.missing import ffill_sql, fill_zero_sql
from ..sources.readers import load_table


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

    Equal to ``rolling_zscore(featurize(fill_zero(ffill(
    dedup_keep_positional(load_table(...).repartition(key))))))`` —
    built from the same expression builders in five layers (module doc).
    """
    key = ["user_id"]
    order = ["ts", "event_id"]

    # 1. load + the series exchange, under the dedup (module doc)
    events = load_table(spark, sf_dir, "events").repartition(*key)
    cols = events.columns
    # 2. the dedup's row number and its filter; the fill layer drops _rn
    rn = dedup_row_number_sql(key + ["ts"], arrival_col="event_id")
    deduped = events.selectExpr(*with_columns(cols, {"_rn": rn})).where("_rn = 1")
    # 3. forward fill and the zero fill as one expression
    ffilled = ffill_sql([target], key, order)[target]
    fill = fill_zero_sql(ffilled, events.schema[target].dataType) or ffilled
    filled = deduped.selectExpr(*with_columns(cols, {target: fill}))
    # 4. time, lag and rolling features in one layer, then the dropna
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
    # 5. the z-score window, then its scalar z/flag layer
    return rolling_zscore(feats, target, zscore_window, key, order, threshold)
