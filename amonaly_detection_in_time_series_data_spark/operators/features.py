"""Feature-engineering operators F2/F3 and the composed featurize stage
(SURVEY.md §2.6, §3.1 stage 3).

Design: every window here uses the SAME WindowSpec family
``partitionBy(series).orderBy(ts, tiebreak)`` so Catalyst plans ONE
exchange + ONE sort for the entire feature stage — lags, rolling aggs and
ffill all ride the same shuffle. Plan-asserted in tests/test_plan_build.py
and tests/test_plan_hygiene.py.

Scale notes: the reference's data is a single global series, which would
put the whole table in one window partition. The engine takes the series
key as a required parameter (``user_id`` in testdata); a single-series
input can be parallelized by time-bucketing with overlap (SURVEY §4.2) —
see ``bucketed_rolling`` below.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import col_ref, ident, over, past_rows, with_columns
from ..functions.timefeat import TIME_FEATURES, time_feature_sql

# rolling aggregate name -> SQL aggregate function
ROLL_AGGS: dict[str, str] = {
    "mean": "avg",
    "std": "stddev_samp",  # pandas rolling .std() is ddof=1 == stddev_samp
    "min": "min",
    "max": "max",
}


def _order_cols(order_cols: Sequence[str]) -> list[Column]:
    return [F.col(c).asc() for c in order_cols]


def lag_sql(
    target: str,
    lags: Sequence[int],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> dict[str, str]:
    """F2 as SQL text: ``{target}_lag_{n}`` = ``target`` n rows earlier in
    the series; non-positive lags are skipped."""
    w = over(key_cols, order_cols)
    t = col_ref(target)
    return {f"{target}_lag_{n}": f"lag({t}, {n}) {w}" for n in lags if n > 0}


def rolling_sql(
    target: str,
    windows: Sequence[int],
    aggs: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    suffix: str = "h",
) -> dict[str, str]:
    """F3 as SQL text: each of ``aggs`` over the past ``w`` rows, named
    ``{target}_roll_{agg}_{w}{suffix}``."""
    t = col_ref(target)
    return {
        f"{target}_roll_{agg}_{win}{suffix}":
            f"{ROLL_AGGS[agg]}({t}) {over(key_cols, order_cols, past_rows(win))}"
        for win in windows
        for agg in aggs
    }


def add_lag_features(
    df: DataFrame,
    target: str,
    lags: Sequence[int],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """F2: ``{target}_lag_{n}`` = value n rows earlier in the series.

    Reference: src/preprocessing.py:198-221 (``df[target].shift(lag)``);
    non-positive lags are skipped (:213-215). First n rows per series are
    NULL (pandas NaN).
    """
    exprs = lag_sql(target, lags, key_cols, order_cols)
    return df.selectExpr(*with_columns(df.columns, exprs))


def add_rolling_features(
    df: DataFrame,
    target: str,
    windows: Sequence[int],
    aggs: Sequence[str],
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    suffix: str = "h",
) -> DataFrame:
    """F3: rolling aggregates over the PAST w rows (current row excluded).

    Reference: src/preprocessing.py:223-260 —
    ``shift(1).rolling(window=w, min_periods=1).agg(...)``, i.e. frame
    rows [t-w, t-1] (anti-leakage, comments :251-255). Spark's
    ``rowsBetween(-w, -1)`` matches exactly, including the null edges:
    empty frame (row 0) -> NULL, and 1-row frame under sample-std -> NULL.
    Column naming ``{target}_roll_{agg}_{w}{suffix}`` mirrors :249.
    """
    exprs = rolling_sql(target, windows, aggs, key_cols, order_cols, suffix)
    return df.selectExpr(*with_columns(df.columns, exprs))


def featurize(
    df: DataFrame,
    target: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    lags: Sequence[int] = (1, 2, 3, 24, 48, 168),
    windows: Sequence[int] = (3, 6, 12, 24),
    aggs: Sequence[str] = ("mean", "std", "min", "max"),
    ts_col: str = "ts",
    dropna: bool = True,
) -> DataFrame:
    """Composed feature stage mirroring the reference pipeline
    (main.py:126-157): time features + lags + rolling aggs + dropna.

    The dropna drops the first max(lags) rows of each series (reference
    main.py:149-153 drops 168 rows = max lag). The three feature groups
    are one ``selectExpr`` (one analysis pass, no per-Column py4j round
    trips), with the same output as adding them group by group. The one
    exception: where a time feature's name is also a column the lags or
    rolling aggregates read, the time features go in a layer of their own
    first, so those read the feature as they did when added group by group.
    """
    exprs = lag_sql(target, lags, key_cols, order_cols)
    exprs.update(rolling_sql(target, windows, aggs, key_cols, order_cols))
    out = df
    feats = time_feature_sql(ts_col)
    read = {c.lower() for c in (target, *key_cols, *order_cols)}
    if read & set(TIME_FEATURES):
        out = out.selectExpr(*with_columns(out.columns, feats))
    else:
        exprs = {**feats, **exprs}
    out = out.selectExpr(*with_columns(out.columns, exprs))
    if dropna:
        out = out.where(complete_rows_sql(out.schema))
    return out


def complete_rows_sql(schema: T.StructType) -> str:
    """The predicate ``na.drop(how="any")`` filters on, as SQL text: every
    column non-NULL, and every float/double column also not NaN. Built
    from the schema in Python, where ``na.drop`` without a subset sends
    the whole column list through py4j one name at a time."""
    conds = []
    for f in schema.fields:
        c = ident(f.name)
        conds.append(f"{c} IS NOT NULL")
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            conds.append(f"NOT isnan({c})")
    return " AND ".join(conds)


def bucketed_rolling(
    df: DataFrame,
    target: str,
    window_rows: int,
    aggs: Sequence[str],
    order_cols: Sequence[str],
    ts_col: str = "ts",
    bucket: str = "30 days",
) -> DataFrame:
    """Single-global-series rolling aggregates WITHOUT a single-task window
    (SURVEY §4.2 hard part #1): bucket by time, ship each bucket exactly
    the ``window_rows`` rows of global history that precede it, compute
    per bucket in parallel, keep only rows owned by the bucket.

    EXACT for ANY bucket occupancy — gapped, bursty, or empty buckets
    included (r5's overlap shipped only the one preceding bucket, which
    silently under-filled frames whenever a bucket held fewer than
    ``window_rows`` rows). Mechanics (r11 single-pass form):

    1. one tiny per-bucket count aggregate (one row per time bucket) is
       collected and prefix-summed DRIVER-side — the bucket-starts
       table is bounded by the bucket count, the same bounded-small
       collect contract as the IVF probe lists;
    2. per-bucket ``row_number`` + a broadcast hash join against the
       starts table = the exact global row index of every row, with no
       single-task pass over the DATA;
    3. each row emits itself once as OWNED plus one COPY per future
       bucket whose first owned row it precedes by ``<= window_rows``
       global positions — computed by filtering the CONSTANT starts
       array (so the copies may span any number of sparse predecessor
       buckets) and ``posexplode``-ing, all inside the one pass;
    4. one per-bucket window sorted by global index computes the frame
       ``rowsBetween(-w, -1)``; copies are dropped after serving as
       history.

    Until r11 the copies were a second branch (broadcast range join +
    union), which recomputed the whole scan→window lineage per branch —
    the executed plan carried 10 scans / 12 exchanges / 2 full-data
    row_number windows, and the sf0.1→sf1 decade measured it 3.36x for
    10x rows. The explode form plans 2 scans (data + the tiny counts
    job), 2 exchanges, 1 full-data window. Exactness is pinned by this
    query's oracle — the single-partition global window.

    Shuffle cost: two exchanges (bucket index assignment + the receiver
    window) carrying n + w*n_buckets rows total — versus the
    single-partition global window this replaces, which is one task at
    any cluster size. At 100 TB that trade IS the operator. More than
    65536 buckets falls back to the join+union form (a constant array
    that large stops being a sane expression tree); at that point pick
    a wider bucket.

    ``bucket='auto'`` (r11) sizes the width from the DATA — one tiny
    (min ts, max ts, count) aggregate at plan-build time — targeting
    ``min(n / 2w, 4 x defaultParallelism)`` buckets. A fixed width is a
    parallelism ceiling in disguise: the r11 sf0.1→sf1 decade measured
    the 7-day query at 3.36x wall for 10x rows purely because density
    grew 10x inside the SAME 5 buckets (5 tasks on a 32-core box).
    Results are bucketing-invariant by construction (every frame is the
    exact global-index frame), so the width is free to track density —
    the parity oracle (the single-partition global window) pins that.
    """
    if bucket == "auto":
        stats = df.select(
            F.min(ts_col).alias("lo"),
            F.max(ts_col).alias("hi"),
            F.count(ts_col).alias("n"),
        ).first()
        if not stats["n"]:
            bucket = "30 days"
        else:
            span = max(
                1, int(stats["hi"].timestamp() - stats["lo"].timestamp())
            )
            par = df.sparkSession.sparkContext.defaultParallelism
            n_buckets = max(
                1,
                min(stats["n"] // max(1, 2 * window_rows), 4 * par),
            )
            bucket = f"{max(1, -(-span // n_buckets)) + 1} seconds"
    bucket_col = F.window(F.col(ts_col), bucket).getField("start")
    # tiny counts job, collected: one row per bucket (bounded-small by
    # construction — auto targets <= 4 x parallelism buckets)
    count_rows = sorted(
        (r["_bucket"], r["_cnt"])
        for r in df.select(bucket_col.alias("_bucket"))
        .groupBy("_bucket")
        .agg(F.count("*").alias("_cnt"))
        .collect()
    )
    spark = df.sparkSession
    starts_list, acc = [], 0
    for bt, cnt in count_rows:
        starts_list.append((bt, acc))
        acc += cnt
    wb = Window.partitionBy("_bucket").orderBy(*_order_cols(order_cols))
    b = df.withColumn("_bucket", bucket_col).withColumn(
        "_rn", F.row_number().over(wb)
    )
    w = (
        Window.partitionBy("_recv")
        .orderBy("_gidx")
        .rowsBetween(-window_rows, -1)
    )
    roll_cols = {
        f"{target}_roll_{a}_{window_rows}h":
            F.call_function(ROLL_AGGS[a], F.col(target)).over(w)
        for a in aggs
    }
    if 0 < len(starts_list) <= 65536:
        # per-bucket candidate receivers, DRIVER-computed from the known
        # counts: bucket k's rows (gidx in [start_k, start_{k+1})) can
        # serve future bucket j iff start_j <= gidx + w — so the
        # candidate list is the j's with start_j < start_{k+1} + w,
        # usually exactly [k+1] when buckets hold >= w rows. It rides
        # the same broadcast hash join that ships _start, so the per-row
        # filter touches ~1 element, not the whole starts table.
        n_b = len(starts_list)
        ends = [s for _, s in starts_list[1:]] + [acc]
        cands = []
        for k, (bt, s) in enumerate(starts_list):
            lst = []
            j = k + 1
            while j < n_b and starts_list[j][1] < ends[k] + window_rows:
                lst.append((starts_list[j][0], starts_list[j][1]))
                j += 1
            cands.append((bt, s, lst))
        ts_type = df.schema[ts_col].dataType
        # literal-inline local table, not createDataFrame: the Python-RDD
        # form re-ran 32 Python-worker tasks on EVERY action just to
        # re-emit these constant rows (~0.9 s/action measured r14,
        # sources.readers.local_rows_df) — the broadcast side of this
        # join must be a pure-JVM constant plan
        from amonaly_detection_in_time_series_data_spark.sources.readers import (
            local_rows_df,
        )

        starts_df = local_rows_df(
            spark,
            cands,
            T.StructType(
                [
                    T.StructField("_bucket", ts_type),
                    T.StructField("_start", T.LongType()),
                    T.StructField(
                        "_cand",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("_recv", ts_type),
                                    T.StructField("_s", T.LongType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        )
        g = (
            b.join(F.broadcast(starts_df), "_bucket")
            .withColumn("_gidx", F.col("_start") + F.col("_rn") - 1)
            .drop("_rn", "_start")
        )
        # owned row (pos 0) + one copy per candidate bucket whose first
        # owned row this row precedes by <= window_rows, in ONE
        # posexplode — no second branch, no union, no re-run of the
        # scan->window lineage
        served = F.filter(
            F.col("_cand"),
            lambda s: (F.col("_gidx") >= s["_s"] - window_rows)
            & (F.col("_gidx") < s["_s"]),
        )
        own = F.array(
            F.struct(
                F.col("_bucket").alias("_recv"),
                F.lit(-1).cast("bigint").alias("_s"),
            )
        )
        ex = g.select(
            *[c for c in g.columns if c != "_cand"],
            F.posexplode(F.concat(own, served)).alias("_pos", "_r"),
        ).select(
            *[c for c in g.columns if c != "_cand"],
            F.col("_r._recv").alias("_recv"),
            (F.col("_pos") == 0).alias("_owned"),
        )
        out = ex.withColumns(roll_cols)
        return out.filter(F.col("_owned")).drop(
            "_bucket", "_recv", "_owned", "_gidx"
        )
    # fallback (empty input, or too many buckets for a constant array):
    # the pre-r11 two-branch plan
    counts = (
        df.select(bucket_col.alias("_bucket"))
        .groupBy("_bucket")
        .agg(F.count("*").alias("_cnt"))
    )
    wc = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    starts = counts.select(
        "_bucket",
        F.coalesce(F.sum("_cnt").over(wc), F.lit(0)).alias("_start"),
    )
    g = (
        b.join(F.broadcast(starts), "_bucket")
        .withColumn("_gidx", F.col("_start") + F.col("_rn") - 1)
        .drop("_rn", "_start")
    )
    owned = g.withColumn("_recv", F.col("_bucket")).withColumn(
        "_owned", F.lit(True)
    )
    # history copies: the w global predecessors of each bucket's first row
    recv = starts.select(F.col("_bucket").alias("_recv"), "_start")
    copies = (
        g.join(
            F.broadcast(recv),
            (F.col("_gidx") >= F.col("_start") - window_rows)
            & (F.col("_gidx") < F.col("_start")),
        )
        .drop("_start")
        .withColumn("_owned", F.lit(False))
    )
    unioned = owned.unionByName(copies.select(*owned.columns))
    out = unioned.withColumns(roll_cols)
    return out.filter(F.col("_owned")).drop("_bucket", "_recv", "_owned", "_gidx")
