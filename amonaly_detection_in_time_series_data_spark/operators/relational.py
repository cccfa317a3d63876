"""Relational capability operators (SURVEY.md §2.7-§2.10).

The reference implements no joins, limits, top-k, or set ops; these are
Spark built-ins, and this module exists to pin down the engine's preferred
PHYSICAL strategies so the declared capability queries demonstrate them:

- top-k is ``row_number`` over a window, which Spark rewrites into a
  per-partition group-limit before the exchange (rank pushdown) — never a
  global sort + limit of the full table;
- grouped aggregates rely on partial (map-side) aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import col_ref, unit_snap
from ..sources.readers import local_rows_df


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_exprs: Sequence,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic top-k per group via row_number (callers include a
    unique tiebreaker in ``order_exprs``)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def top_k_global(df: DataFrame, order_exprs: Sequence, k: int) -> DataFrame:
    """Global top-k: orderBy + limit — Spark plans TakeOrderedAndProject,
    a per-partition heap + driver merge, never a full sort."""
    return df.orderBy(*order_exprs).limit(k)


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    salt_source: str,
    n_salt: int = 16,
) -> DataFrame:
    """Skew-resistant two-phase aggregate of sum/count/avg/min/max.

    A hot grouping key (one key owning a large share of rows) makes the
    single-shuffle ``groupBy(key)`` reduce into one straggler task. Here
    the partial aggregate runs on ``(key, salt)`` — the hot key's rows
    spread over ``n_salt`` reducers — and the final aggregate combines
    the tiny partial table on ``key`` alone. ``salt_source`` is any
    roughly-uniform existing column (a unique id); deterministic, so
    results are reproducible. AQE's skew handling covers sort-merge
    JOINS; aggregation skew still needs this pattern.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salt))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(value_col).alias("_sum"),
        F.count(value_col).alias("_cnt"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_sum").alias(f"{value_col}_sum"),
        F.sum("_cnt").alias(f"{value_col}_count"),
        (F.sum("_sum") / F.sum("_cnt")).alias(f"{value_col}_avg"),
        F.min("_min").alias(f"{value_col}_min"),
        F.max("_max").alias(f"{value_col}_max"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_source: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join by key salting: the companion of
    :func:`salted_agg` for the join side of the skew problem.

    When ONE join key owns a large share of the probe side, a sort-merge
    join puts that key's entire row set into one reducer. AQE's
    skew-join split fixes the common case, but it only fires for
    sort-merge joins with AQE stats and cannot split a key WITHIN a
    single partition-sized unit finer than its target size. The
    explicit form: the (large, skewed) ``left`` gets a deterministic
    salt from ``salt_source`` (any roughly-uniform existing column);
    the (smaller) ``right`` is REPLICATED ``n_salt`` times via one
    ``explode`` of a literal range; the join key becomes
    ``on + [salt]``, so the hot key's rows spread over ``n_salt``
    reducers. Row multiplicity is exactly that of the plain join
    (differential-tested, duplicates included) because every left row
    matches exactly ONE replica of each right match.

    ``how``: 'inner', 'left', 'left_semi', or 'left_anti' — the shapes
    where replicating the right side cannot change multiplicity
    (left_semi/left_anti still benefit: the probe side is the skewed
    one). Right/full-outer would surface unmatched right REPLICAS and
    are refused. Cost: right side × ``n_salt`` (keep it the small side
    — if it broadcasts anyway, broadcast and skip salting entirely).
    """
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join: how={how!r} unsupported (replicating the right"
            " side would change outer multiplicity)"
        )
    keys = list(on)
    lsalt = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salt))
    )
    rsalt = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = lsalt.join(rsalt, [*keys, "__salt"], how)
    return out.drop("__salt")


def heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.01,
    exact: bool = True,
    broadcast_threshold: int = 500,
) -> DataFrame:
    """Frequent items above a ``support`` fraction — the heavy-hitters
    sketch next to HLL distinct and t-digest quantiles in the
    approximate-aggregation tier.

    Pass 1 is Spark's built-in single-pass mergeable frequent-items
    sketch (``stat.freqItems``, Karp/Shenker/Papadimitriou): fixed
    ``O(1/support)`` state per partition, merged map-side — a SUPERSET
    of the true heavy hitters (possible false positives, never false
    negatives). With ``exact=True`` (default) a second — and final —
    pass wraps candidate values in a struct group key (so a NULL
    candidate stays distinguishable from "not a candidate", which maps
    to a null key) and counts every group map-side-combined; the true
    row total is the window-sum over the resulting <= 1/support + 1
    groups, so no third scan of the data. That is the standard two-pass
    exact heavy-hitters shape at 100 TB: pass 1 never shuffles the
    data, pass 2 shuffles at most 1/support + 1 groups. The candidate
    list is driver-materialized, bounded by 1/support items (e.g. 100
    at 1%); up to ``broadcast_threshold`` candidates it compiles to an
    IN-list predicate, beyond that (support = 1e-4 means up to 10k
    candidates) it becomes a broadcast left join against a candidates
    DataFrame — same semantics, no pathological codegen.

    Returns (value, cnt, frac) sorted by cnt descending; with
    ``exact=False``, the unverified candidate superset with null
    counts (single pass, cheapest possible).
    """
    # Spark's freqItems enforces support >= 1e-4 JVM-side; validate here
    # so the caller gets a clear error instead of an opaque JVM one.
    if not 1e-4 <= support < 1:
        raise ValueError(
            f"heavy_hitters: support must be in [1e-4, 1), got {support}"
        )
    cands = df.stat.freqItems([col], support).collect()[0][0]
    spark = df.sparkSession
    out_name = col
    if not cands:
        return spark.createDataFrame(
            [], df.select(col).schema
        ).withColumn("cnt", F.lit(None).cast("bigint")).withColumn(
            "frac", F.lit(None).cast("double")
        )
    if not exact:
        return (
            local_rows_df(spark, [(c,) for c in cands], df.select(col).schema)
            .withColumn("cnt", F.lit(None).cast("bigint"))
            .withColumn("frac", F.lit(None).cast("double"))
        )
    has_null = any(c is None for c in cands)
    nonnull = [c for c in cands if c is not None]
    if len(cands) <= broadcast_threshold:
        pred = F.col(col).isin(nonnull) if nonnull else F.lit(False)
        if has_null:
            # Column.isin never matches NULL; keep a null heavy hitter
            pred = pred | F.col(col).isNull()
        keyed = df.withColumn(
            "__k", F.when(pred, F.struct(F.col(col).alias("v")))
        )
    else:
        cdf = (
            local_rows_df(spark, [(c,) for c in cands], df.select(col).schema)
            .toDF("__c")
            .withColumn("__hit", F.lit(1))
        )
        keyed = df.join(
            F.broadcast(cdf), F.col(col).eqNullSafe(F.col("__c")), "left"
        ).withColumn(
            "__k", F.when(F.col("__hit") == 1, F.struct(F.col(col).alias("v")))
        )
    grouped = keyed.groupBy("__k").agg(F.count("*").alias("cnt"))
    # window over the tiny grouped table (<= 1/support + 1 rows), never
    # over the data — folds the exact total into pass 2
    total_w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        grouped.withColumn("__total", F.sum("cnt").over(total_w))
        .filter(F.col("__k").isNotNull())
        .filter(F.col("cnt") >= F.lit(support) * F.col("__total"))
        .select(
            F.col("__k").getField("v").alias(out_name),
            "cnt",
            (F.col("cnt") / F.col("__total")).alias("frac"),
        )
        .orderBy(F.col("cnt").desc(), F.col(out_name).asc())
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    eps: float,
    scale: int = 100,
    left_keep: Sequence[str] = (),
    right_keep: Sequence[str] = (),
    max_band_size: int | None = None,
    return_excluded: bool = False,
):
    """Numeric band join: all (left, right) pairs with
    ``|left_col - right_col| <= eps`` — the "values within tolerance"
    join behind price matching, sensor alignment and numeric record
    linkage — WITHOUT the nested-loop/cross-join plan a naive range
    predicate degenerates to.

    How: values are snapped to the 1/``scale`` integer grid (the
    repo-wide exact-units convention — eps must be representable on
    it), bucketed by ``floor(units / eps_units)``, and the LEFT side
    probes buckets {b-1, b, b+1} (any value within eps lies in the
    same or an adjacent bucket). The join is then a plain equi-join on
    the bucket key plus an exact integer filter — each qualifying pair
    matches EXACTLY once because the right row's bucket is unique (no
    post-join dedup). The bucket id is computed with EXACT bigint
    floor division — ``(u - pmod(u, e)) div e`` stays in integer
    arithmetic for the full 64-bit unit range (a double ``/`` would
    mis-bucket beyond 2^53 and silently drop pairs) and floors rather
    than truncates for negative units because ``pmod`` is
    non-negative. All comparisons are integer, so the result set is
    bit-decidable and brute-force replayable.

    Scale: one explode(x3) on the left, one bucket-keyed shuffle; the
    adversary is a value cluster inside one eps-window (a mega-band:
    pairs within a hot bucket are |left-in-bucket| x |right-in-bucket|).
    ``max_band_size`` caps it on the BUILD side, mirroring
    ``blocked_fuzzy_join``'s ``max_block_size``: right-side buckets
    with more than the cap rows are dropped entirely (per-left-row
    fanout is then <= 3*cap), and the over-cap bucket list is bounded
    by n_right/cap rows so the anti-join broadcast stays tiny. With
    ``return_excluded=True`` the function returns ``(pairs,
    excluded)`` where ``excluded`` is the (band_bucket, band_size)
    table of dropped buckets — the loud-count channel, declarative so
    no job runs unless the caller looks.

    Output columns: ``left_keep`` prefixed ``l_``, ``right_keep``
    prefixed ``r_``, plus ``abs_diff_units``.
    """
    eps_units = int(round(eps * scale))
    if eps_units <= 0:
        raise ValueError(
            f"band_join: eps*scale must round to a positive integer, "
            f"got eps={eps} scale={scale}"
        )
    if return_excluded and max_band_size is None:
        raise ValueError(
            "band_join: return_excluded requires max_band_size"
        )
    if max_band_size is not None and max_band_size < 1:
        raise ValueError(
            f"band_join: max_band_size must be >= 1, got {max_band_size}"
        )
    lu = F.expr(unit_snap(col_ref(left_col), scale))
    ru = F.expr(unit_snap(col_ref(right_col), scale))
    bucket = F.expr(
        f"(__u - pmod(__u, {eps_units}L)) div {eps_units}L"
    )
    lb = (
        left.filter(F.col(left_col).isNotNull())
        .select(
            *[F.col(c).alias(f"l_{c}") for c in left_keep],
            lu.alias("__u"),
        )
        .withColumn("__b0", bucket)
        .select(
            *[f"l_{c}" for c in left_keep],
            F.col("__u").alias("__lu"),
            F.explode(
                F.array(
                    *[(F.col("__b0") + F.lit(d)).cast("bigint") for d in (-1, 0, 1)]
                )
            ).alias("__bk"),
        )
    )
    rb = (
        right.filter(F.col(right_col).isNotNull())
        .select(
            *[F.col(c).alias(f"r_{c}") for c in right_keep],
            ru.alias("__u"),
        )
        .withColumn("__bk", bucket)
        .withColumnRenamed("__u", "__ru")
    )
    excluded = None
    if max_band_size is not None:
        over = (
            rb.groupBy("__bk")
            .agg(F.count(F.lit(1)).alias("band_size"))
            .filter(F.col("band_size") > max_band_size)
        )
        rb = rb.join(F.broadcast(over.select("__bk")), "__bk", "left_anti")
        excluded = over.select(
            F.col("__bk").alias("band_bucket"), "band_size"
        )
    out = (
        lb.join(rb, "__bk")
        .filter(F.abs(F.col("__lu") - F.col("__ru")) <= eps_units)
        .select(
            *[f"l_{c}" for c in left_keep],
            *[f"r_{c}" for c in right_keep],
            F.abs(F.col("__lu") - F.col("__ru")).alias("abs_diff_units"),
        )
    )
    if return_excluded:
        return out, excluded
    return out
