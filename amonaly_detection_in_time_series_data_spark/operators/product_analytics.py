"""Event-stream product analytics: funnel conversion and cohort
retention — the two queries every events pipeline runs (classic
web/product analytics; see e.g. the funnel/retention surfaces of
ClickHouse's ``windowFunnel`` and every BI tool). Beyond-reference
extensions over the ``events`` table, next to sessionization.

Scale shapes:

- ``funnel_steps`` is ONE shuffle: per-user time-sorted event arrays
  (``collect_list`` + ``sort_array``) walked by a Catalyst ``aggregate``
  higher-order function — no per-step join cascade (k steps would be k
  shuffles), no Python. Per-user memory is bounded by that user's event
  count, the same contract as ``operators.sequences``; cap or pre-filter
  pathological mega-users upstream.
- ``cohort_retention`` is two aggregations and one shuffled join on the
  user key, then a small rollup — every step keyed, nothing global.

Determinism: step advancement requires a STRICTLY LATER timestamp
(``ts > last``), so equal-timestamp ties can never change the walk and
the result is independent of intra-timestamp ordering — this is what
makes the operator exactly SQL-expressible (chained min-over-filter
CTEs) and therefore oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import local_rows_df

__all__ = [
    "basket_rules",
    "journey_paths",
    "funnel_steps",
    "funnel_user_depth",
    "cohort_retention",
    "rfm_segments",
    "attribution_credit",
    "transition_matrix",
]


def _parse_duration(text: str, what: str) -> int:
    """Parse ``'<n> days|hours'`` into microseconds. ``what`` names the
    calling parameter (e.g. ``"attribution_credit: lookback"``) so the
    error message points at the right knob. Shared by every duration
    knob in this module so the accepted units and messages stay in
    sync."""
    import re as _re

    m = _re.fullmatch(r"(\d+)\s*(day|days|hour|hours)", text.strip())
    if not m:
        raise ValueError(f"{what} must be '<n> days|hours', got {text!r}")
    n, unit = int(m.group(1)), m.group(2)
    return n * (86_400_000_000 if unit.startswith("day") else 3_600_000_000)


def funnel_user_depth(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    event_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """Per-user funnel depth: how many of ``steps`` the user completed
    in order, each at a strictly later timestamp than the previous.
    Returns one row per user: ``user_col``, ``funnel_depth`` (0..k).

    ``within`` (r12, e.g. ``"3 days"``): the ANCHORED window-funnel
    variant (the deadline face of ClickHouse's ``windowFunnel``) —
    every completed step must fall within ``within`` of the user's
    FIRST step-1 event (the anchor; "the first signup starts the
    clock"). Anchoring at the earliest step-1 keeps the walk greedy
    and therefore exactly SQL-expressible (the chained min-over-filter
    CTEs gain one bound) — the full max-over-all-chains windowFunnel
    semantics is NOT SQL-replayable and deliberately not what this
    computes; a user whose deep chain starts at a LATER step-1 scores
    shallower here. Documented contract, deterministic.

    One shuffle (the groupBy); the walk itself is a Catalyst
    ``aggregate`` HOF over the sorted event array — JVM-side, no UDF.
    """
    k = len(steps)
    if k < 1:
        raise ValueError("funnel_steps: need at least one step")
    if len(set(steps)) != k:
        raise ValueError(f"funnel_steps: steps must be distinct, got {steps!r}")
    within_us = None
    if within is not None:
        within_us = _parse_duration(within, "funnel: within")
    step_arr = F.array(*[F.lit(s) for s in steps])
    events = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col).alias("ts"), F.col(event_col).alias("ev")))
    )

    # acc: (done steps, anchor = ts of step 1, ts of the last completed
    # step)
    def advance(acc, e):
        ok = (
            (acc["done"] < k)
            & (e["ev"] == F.get(step_arr, acc["done"]))
            & ((acc["done"] == 0) | (e["ts"] > acc["last"]))
        )
        if within_us is not None:
            ok = ok & (
                (acc["done"] == 0)
                | (
                    F.unix_micros(e["ts"])
                    <= F.unix_micros(acc["first"]) + F.lit(within_us)
                )
            )
        return F.when(
            ok,
            F.struct(
                (acc["done"] + 1).alias("done"),
                F.when(acc["done"] == 0, e["ts"])
                .otherwise(acc["first"])
                .alias("first"),
                e["ts"].alias("last"),
            ),
        ).otherwise(acc)

    walk = F.aggregate(
        events,
        F.struct(
            F.lit(0).alias("done"),
            F.lit("1900-01-01 00:00:00").cast("timestamp").alias("first"),
            F.lit("1900-01-01 00:00:00").cast("timestamp").alias("last"),
        ),
        advance,
    )
    return (
        df.select(user_col, ts_col, event_col)
        .where(F.col(event_col).isin(list(steps)))
        .groupBy(user_col)
        .agg(walk["done"].alias("funnel_depth"))
    )


def funnel_steps(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    event_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """Funnel conversion table: one row per step with ``step_idx``
    (1-based), ``step_name``, ``users`` (users whose ordered walk
    reached at least this step), ``conv_from_first`` and
    ``conv_from_prev`` (exact integer-ratio doubles, unrounded; null
    when the base is 0 — and ``conv_from_first`` is 1.0 on the first
    step by definition). ``within``: the anchored window-funnel
    deadline (see :func:`funnel_user_depth`).

    Steps with zero users still appear (count 0), so the output always
    has exactly ``len(steps)`` rows.
    """
    k = len(steps)
    depth = funnel_user_depth(df, ts_col, user_col, event_col, steps, within)
    # users reaching >= step i, for i = 1..k: tiny k-row aggregate
    reached = depth.select(
        *[
            F.sum((F.col("funnel_depth") >= i).cast("bigint")).alias(f"s{i}")
            for i in range(1, k + 1)
        ]
    )
    spark = df.sparkSession
    # literal local table (sources.readers.local_rows_df): the
    # createDataFrame form re-ran a Python-RDD scan per action
    names = local_rows_df(
        spark,
        [(i + 1, s) for i, s in enumerate(steps)],
        T.StructType(
            [
                T.StructField("step_idx", T.IntegerType()),
                T.StructField("step_name", T.StringType()),
            ]
        ),
    )
    wide = names.crossJoin(F.broadcast(reached))
    users = F.coalesce(
        *[
            F.when(F.col("step_idx") == i, F.col(f"s{i}"))
            for i in range(1, k + 1)
        ]
    )
    prev_users = F.coalesce(
        *[
            F.when(F.col("step_idx") == i, F.col(f"s{i - 1}"))
            for i in range(2, k + 1)
        ],
        F.col("s1"),
    )
    out = wide.select(
        "step_idx",
        "step_name",
        users.alias("users"),
        F.when(F.col("s1") > 0, users / F.col("s1")).alias("conv_from_first"),
        F.when(prev_users > 0, users / prev_users).alias("conv_from_prev"),
    )
    return out


def cohort_retention(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix in long form: users are cohorted by the
    ``period`` (``date_trunc`` grain) of their FIRST event; for every
    (cohort, period-offset) cell, ``users`` = distinct users of that
    cohort active in that period and ``retention`` = users /
    cohort size (the offset-0 cell; exact integer-ratio double,
    unrounded). Offset 0 always has retention 1.0.

    ``period``: ``day`` or ``week`` (grains where the offset is an
    exact integer day-difference ratio in both Spark and ANSI SQL).
    """
    if period not in ("day", "week"):
        raise ValueError(f"cohort_retention: period must be day|week, got {period!r}")
    days = 1 if period == "day" else 7
    bucket = F.date_trunc(period, F.col(ts_col)).cast("date")
    first = (
        df.groupBy(user_col)
        .agg(F.min(bucket).alias("cohort"))
    )
    active = df.select(user_col, bucket.alias("p")).distinct()
    cells = (
        active.join(first, user_col)
        .groupBy("cohort", ((F.datediff("p", "cohort") / days).cast("int")).alias("offset"))
        .agg(F.countDistinct(user_col).alias("users"))
    )
    base = cells.where(F.col("offset") == 0).select(
        F.col("cohort").alias("c0"), F.col("users").alias("cohort_size")
    )
    return (
        cells.join(F.broadcast(base), cells.cohort == base.c0)
        .select(
            "cohort",
            "offset",
            "users",
            "cohort_size",
            (F.col("users") / F.col("cohort_size")).alias("retention"),
        )
    )


def transition_matrix(
    df: DataFrame,
    session_cols: Sequence[str],
    order_cols: Sequence[str],
    type_col: str = "event_type",
) -> DataFrame:
    """User-journey path analysis: first-order Markov step counts over
    within-session event sequences — ``(from_type, to_type, cnt,
    prob)`` where ``prob`` is the row-normalized transition probability
    (the classic product-analytics "what do users do next" table; the
    sankey/flow diagram's data contract).

    Scale shape: ONE ``lag`` window on the session key (shares the
    exchange any sessionizer already created), then a k x k aggregate —
    output is bounded by the event-type vocabulary squared, never by
    corpus size, so the matrix broadcasts back onto events for per-step
    enrichment. Transitions never cross session boundaries (the window
    partitions BY session), which is the analytics-correct convention:
    a journey ends when the session does.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(*session_cols).orderBy(*order_cols)
    pairs = df.withColumn("__from", F.lag(type_col).over(w)).where(
        F.col("__from").isNotNull()
    )
    counts = pairs.groupBy(
        F.col("__from").alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    tot = W.partitionBy("from_type")
    return counts.withColumn(
        "prob",
        F.col("cnt").cast("double") / F.sum("cnt").over(tot).cast("double"),
    )


def journey_paths(
    df: DataFrame,
    session_cols: Sequence[str],
    order_cols: Sequence[str],
    type_col: str = "event_type",
    k: int = 3,
    sep: str = ">",
) -> DataFrame:
    """k-step user-journey path mining: counts of every length-``k``
    run of consecutive within-session event types — the
    :func:`transition_matrix` generalization that answers "what are the
    top PATHS users take" (the sankey's k-deep variant; ClickHouse's
    ``sequenceCount`` family, Amplitude's Pathfinder).

    Output: ``path`` (types joined by ``sep``), ``cnt``, ``share``
    (cnt / total paths — same-integer division, engine-portable).
    A run containing a NULL type anywhere is dropped (the
    transition-matrix lag-filter convention: a NULL cannot name a
    step). Runs never cross the session key.

    Contract: event types must not CONTAIN ``sep`` — the path key is a
    plain ``concat_ws`` join, so ``('a>b','c')`` and ``('a','b>c')``
    would collide into one ``a>b>c`` key under the default separator.
    The collision is deterministic and mirrored by any SQL replay, but
    silently lossy; pick a ``sep`` outside the type alphabet (e.g. a
    control character) when types are free-form.

    Scale shape: k-1 ``lag`` columns on ONE session-keyed window
    exchange (shared with any sessionizer/transition plan), then a
    groupBy bounded by the type vocabulary^k — the share window runs
    over that small grouped table, never the events.
    """
    if k < 2:
        raise ValueError(f"journey_paths: k must be >= 2, got {k}")
    from pyspark.sql import Window as W

    w = W.partitionBy(*session_cols).orderBy(*order_cols)
    steps = [
        F.lag(F.col(type_col), k - 1 - i).over(w).alias(f"__s{i}")
        for i in range(k - 1)
    ] + [F.col(type_col).alias(f"__s{k - 1}")]
    cond = F.col("__s0").isNotNull()
    for i in range(1, k):
        cond = cond & F.col(f"__s{i}").isNotNull()
    runs = df.select(*steps).filter(cond)
    counts = runs.groupBy(
        F.concat_ws(sep, *[F.col(f"__s{i}") for i in range(k)]).alias("path")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    total = W.partitionBy()
    return counts.withColumn(
        "share", F.col("cnt") / F.sum("cnt").over(total)
    )


def basket_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int | None = None,
    return_excluded: bool = False,
    apriori_prune: bool = False,
):
    """Pairwise association rules (market-basket co-occurrence): for
    every item pair appearing together in at least ``min_pair_count``
    baskets, emit support / directed confidences / lift — the Apriori
    k=2 layer (Agrawal & Srikant, VLDB'94), which is the layer retail
    and recommendation pipelines actually run at scale (higher-k
    itemsets explode combinatorially and are mined on the filtered
    pair graph instead).

    Definitions (basket-presence semantics — duplicates of an item
    within one basket count once, via the leading DISTINCT):
    ``support = pair_n / n_baskets``; ``conf_a_b = pair_n / n_a``
    (P(b in basket | a in basket)); ``lift = pair_n * n_baskets /
    (n_a * n_b)`` — computed as integer products with ONE final
    division, so every value is an exact-integer ratio and
    engine-portable unrounded.

    Scale: pair generation is a self-join keyed on the basket id —
    O(k^2) rows per basket where k is basket size, never a cross join.
    A pathological mega-basket (one bot cart with 1e5 items is
    C(1e5,2) ~ 5e9 pairs from a SINGLE key) is the skew bomb of this
    shape; ``max_basket_size`` drops baskets with more than the cap
    DISTINCT items BEFORE pair generation, item frequencies, and the
    basket total, so the output is exactly the brute-force answer on
    the surviving baskets (support/confidence/lift denominators stay
    mutually consistent). The over-cap basket list is bounded by
    n_rows/cap entries, so the anti-join broadcast stays tiny. With
    ``return_excluded=True`` returns ``(rules, excluded)`` where
    ``excluded`` is the (basket, basket_size) table of dropped baskets
    — the loud-count channel, declarative so no job runs unless the
    caller looks. Measured price of the knob (SCALING §10a0d): the
    sizing pass costs ~1/3 extra at 60M rows when the cap never
    binds — enable it where mega-basket floods are plausible, not by
    default. One groupBy for item frequencies, one for pair
    counts (map-side partial combine on both), the scalar basket total
    broadcast via the tiny-stats crossJoin pattern. ``min_pair_count``
    prunes the long tail BEFORE the stats joins — at retail scale the
    pair tail is the data.

    ``apriori_prune`` applies the Apriori anti-monotone property at
    the item layer BEFORE the pair explode: ``pair_n(a,b) <=
    min(n_a, n_b)`` under basket-presence semantics, so an item
    appearing in fewer than ``min_pair_count`` baskets cannot
    participate in ANY surviving pair — removing those items is
    provably lossless for the declared output (Agrawal & Srikant's
    original candidate-pruning step, VLDB'94 §2.1). Denominators stay
    exact: ``n_baskets`` and per-item counts are computed on the
    UNPRUNED (post-cap) frame; only the pair-generation input shrinks.
    Implemented as an anti-join of the presence frame against the
    INFREQUENT-item list (derived from the same ``items`` groupBy the
    stats joins already need). Default OFF, by measurement (SCALING
    §10a0e, the ``max_basket_size`` precedent): the anti-join costs
    one extra item-keyed exchange of the presence frame even when
    NOTHING qualifies (AQE's broadcast conversion happens after that
    shuffle's map side is written — measured +40-60% at 6M-60M
    tail-free rows), while the win where a sub-threshold tail exists
    is a quadratic cut of the exploded pair intermediate (measured on
    a planted Poisson-tailed item universe at 60M rows, same
    section). Enable it where the item-frequency distribution has a
    ``min_pair_count`` tail — most real retail/co-occurrence corpora;
    NOT TPC-H-shaped uniform keys, whose every item clears any small
    threshold. A no-op when ``min_pair_count == 1``.

    Pair generation is the basket-keyed self-join. A single-exchange
    form (each basket's sorted item array expanded map-side with HOFs)
    was measured slower at every size tried, 60M small-basket rows and
    the few-large-baskets controls alike (SCALING §10a0e-hof), and is
    not kept.
    """
    if min_pair_count < 1:
        raise ValueError(
            f"basket_rules: min_pair_count must be >= 1, got {min_pair_count}"
        )
    if return_excluded and max_basket_size is None:
        raise ValueError(
            "basket_rules: return_excluded requires max_basket_size"
        )
    if max_basket_size is not None and max_basket_size < 1:
        raise ValueError(
            f"basket_rules: max_basket_size must be >= 1, got {max_basket_size}"
        )
    b = df.select(
        F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item")
    ).filter(
        F.col("__basket").isNotNull() & F.col("__item").isNotNull()
    ).distinct()
    excluded = None
    if max_basket_size is not None:
        # windowed count: one basket-keyed exchange carries both the
        # size filter and the excluded report. Measured (SCALING
        # §10a0d): free at 6M lineitem rows (4.22 vs 4.69 s uncapped);
        # at 60M rows the sizing pass prices the cap at ~+36% over
        # uncapped in-session. An interleaved A/B vs the
        # sizes-groupBy + broadcast-anti form measured the two plans
        # EQUAL within host noise (22.30 vs 22.39 s median at 60M
        # rows) — the window form is kept for its single-exchange
        # structure, not a measured edge. Where the cap BINDS it
        # deletes C(k,2) pair blowups that dwarf one sizing pass.
        from pyspark.sql import Window as _W

        sized = b.withColumn(
            "__bsz", F.count(F.lit(1)).over(_W.partitionBy("__basket"))
        )
        excluded = (
            sized.filter(F.col("__bsz") > max_basket_size)
            .select(
                F.col("__basket").alias("basket"),
                F.col("__bsz").alias("basket_size"),
            )
            .distinct()
        )
        b = sized.filter(F.col("__bsz") <= max_basket_size).drop("__bsz")
    totals = b.groupBy().agg(
        F.countDistinct("__basket").alias("__n_baskets")
    )
    items = b.groupBy("__item").agg(F.count(F.lit(1)).alias("__n_item"))
    bp = b
    if apriori_prune and min_pair_count > 1:
        # anti-monotone prune: items below the pair floor can't survive.
        # Anti-join against the INFREQUENT list (not semi against the
        # frequent one): the list is EMPTY on tail-free data and
        # exactly the removable rows otherwise; AQE picks broadcast vs
        # shuffle by its measured size. The aggregate is the same
        # `items` subtree the stats joins need — one exchange, reused.
        infreq = items.filter(
            F.col("__n_item") < min_pair_count
        ).select("__item")
        bp = b.join(infreq, "__item", "anti")
    lhs = bp.select("__basket", F.col("__item").alias("item_a"))
    rhs = bp.select("__basket", F.col("__item").alias("item_b"))
    pairs_src = (
        lhs.join(rhs, "__basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .select("item_a", "item_b")
    )
    pairs = (
        pairs_src.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
    )
    out = (
        pairs.join(
            items.select(
                F.col("__item").alias("item_a"), F.col("__n_item").alias("n_a")
            ),
            "item_a",
        )
        .join(
            items.select(
                F.col("__item").alias("item_b"), F.col("__n_item").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
    )
    rules = out.select(
        "item_a",
        "item_b",
        F.col("pair_n").cast("bigint").alias("pair_n"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (F.col("pair_n") / F.col("__n_baskets")).alias("support"),
        (F.col("pair_n") / F.col("n_a")).alias("conf_a_b"),
        (F.col("pair_n") / F.col("n_b")).alias("conf_b_a"),
        (
            (F.col("pair_n") * F.col("__n_baskets"))
            / (F.col("n_a") * F.col("n_b"))
        ).alias("lift"),
        # item-item cosine over basket-presence vectors (Deshpande &
        # Karypis item-based top-N): pair_n / sqrt(n_a*n_b) — the exact
        # bigint product converts losslessly below 2^53 and sqrt/division
        # are IEEE-correctly-rounded, so the score is engine-portable
        (
            F.col("pair_n") / F.sqrt(F.col("n_a") * F.col("n_b"))
        ).alias("cosine"),
    )
    if return_excluded:
        return rules, excluded
    return rules


def rfm_segments(
    df: DataFrame,
    customer_col: str,
    date_col: str,
    amount_col: str,
    quantiles: Sequence[float] = (0.2, 0.4, 0.6, 0.8),
    ref_date=None,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM scoring (Hughes 1994): per-customer last-activity age,
    activity count, and exact centi-unit spend, each scored 1..k+1
    against the population's interpolated quantile boundaries, plus the
    concatenated segment label ("5-5-5" = best).

    Determinism & portability: monetary is summed in EXACT centi-unit
    integers (amounts on a 0.01 grid — the repo-wide convention), so
    per-customer totals never carry float combine-order jitter;
    boundaries come from ``percentile`` (== SQL ``quantile_cont``,
    engine-identical on integer inputs) and scores are strict ``>``
    comparisons against them — ties at a boundary always score DOWN, on
    both engines. Recency is whole days against ``ref_date`` (default:
    the population's max activity date, so the result is reproducible
    from the data alone).

    Scale: one groupBy(customer) aggregate, one 4-value quantile
    aggregate broadcast back, then map-only scoring — boundary-BASED
    scoring instead of rank-based ntile precisely because a global
    ntile is a one-partition sort at 100 TB (same trade as
    ``ppl_bucket``'s documented scale mode; equal-count buckets are
    only approximate under heavy ties, which is the accepted RFM
    semantics).
    """
    qs = [float(x) for x in quantiles]
    if not qs or any(not 0.0 < x < 1.0 for x in qs) or sorted(qs) != qs:
        raise ValueError(
            f"rfm_segments: quantiles must be sorted within (0,1), got {quantiles}"
        )
    per = (
        df.select(
            F.col(customer_col).alias("customer"),
            F.to_date(F.col(date_col)).alias("__d"),
            F.round(F.col(amount_col) * 100)
            .cast("bigint")
            .alias("__cents"),
        )
        # NULL customer cannot be scored; NULL date/amount rows would
        # leak NULL through recency/monetary into the scores (and a
        # NULL score corrupts the concat_ws segment silently) — drop
        # them here and document the contract
        .filter(
            F.col("customer").isNotNull()
            & F.col("__d").isNotNull()
            & F.col("__cents").isNotNull()
        )
        .groupBy("customer")
        .agg(
            F.max("__d").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("__cents").alias("__m_cents"),
        )
    )
    ref = (
        per.groupBy().agg(F.max("__last").alias("__ref"))
        if ref_date is None
        else None
    )
    base = (
        per.crossJoin(F.broadcast(ref))
        if ref is not None
        else per.withColumn("__ref", F.to_date(F.lit(ref_date)))
    )
    base = base.withColumn(
        "recency_days", F.datediff("__ref", "__last").cast("bigint")
    )
    qarr = F.array(*[F.lit(x) for x in qs])
    bounds = base.groupBy().agg(
        F.percentile("recency_days", qarr).alias("__rb"),
        F.percentile("frequency", qarr).alias("__fb"),
        F.percentile("__m_cents", qarr).alias("__mb"),
    )
    k = len(qs)

    def _above(col: str, barr: str):
        # number of boundaries strictly exceeded, as an exact integer
        s = F.lit(0)
        for i in range(1, k + 1):
            s = s + (F.col(col) > F.element_at(F.col(barr), i)).cast("int")
        return s

    scored = (
        base.crossJoin(F.broadcast(bounds))
        .withColumn("r_score", (F.lit(k + 1) - _above("recency_days", "__rb")).cast("bigint"))
        .withColumn("f_score", (F.lit(1) + _above("frequency", "__fb")).cast("bigint"))
        .withColumn("m_score", (F.lit(1) + _above("__m_cents", "__mb")).cast("bigint"))
    )
    return scored.select(
        "customer",
        "recency_days",
        F.col("frequency").cast("bigint").alias("frequency"),
        (F.col("__m_cents") / F.lit(100.0)).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    )


def attribution_credit(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    channel_col: str,
    is_touch,
    is_conversion,
    lookback: str = "7 days",
    models: Sequence[str] = ("first", "last", "linear"),
    half_life: str = "1 day",
) -> DataFrame:
    """Marketing attribution: credit each conversion to the touch
    events (channel exposures) preceding it within ``lookback`` —
    first-touch, last-touch, linear (equal-split), position-based
    (U-shaped 40-20-40) and time-decay models: the five every
    attribution tool ships.

    Semantics, deterministically:

    - a touch counts iff it is STRICTLY earlier than the conversion
      (>= 1 microsecond — the strict-ts convention of ``funnel_steps``)
      and within the lookback window;
    - first/last pick the min/max of a ``(ts, channel)`` STRUCT over
      the window frame, so equal-timestamp touches resolve by the
      channel string, never by partition order;
    - linear splits one conversion over its n touches as
      ``floor(1e6 / n)`` ppm per touch — EXACT integer credit (the
      ``transition_matrix`` ppm convention), so sums are
      combine-order-proof and engine-portable; the ≤ n−1 ppm lost to
      the floor per conversion is the documented rounding;
    - position (U-shaped): over the ``(ts, channel)``-sorted touch
      list, the first touch gets 400_000 ppm, the last 400_000, each
      middle ``floor(200_000/(n-2))``; n=1 → 1e6, n=2 → 500_000 each
      (the standard two-touch renormalization). Positional over the
      SORTED array, so duplicates and equal timestamps are handled
      deterministically;
    - decay: exponential half-life weights QUANTIZED to whole
      half-life periods — touch weight ``2^-s`` where ``s = k - kmin``
      and ``k = floor(age / half_life)`` (``kmin`` over the
      conversion's touches), floored at ``2^-40``. Weights are exact
      powers of two built in bigint arithmetic (``shiftleft``), credit
      is ``(1e6 * w) div sum(w)`` — fully integer, engine-portable,
      no float ``pow``. The quantization (the weight halves at period
      boundaries rather than continuously) is the documented trade for
      bit-exact oracle replay;
    - a conversion with NO touch in the window credits the synthetic
      ``(direct)`` channel (1e6 ppm under every model).

    Output: one row per (model, channel) with ``conversions`` and
    ``credit_ppm`` (total credit, 1e6 = one conversion). For the
    whole-conversion models (first/last) ``conversions`` counts
    conversions; for the split models (linear/position/decay) it
    counts CREDITING TOUCH ROWS — a conversion with two touches on the
    same channel contributes 2 to that channel's count (credit_ppm is
    the reconcilable column; the ppm totals are what sum to 1e6 per
    conversion).

    Scale: ONE user-keyed exchange — the window frames (range frame
    over epoch-µs) ride it for all five models; the split-model
    explode is bounded by touches-per-lookback (the per-conversion
    touch list must stay executor-bounded — same contract as
    ``sequences``; decay additionally assumes < 2^22 touches per
    conversion so the bigint weight sum cannot overflow). No joins.
    """
    known = ("first", "last", "linear", "position", "decay")
    bad = [m for m in models if m not in known]
    if bad:
        raise ValueError(f"attribution_credit: unknown models {bad}")
    if len(set(models)) != len(list(models)):
        raise ValueError(
            f"attribution_credit: duplicate models in {list(models)!r} "
            "(each model emits its rows once; repeats would silently "
            "double credit totals downstream)"
        )
    lookback_us = _parse_duration(lookback, "attribution_credit: lookback")
    half_life_us = (
        _parse_duration(half_life, "attribution_credit: half_life")
        if "decay" in models
        else None
    )

    us = F.unix_micros(F.col(ts_col))
    ev = df.select(
        F.col(user_col).alias("__u"),
        us.alias("__us"),
        F.col(channel_col).alias("__ch"),
        is_touch.cast("boolean").alias("__t"),
        is_conversion.cast("boolean").alias("__c"),
    ).filter(F.col("__u").isNotNull() & F.col("__us").isNotNull())

    from pyspark.sql import Window

    w = (
        Window.partitionBy("__u")
        .orderBy("__us")
        .rangeBetween(-lookback_us, -1)
    )
    touch_struct = F.when(
        F.col("__t"), F.struct(F.col("__us"), F.col("__ch"))
    )
    conv = (
        ev.withColumn("__first", F.min(touch_struct).over(w))
        .withColumn("__last", F.max(touch_struct).over(w))
        .withColumn(
            "__chans", F.collect_list(F.when(F.col("__t"), F.col("__ch"))).over(w)
        )
    )
    if any(m in ("position", "decay") for m in models):
        # (us, channel) structs, sorted lexicographically — the same
        # tie-break as the struct min/max above, but positional, so
        # the U-shape/decay walks are order-deterministic
        conv = conv.withColumn(
            "__srt", F.array_sort(F.collect_list(touch_struct).over(w))
        )
    conv = conv.filter(F.col("__c"))
    out = None

    def _single(model: str, struct_col: str) -> DataFrame:
        ch = F.coalesce(F.col(f"{struct_col}.__ch"), F.lit("(direct)"))
        return conv.select(ch.alias("channel")).groupBy("channel").agg(
            F.count(F.lit(1)).alias("conversions"),
            (F.count(F.lit(1)) * F.lit(1_000_000)).alias("credit_ppm"),
        ).select(F.lit(model).alias("model"), "channel", "conversions",
                 F.col("credit_ppm").cast("bigint").alias("credit_ppm"))

    def _split(model: str, base: DataFrame, credits_col) -> DataFrame:
        # explode the per-conversion (channel, ppm) credit array and
        # aggregate; `conversions` counts crediting rows (see docstring)
        return (
            base.select(F.explode(credits_col).alias("cr"))
            .select(
                F.col("cr.channel").alias("channel"),
                F.col("cr.ppm").alias("__ppm"),
            )
            .groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("conversions"),
                F.sum("__ppm").cast("bigint").alias("credit_ppm"),
            )
            .select(
                F.lit(model).alias("model"), "channel", "conversions",
                "credit_ppm",
            )
        )

    _direct_arr = (
        "array(named_struct('channel', '(direct)', 'ppm', 1000000L))"
    )
    position_credits = F.expr(
        f"""CASE
        WHEN size(__srt) = 0 THEN {_direct_arr}
        WHEN size(__srt) = 1 THEN
          array(named_struct('channel', __srt[0].__ch, 'ppm', 1000000L))
        WHEN size(__srt) = 2 THEN
          array(named_struct('channel', __srt[0].__ch, 'ppm', 500000L),
                named_struct('channel', __srt[1].__ch, 'ppm', 500000L))
        ELSE concat(
          array(named_struct('channel', __srt[0].__ch, 'ppm', 400000L),
                named_struct('channel', element_at(__srt, -1).__ch,
                             'ppm', 400000L)),
          transform(slice(__srt, 2, size(__srt) - 2),
                    t -> named_struct('channel', t.__ch,
                                      'ppm', 200000L div (size(__srt) - 2))))
        END"""
    )

    def _decay_rows() -> DataFrame:
        # k = whole half-life periods of touch age; weight 2^-(k-kmin)
        # floored at 2^-40, scaled to exact bigint powers of two. kmin
        # is the newest touch's k (sorted array → last element), so
        # the heaviest weight is always 2^40 and sums stay in bigint.
        d = (
            conv.withColumn(
                "__ks",
                F.expr(f"transform(__srt, t -> (__us - t.__us) div {half_life_us}L)"),
            )
            .withColumn(
                "__ws",
                F.expr(
                    "transform(__ks, k -> shiftleft(1L, "
                    "cast(40 - least(k - array_min(__ks), 40L) as int)))"
                ),
            )
            .withColumn("__sumw", F.expr("aggregate(__ws, 0L, (a, x) -> a + x)"))
        )
        credits = F.expr(
            f"""CASE WHEN size(__srt) = 0 THEN {_direct_arr}
            ELSE zip_with(__srt, __ws,
                   (t, w) -> named_struct('channel', t.__ch,
                                          'ppm', (1000000L * w) div __sumw))
            END"""
        )
        return _split("decay", d, credits)

    for model in models:
        if model == "first":
            rows = _single("first", "__first")
        elif model == "last":
            rows = _single("last", "__last")
        elif model == "position":
            rows = _split("position", conv, position_credits)
        elif model == "decay":
            rows = _decay_rows()
        else:
            n_t = F.size("__chans")
            touched = (
                conv.filter(n_t > 0)
                .select(
                    F.floor(F.lit(1_000_000) / n_t).alias("__ppm"),
                    F.explode("__chans").alias("channel"),
                )
                .groupBy("channel")
                .agg(
                    F.count(F.lit(1)).alias("conversions"),
                    F.sum("__ppm").cast("bigint").alias("credit_ppm"),
                )
            )
            direct = (
                conv.filter(n_t == 0)
                .groupBy()
                .agg(F.count(F.lit(1)).alias("conversions"))
                .filter(F.col("conversions") > 0)
                .select(
                    F.lit("(direct)").alias("channel"),
                    "conversions",
                    (F.col("conversions") * F.lit(1_000_000))
                    .cast("bigint")
                    .alias("credit_ppm"),
                )
            )
            rows = touched.select(
                F.lit("linear").alias("model"), "channel", "conversions",
                "credit_ppm",
            ).unionByName(
                direct.select(
                    F.lit("linear").alias("model"), "channel",
                    "conversions", "credit_ppm",
                )
            )
        out = rows if out is None else out.unionByName(rows)
    return out
