"""Matrix profile (STOMP) and time-series discord discovery.

The matrix profile (Yeh et al., ICDM 2016 "Matrix Profile I"; Zhu et
al., ICDM 2016 "Matrix Profile II" for the STOMP recurrence) is the
canonical subsequence-anomaly primitive: for every length-``m``
subsequence of a series it records the z-normalized Euclidean distance
to its nearest non-trivial neighbor in the same series. Large profile
values are *discords* — subsequences unlike anything else in the
series — the classic shape-based anomaly detector that complements the
point-wise battery in ``operators.anomaly`` (reference scope:
``src/models/*.py`` detects point anomalies only; discords are a
beyond-reference extension).

Engine design (the repo rule: Python only where Catalyst can't go):
the O(n^2) intra-series recurrence is inherently sequential per
series, so it runs as numpy per series group in the shared Arrow stage
:func:`~.series.per_series`. Parallelism comes from the series
count — the same axis every other per-key operator scales on; there
is exactly one shuffle (the groupBy on the series key). State is
O(n) per series; the driver never sees data.

Scale bound (stated, not hidden): STOMP is O(n^2) *per series* — at
100 TB the single-task form is for many bounded series (sensors, SKUs,
hosts), guarded by ``max_series_len``. For a single very long series,
:func:`matrix_profile_chunked` computes the SAME exact profile as C^2
parallel chunk-pair AB-joins (the distributed decomposition of the
self-join: total work is still O(n^2), but wall-clock divides by the
cluster instead of sitting in one task), or downsample / use the
anomaly battery's O(n) detectors when approximate is enough.

One recurrence: :func:`stomp_ab_excl_numpy` is the package's only
STOMP loop. The self-join (:func:`stomp_numpy`), the AB-join
(:func:`stomp_ab_numpy`, which :func:`mp_shape_search` ranks through
the template stage :func:`~.series.per_template`) and the tiles of
:func:`matrix_profile_chunked` are calls of it with different sides,
offsets and exclusion.

Numerics: the STOMP dot-product recurrence drifts in float64 over
long series, so the sliding dot product is re-anchored with an exact
FFT correlation every ``recompute_every`` rows (drift is then bounded
by the re-anchor interval; the tests pin STOMP against a naive
O(n^2 m) reference at 1e-6 relative).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import ddl
from .series import per_series, per_template

__all__ = [
    "matrix_profile",
    "matrix_profile_chunked",
    "top_discords",
    "top_motifs",
    "stomp_numpy",
    "stomp_ab_numpy",
    "stomp_ab_excl_numpy",
    "mp_shape_search",
]


def _sliding_dot(query, series):
    """dot(query, series[j:j+m]) for every j, via one FFT correlation."""
    import numpy as np

    n, m = len(series), len(query)
    size = 1 << (n + m - 1).bit_length()
    fs = np.fft.rfft(series, size)
    fq = np.fft.rfft(query[::-1], size)
    prod = np.fft.irfft(fs * fq, size)
    return prod[m - 1 : n]


def _window_stats(y, m):
    """Per length-``m`` window of ``y``: mean, sigma and flatness.

    A TWO-PASS sliding computation, not the cumsum shortcut: E[x^2] -
    mu^2 cancels catastrophically when the mean dominates the variance,
    which (a) classified the same window differently after a constant
    shift and (b) can zero the sigma of a non-flat window, poisoning
    the STOMP division. O(n*m) vectorized — STOMP is O(n^2) anyway.
    Flatness is the EXACT window max == min, affine-proof by
    construction (property-tested); a flat window's sigma is 0."""
    import numpy as np

    windows = np.lib.stride_tricks.sliding_window_view(y, m)
    mu = windows.mean(axis=1)
    centered = windows - mu[:, None]
    sig = np.sqrt(np.einsum("ij,ij->i", centered, centered) / m)
    flat = (windows.max(axis=1) - windows.min(axis=1)) == 0.0
    return mu, np.where(flat, 0.0, np.maximum(sig, 1e-300)), flat


def _exclusion(m, exclusion):
    """The self-join trivial-match half-width: ``exclusion``, else
    ceil(m/2)."""
    return int(exclusion) if exclusion is not None else int(math.ceil(m / 2))


def stomp_numpy(y, m, exclusion=None, recompute_every=512):
    """Self-join matrix profile of 1-D array ``y`` with window ``m``.

    Returns ``(mp, mp_idx)`` — per subsequence start, the z-normalized
    Euclidean distance to the nearest neighbor outside the trivial-match
    exclusion zone (|i-j| < exclusion, default ceil(m/2)), and that
    neighbor's start index (-1 when no valid neighbor exists).

    Constant-subsequence convention (both std == 0): distance 0 if both
    flat, sqrt(m) if exactly one is flat — the standard z-norm limit
    used by the public SCAMP/stumpy implementations. The recurrence is
    :func:`stomp_ab_excl_numpy` with ``y`` on both sides at offset 0.
    """
    import numpy as np

    y = np.asarray(y, dtype="float64")
    if m < 3:
        raise ValueError(f"matrix_profile: window must be >= 3, got {m}")
    if np.isnan(y).any():
        raise ValueError("matrix_profile: null values in series (fill first)")
    l = len(y) - m + 1
    if l < 2:
        return np.full(max(l, 0), np.nan), np.full(max(l, 0), -1, dtype="int64")
    mp, mp_idx = stomp_ab_excl_numpy(
        y, y, m, 0, 0, _exclusion(m, exclusion), recompute_every=recompute_every
    )
    return np.where(np.isfinite(mp), mp, np.nan), mp_idx


def _profile_columns(y, m, exclusion, max_series_len):
    """:func:`matrix_profile`'s columns for one sorted series ``y``: one
    row per subsequence start."""
    import numpy as np

    if len(y) > max_series_len:
        raise ValueError(
            f"matrix_profile: series of length {len(y)} exceeds "
            f"max_series_len={max_series_len}; STOMP is O(n^2) per "
            "series in a single task — use matrix_profile_chunked "
            "(exact, distributed) or downsample (m4_downsample / "
            "coarser resample_grid), or raise max_series_len "
            "explicitly if you accept the cost"
        )
    l = max(len(y) - m + 1, 0)
    mp, mp_idx = stomp_numpy(y, m, exclusion) if l else (np.zeros(0), np.zeros(0, "int64"))
    return {"pos": np.arange(l, dtype="int32"), "mp": mp, "mp_pos": mp_idx.astype("int32")}


def matrix_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    window: int,
    exclusion: int | None = None,
    max_series_len: int = 100_000,
) -> DataFrame:
    """Per-series self-join matrix profile.

    Output: the series keys + ``ts_col`` (the subsequence START
    timestamp), ``pos`` (0-based subsequence index in time order),
    ``mp`` (z-normalized Euclidean distance to the nearest non-trivial
    neighbor; null when the series is too short to have one) and
    ``mp_pos`` (that neighbor's ``pos``; -1 when null). One output row
    per subsequence, i.e. n - window + 1 rows per length-n series.

    Input contract: a REGULAR, null-free grid per series (compose
    after ``resample_grid`` + a fill operator); ties in ``ts_col``
    raise — a matrix profile over an ambiguous ordering is undefined.

    ``max_series_len`` (default 100k) REFUSES over-long series instead
    of silently starting an O(n^2)-per-series task: STOMP on a single
    1M-point series is ~10^12 distance updates in ONE executor task —
    hours of wall-clock that parallelism cannot touch (same refusal
    contract as ``dtw_match``'s ``max_refs``). For longer series use
    :func:`matrix_profile_chunked` (the EXACT profile as distributed
    chunk-pair tiles) or downsample first (``m4_downsample`` /
    ``resample_grid`` at a coarser grid).
    """
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(_profile_columns, m=int(window), exclusion=exclusion,
                max_series_len=max_series_len),
        "pos int, mp double, mp_pos int",
        name="matrix_profile",
        carry=(ts_col,),
        distinct_ts=True,
    )


def top_discords(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    window: int,
    k: int = 3,
    exclusion: int | None = None,
    max_series_len: int = 100_000,
) -> DataFrame:
    """Top-``k`` discords per series: the ``k`` subsequences with the
    LARGEST matrix-profile value (most unlike everything else), ranked
    1..k with deterministic ties (earlier ``pos`` wins). Null-profile
    rows (series too short) are excluded. One extra window pass on the
    same series key — no new shuffle axis.
    """
    prof = matrix_profile(
        df, ts_col, value_col, series_cols, window, exclusion, max_series_len
    )
    return _ranked(prof, series_cols, F.col("mp").desc(), "discord_rank", k)


def top_motifs(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    window: int,
    k: int = 3,
    exclusion: int | None = None,
    max_series_len: int = 100_000,
) -> DataFrame:
    """Top-``k`` motifs per series — the dual of :func:`top_discords`:
    the ``k`` subsequences with the SMALLEST matrix-profile value (a
    repeated shape; ``mp_pos`` points at the matching occurrence).
    Ranked 1..k with deterministic ties (earlier ``pos`` wins), null
    profiles excluded; same single-shuffle plan as the discord query.
    """
    prof = matrix_profile(
        df, ts_col, value_col, series_cols, window, exclusion, max_series_len
    )
    return _ranked(prof, series_cols, F.col("mp").asc(), "motif_rank", k)


def _ranked(prof, series_cols, by, rank_col, k):
    """The first ``k`` non-null rows of each series of profile ``prof``
    in ``by`` order (ties to the earlier ``pos``), ranked 1..k in
    ``rank_col``."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*series_cols).orderBy(by, F.col("pos").asc())
    return (
        prof.where(F.col("mp").isNotNull())
        .withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= int(k))
    )


def stomp_ab_numpy(query, ref, m, recompute_every=512):
    """AB-join matrix profile: for every length-``m`` subsequence of
    ``query``, the z-normalized Euclidean distance to its nearest
    subsequence of ``ref`` (Matrix Profile I's join variant — no
    exclusion zone, the series are different). Returns (dist, ref_pos)
    arrays of length len(query) - m + 1; ``stomp_ab_numpy(y, y, m)``
    is zero up to float rounding by construction. The recurrence is
    :func:`stomp_ab_excl_numpy` with no exclusion."""
    import numpy as np

    q = np.asarray(query, dtype="float64")
    r = q if ref is query else np.asarray(ref, dtype="float64")
    if m < 3:
        raise ValueError(f"stomp_ab: window must be >= 3, got {m}")
    lq = len(q) - m + 1
    if lq < 1 or len(r) < m:
        return np.full(max(lq, 0), np.nan), np.full(max(lq, 0), -1, dtype="int64")
    if np.isnan(q).any() or np.isnan(r).any():
        raise ValueError("stomp_ab: null values in series (fill first)")
    return stomp_ab_excl_numpy(q, r, m, 0, 0, 0, recompute_every=recompute_every)


def mp_shape_search(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    refs: DataFrame,
    ref_key: str,
    window: int,
    ref_ts_col: str | None = None,
    ref_value_col: str | None = None,
    max_refs: int = 256,
) -> DataFrame:
    """Shape search: for every (series, reference-template) pair, the
    best z-normalized subsequence match — "has this reference shape
    occurred in this series, where, and how closely".

    Same bounded-broadcast contract as ``operators.dtw.dtw_match``:
    the template library is collected driver-side (``max_refs``
    enforced — unbounded all-pairs joins are refused by design), the
    big side stays distributed, one pass of the template stage
    :func:`~.series.per_template` per series.

    Output: series keys + ``ref`` + ``best_dist`` (min AB-profile
    value), ``query_pos`` (subsequence start index in the series, time
    order), ``ref_pos`` (matching start in the reference) and
    ``is_best`` (this series' closest template; smallest distance,
    ties to lexicographic ref). Series shorter than ``window`` emit
    null distances.
    """
    return per_template(
        df, series_cols, ts_col, value_col, refs, ref_key, ref_ts_col, ref_value_col,
        partial(_shape_columns, m=int(window)),
        "best_dist double, query_pos int, ref_pos int",
        name="mp_shape_search",
        max_refs=max_refs,
        refusal="{count} templates exceeds max_refs={max_refs} — raise it "
        "deliberately or use the LSH family",
        best_by="best_dist",
    )


def _shape_columns(y, template, m):
    """:func:`mp_shape_search`'s columns for one (series, template)
    pair: the AB-join profile's minimum (null when either side is
    shorter than the window)."""
    import numpy as np

    if len(y) < m or len(template) < m:
        return {"best_dist": None, "query_pos": None, "ref_pos": None}
    dist, pos = stomp_ab_numpy(y, template, m)
    i = int(np.argmin(dist))
    return {"best_dist": float(dist[i]), "query_pos": i, "ref_pos": int(pos[i])}


def stomp_ab_excl_numpy(query, ref, m, q_offset, r_offset, excl, recompute_every=512):
    """The STOMP recurrence (Zhu et al., ICDM 2016), written once: an
    AB-join profile WITH the self-join trivial-match exclusion. For
    every length-``m`` subsequence of ``query`` (global start positions
    ``q_offset + i``), the distance to its nearest subsequence of
    ``ref`` (global starts ``r_offset + j``) SKIPPING pairs with
    ``|global_i - global_j| < excl``. :func:`stomp_numpy` is the whole
    series on both sides, :func:`stomp_ab_numpy` is ``excl=0``, and
    :func:`matrix_profile_chunked` runs one call per (query-chunk,
    ref-chunk) tile of the self-join distance matrix, each tile masking
    only the part of the exclusion diagonal that crosses it.

    Returns ``(dist, pos)`` with ``pos`` in GLOBAL coordinates (-1 and
    ``inf`` distance when a row is fully excluded). Flat windows take
    the z-norm limits (0 between two flat windows, sqrt(m) between a
    flat and a non-flat one); the exclusion bounds are
    ``[i-excl+1, i+excl-1]``. Each row's first dot product comes from
    the exact FFT row when ``query is ref`` (a self-join: QT is
    symmetric), else from one direct O(m) dot product.
    """
    import numpy as np

    self_join = query is ref
    q = np.asarray(query, dtype="float64")
    r = q if self_join else np.asarray(ref, dtype="float64")
    if m < 3:
        raise ValueError(f"stomp_ab_excl: window must be >= 3, got {m}")
    lq, lr = len(q) - m + 1, len(r) - m + 1
    if lq < 1 or lr < 1:
        return np.full(max(lq, 0), np.inf), np.full(max(lq, 0), -1, dtype="int64")
    if np.isnan(q).any() or np.isnan(r).any():
        raise ValueError("stomp_ab_excl: null values in series (fill first)")
    mu_q, sig_q, flat_q = _window_stats(q, m)
    mu_r, sig_r, flat_r = (mu_q, sig_q, flat_q) if self_join else _window_stats(r, m)

    qt_first = _sliding_dot(q[:m], r)  # dot(q[0:m], r[j:j+m]) for all j
    qt = qt_first.copy()
    dist = np.full(lq, np.inf)
    pos = np.full(lq, -1, dtype="int64")
    sqrt_m = math.sqrt(m)
    for i in range(lq):
        if i > 0:
            if recompute_every and i % recompute_every == 0:
                qt = _sliding_dot(q[i : i + m], r)
            else:
                # QT_i[j] = QT_{i-1}[j-1] - r[j-1]*q[i-1] + r[j+m-1]*q[i+m-1]
                qt[1:] = qt[:-1] - r[: lr - 1] * q[i - 1] + r[m : m + lr - 1] * q[i + m - 1]
                qt[0] = qt_first[i] if self_join else np.dot(q[i : i + m], r[:m])
        if flat_q[i]:
            d = np.where(flat_r, 0.0, sqrt_m)
        else:
            with np.errstate(divide="ignore", invalid="ignore"):
                corr = (qt - m * mu_q[i] * mu_r) / (m * sig_q[i] * sig_r)
            d2 = 2.0 * m * (1.0 - corr)
            d = np.sqrt(np.maximum(d2, 0.0))
            d = np.where(flat_r, sqrt_m, d)
        # trivial-match mask in local ref coordinates: the j with
        # |(q_offset+i) - (r_offset+j)| < excl
        ctr = i + q_offset - r_offset
        lo, hi = max(0, ctr - excl + 1), min(lr, ctr + excl)
        if lo < hi:
            d[lo:hi] = np.inf
        j = int(np.argmin(d))
        if np.isfinite(d[j]):
            dist[i] = d[j]
            pos[i] = j + r_offset
    return dist, pos


def matrix_profile_chunked(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    window: int,
    chunk_size: int = 10_000,
    exclusion: int | None = None,
) -> DataFrame:
    """The EXACT self-join matrix profile of arbitrarily long series,
    computed as a distributed block decomposition instead of one
    O(n^2) task — the scale path :func:`matrix_profile`'s
    ``max_series_len`` guard points at.

    Decomposition: positions are cut into chunks of ``chunk_size``
    starts (each chunk's value array carries ``window - 1`` overlap
    rows so every window is complete); the self-join distance matrix
    becomes C x C (query-chunk, ref-chunk) tiles, each an independent
    :func:`stomp_ab_excl_numpy` task masking only its crossing of the
    trivial-match diagonal; per-position tile minima combine with one
    ``min(struct(dist, pos))`` aggregate (ties to the LOWEST global
    neighbor position, matching the monolithic argmin). Total work is
    still O(n^2) per series — that is what a matrix profile IS — but
    wall-clock divides by the cluster: a 1M-point series becomes
    10^4 hundred-ms tiles instead of one multi-hour task, and each
    tile's memory is O(chunk_size), not O(n).

    Same output contract as :func:`matrix_profile` (keys, ts, pos, mp,
    mp_pos); values match the monolithic kernel to float tolerance
    (the STOMP dot-product recurrence re-anchors differently per tile
    — differential-tested at 1e-9 relative). Requires
    ``chunk_size >= window`` so a row spans at most two chunks.
    """
    keys = list(series_cols)
    m = int(window)
    s_len = int(chunk_size)
    if m < 3:
        raise ValueError(f"matrix_profile_chunked: window must be >= 3, got {m}")
    if s_len < m:
        raise ValueError(
            f"matrix_profile_chunked: chunk_size ({s_len}) must be >= window ({m})"
        )
    excl = _exclusion(m, exclusion)

    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    base = df.select(*keys, ts_col, value_col).withColumn(
        "__pos", F.row_number().over(w) - F.lit(1)
    )
    spine = base.select(*keys, ts_col, "__pos")

    # membership: every row joins its own chunk; rows in the first
    # window-1 positions of a chunk ALSO feed the previous chunk's
    # overlap tail. chunk arrays are collected sorted-by-position —
    # bounded at chunk_size + window - 1 values each.
    own = F.floor(F.col("__pos") / s_len).cast("int")
    memb = F.when(
        (F.col("__pos") % s_len <= m - 2) & (own > 0),
        F.array(own, own - 1),
    ).otherwise(F.array(own))
    rows = base.select(
        *keys, "__pos", F.col(value_col).alias("__v"),
        F.explode(memb).alias("__chunk"),
    )
    chunks = rows.groupBy(*keys, "__chunk").agg(
        F.min("__pos").alias("__first_pos"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__v"))),
            lambda st: st["__v"],
        ).alias("__vals"),
    )

    q_side = chunks.select(
        *keys,
        F.col("__chunk").alias("__qc"),
        F.col("__first_pos").alias("__q_off"),
        F.col("__vals").alias("__q_vals"),
    )
    r_side = chunks.select(
        *keys,
        F.col("__chunk").alias("__rc"),
        F.col("__first_pos").alias("__r_off"),
        F.col("__vals").alias("__r_vals"),
    )
    tiles = q_side.join(r_side, keys)
    # prune tiles that cannot produce a finite row: a tile is useful iff
    # some (query window, ref window) pair escapes the exclusion band —
    # always true except when BOTH chunks are the same short tail; keep
    # the filter to the cheap structural one (ref chunk has >= 1 window)
    tiles = tiles.where(F.size("__r_vals") >= m)

    out_schema = ddl(df.schema, keys) + ", __pos int, __d double, __np bigint"

    def tile(pdf):
        import numpy as np
        import pandas as pd

        out_keys = {k: [] for k in keys}
        o_pos, o_d, o_np = [], [], []
        # one row per group by construction (groupBy keys include the
        # tile coordinates); iloc-indexing keeps the __-prefixed column
        # names intact (itertuples would mangle them)
        for i_row in range(len(pdf)):
            rd = pdf.iloc[i_row]
            qv = np.asarray(rd["__q_vals"], dtype="float64")
            if len(qv) - m + 1 < 1:
                continue
            d, p = stomp_ab_excl_numpy(
                qv, np.asarray(rd["__r_vals"], dtype="float64"), m,
                int(rd["__q_off"]), int(rd["__r_off"]), excl,
            )
            # only this chunk's OWN window starts (the overlap tail's
            # starts belong to the next chunk's query side)
            lq = len(d)
            own_n = min(lq, s_len)
            for k in keys:
                out_keys[k].extend([rd[k]] * own_n)
            o_pos.extend(int(rd["__q_off"]) + np.arange(own_n))
            o_d.extend(d[:own_n])
            o_np.extend(p[:own_n])
        return pd.DataFrame(
            {**out_keys, "__pos": np.array(o_pos, dtype="int32"),
             "__d": np.array(o_d, dtype="float64"),
             "__np": np.array(o_np, dtype="int64")}
        )

    partials = tiles.groupBy(*keys, "__qc", "__rc").applyInPandas(tile, out_schema)
    best = (
        partials.where(F.col("__d") != float("inf"))
        .groupBy(*keys, "__pos")
        .agg(F.min(F.struct("__d", "__np")).alias("__best"))
    )
    # restore the monolithic contract: one row per subsequence start,
    # null mp when no valid neighbor exists anywhere
    starts = spine.withColumn(
        "__max_pos", F.max("__pos").over(W.partitionBy(*keys))
    ).where(F.col("__pos") <= F.col("__max_pos") - (m - 1)).drop("__max_pos")
    return starts.join(best, keys + ["__pos"], "left").select(
        *keys,
        ts_col,
        F.col("__pos").cast("int").alias("pos"),
        F.col("__best.__d").alias("mp"),
        F.coalesce(F.col("__best.__np"), F.lit(-1)).cast("int").alias("mp_pos"),
    )
