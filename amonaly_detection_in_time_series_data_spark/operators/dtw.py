"""Dynamic Time Warping distance + 1-NN series matching.

Sakoe & Chiba, "Dynamic programming algorithm optimization for spoken
word recognition" (IEEE TASSP 1978): elastic alignment distance between
two series — the standard similarity measure when shapes match but
timing drifts (a lagged sensor, a slow day), where Euclidean distance
explodes. With the Sakoe-Chiba band constraint (|i - j| <= band) the
DP costs O(n * band) instead of O(n * m).

Engine shape — bounded-reference scan (the repo's broadcast-model
pattern): the REFERENCE set (named template series: golden runs, known
failure signatures, class exemplars) is collected driver-side with an
enforced bound and shipped in the Arrow closure; the (large) series
side stays distributed, each series group computing its distances to
every reference in ONE pass of the template stage
:func:`~.series.per_template` (shared with ``mp_shape_search``). No
pairwise self-join — all-pairs DTW over N series is O(N^2) series pairs
and is exactly the kind of cartesian this engine refuses (for all-pairs
near-dup use the LSH/MinHash family; DTW is for matching against a
bounded template library, the common production use).

Z-normalization per series (default on) makes the match amplitude- and
offset-invariant, the UCR-suite convention.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_template

__all__ = ["dtw_numpy", "dtw_match"]


def dtw_numpy(a, b, band=None, znorm=True):
    """DTW distance between 1-D arrays ``a`` and ``b`` with a
    Sakoe-Chiba band (``band=None`` = unconstrained). Step pattern:
    symmetric1 (match/insert/delete, each cell cost |a_i - b_j|^2),
    distance = sqrt of the accumulated cost — the textbook squared-
    local-cost DTW. Returns inf when the band is too narrow to reach
    the corner (band < |len(a) - len(b)|)."""
    import numpy as np

    a = np.asarray(a, dtype="float64")
    b = np.asarray(b, dtype="float64")
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return float("inf")
    if znorm:
        sa, sb = a.std(), b.std()
        a = (a - a.mean()) / sa if sa > 1e-13 else a - a.mean()
        b = (b - b.mean()) / sb if sb > 1e-13 else b - b.mean()
    w = max(int(band), abs(n - m)) if band is not None else max(n, m)
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    cur = np.empty(m + 1)
    for i in range(1, n + 1):
        cur[:] = np.inf
        lo = max(1, i - w)
        hi = min(m, i + w)
        if lo > hi:
            prev, cur = cur, prev
            continue
        d = a[i - 1] - b[lo - 1 : hi]
        d = d * d
        # cur[j] = d + min(prev[j-1], prev[j], cur[j-1]) — the cur[j-1]
        # dependency is sequential, so run the inner loop in python over
        # the banded slice (band-bounded, not m-bounded)
        for k, j in enumerate(range(lo, hi + 1)):
            best = prev[j - 1]
            if prev[j] < best:
                best = prev[j]
            if cur[j - 1] < best:
                best = cur[j - 1]
            cur[j] = d[k] + best
        prev, cur = cur, prev
    total = prev[m]
    import math

    return math.sqrt(total) if np.isfinite(total) else float("inf")


def dtw_match(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    refs: DataFrame,
    ref_key: str,
    ref_ts_col: str | None = None,
    ref_value_col: str | None = None,
    band: int | None = 16,
    znorm: bool = True,
    max_refs: int = 256,
) -> DataFrame:
    """Match every series against every reference series.

    ``refs``: a DataFrame of template series keyed by ``ref_key`` (its
    ts/value columns default to the same names as the big side).
    Collected driver-side; more than ``max_refs`` distinct templates
    raises — the bound IS the scale contract (see module docstring).

    Output: one row per (series, reference): series keys + ``ref`` +
    ``dtw_dist``, plus ``is_best`` marking each series' 1-NN reference
    (deterministic: smallest distance, then lexicographic ref).
    """
    return per_template(
        df, series_cols, ts_col, value_col, refs, ref_key, ref_ts_col, ref_value_col,
        partial(_dtw_columns, band=band, znorm=znorm),
        "dtw_dist double",
        name="dtw_match",
        max_refs=max_refs,
        refusal="{count} reference series exceeds max_refs={max_refs} — DTW against "
        "an unbounded set is an all-pairs scan; raise max_refs deliberately or use "
        "the LSH family",
        best_by="dtw_dist",
    )


def _dtw_columns(y, template, band, znorm):
    """:func:`dtw_match`'s columns for one (series, template) pair."""
    return {"dtw_dist": dtw_numpy(y, template, band=band, znorm=znorm)}
