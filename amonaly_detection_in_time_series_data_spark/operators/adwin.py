"""ADWIN adaptive-window drift detection.

Bifet & Gavaldà, "Learning from Time-Changing Data with Adaptive
Windowing" (SDM 2007): keep a window of recent values and SHRINK it
whenever two adjacent sub-windows have means that differ beyond a
Hoeffding bound — the window length itself becomes the change signal,
with a rigorous false-positive guarantee (delta) and no fixed window
size to tune. The standard drift detector in the streaming-ML
literature (MOA/river), complementing Page-Hinkley in
``operators.anomaly``: PH tests against a fixed reference mean; ADWIN
compares the window against ITSELF, so it adapts to any new regime and
detects repeated changes without reset logic.

Memory: the window is stored as an exponential histogram — buckets of
(sum, sum-of-squares, count) with power-of-two counts, at most
``max_buckets`` per size class (oldest two merge upward when
exceeded) — O(M log n) per key, the paper's key trick. Cut test: the
paper's variance-aware (Bernstein) bound — the form MOA/river actually
ship, valid for ARBITRARY-scale data where the plain Hoeffding bound
(which assumes values in [0,1]) floods with false cuts:

    delta' = delta / n,   m = harmonic mean of n0, n1,
    eps = sqrt( (2/m) * var_W * ln(2/delta') ) + (2/(3m)) * ln(2/delta')

and the window is cut at a bucket boundary whenever
|mu0 - mu1| > eps. Detection is bucket-granular (exact oldest-element
tracking would cost O(n)) — the paper's own approximation.

Execution: sequential per series (the window state is the algorithm),
so one Python loop, :func:`adwin_kernel`, per series group in the
shared Arrow stage :func:`~.series.per_series`; the streaming twin
folds the same kernel over losslessly round-tripped bucket arrays and
replays BIT-exactly.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame

from .series import per_series

__all__ = ["AdwinState", "adwin_changes"]


class AdwinState:
    """Exponential-histogram window. Buckets are kept newest-first in
    parallel lists of (sum, sum_of_squares, count); counts are powers
    of two."""

    __slots__ = ("delta", "max_buckets", "sums", "sqs", "counts")

    def __init__(self, delta: float = 0.002, max_buckets: int = 5,
                 sums=None, sqs=None, counts=None):
        if not 0.0 < delta < 1.0:
            raise ValueError(f"adwin: delta must be in (0,1), got {delta}")
        self.delta = float(delta)
        self.max_buckets = int(max_buckets)
        self.sums = list(sums) if sums is not None else []
        self.sqs = list(sqs) if sqs is not None else []
        self.counts = list(counts) if counts is not None else []

    @property
    def n(self) -> int:
        return sum(self.counts)

    @property
    def total(self) -> float:
        return sum(self.sums)

    def _compress(self) -> None:
        # merge the two OLDEST buckets of any size class with more than
        # max_buckets members into one of the next size
        i = 0
        while i < len(self.counts):
            size = self.counts[i]
            j = i
            while j < len(self.counts) and self.counts[j] == size:
                j += 1
            if j - i > self.max_buckets:
                # the two oldest of this class sit at j-1, j-2
                self.sums[j - 2] += self.sums[j - 1]
                self.sqs[j - 2] += self.sqs[j - 1]
                self.counts[j - 2] += self.counts[j - 1]
                del self.sums[j - 1]
                del self.sqs[j - 1]
                del self.counts[j - 1]
                # merged bucket now belongs to the next class; rescan
                # from the start of that class
                i = 0
                continue
            i = j

    def _cut_check(self) -> bool:
        """Drop the oldest bucket while any boundary violates the
        Hoeffding bound. Returns True if anything was dropped."""
        dropped = False
        while len(self.counts) > 1:
            n = self.n
            total = self.total
            if n < 4:
                break
            mean_w = total / n
            var_w = max(sum(self.sqs) / n - mean_w * mean_w, 0.0)
            ln_term = math.log(2.0 * n / self.delta)  # ln(2/delta'), delta'=delta/n
            # walk boundaries from oldest side: n0 accumulates the old part
            n0 = 0
            s0 = 0.0
            cut = False
            for k in range(len(self.counts) - 1, 0, -1):
                n0 += self.counts[k]
                s0 += self.sums[k]
                n1 = n - n0
                s1 = total - s0
                if n0 < 2 or n1 < 2:
                    continue
                m = 1.0 / (1.0 / n0 + 1.0 / n1)
                eps = math.sqrt((2.0 / m) * var_w * ln_term) + (2.0 / (3.0 * m)) * ln_term
                if abs(s0 / n0 - s1 / n1) > eps:
                    cut = True
                    break
            if not cut:
                break
            # drop the single oldest bucket and re-test
            self.sums.pop()
            self.sqs.pop()
            self.counts.pop()
            dropped = True
        return dropped

    def add(self, x: float) -> bool:
        """Insert one value (newest-first). Returns True when the
        window shrank (= drift detected at this element)."""
        self.sums.insert(0, float(x))
        self.sqs.insert(0, float(x) * float(x))
        self.counts.insert(0, 1)
        self._compress()
        return self._cut_check()

    def mean(self) -> float:
        n = self.n
        return self.total / n if n else float("nan")


ADWIN_INIT = ([], [], [])  # bucket sums, sums of squares, counts


def adwin_kernel(state, xs, *, delta: float, max_buckets: int):
    """The ADWIN pass, resumable: ``state`` is the exponential
    histogram's ``(sums, sqs, counts)`` lists after the values already
    seen (:data:`ADWIN_INIT` before any), ``xs`` the next values in
    time order. Returns the new state and, per value, ``(window length,
    window mean, changed)`` after folding it in. :func:`adwin_numpy`
    and the streaming twin both run it."""
    st = AdwinState(delta, max_buckets, *state)
    out = []
    for x in xs:
        if x is None or x != x:
            raise ValueError("adwin_changes: null values in series (fill first)")
        changed = st.add(x)
        out.append((st.n, st.mean(), changed))
    return (st.sums, st.sqs, st.counts), out


def adwin_numpy(y, delta: float, max_buckets: int):
    """:func:`adwin_kernel` over one whole series from its initial
    state, as :func:`adwin_changes` runs it. Returns ``(n, mean,
    change)`` arrays (int64, float64, bool)."""
    import numpy as np

    _, rows = adwin_kernel(
        ADWIN_INIT, np.asarray(y, dtype="float64").tolist(),
        delta=delta, max_buckets=max_buckets,
    )
    n, mean, change = zip(*rows) if rows else ((), (), ())
    return (
        np.array(n, dtype="int64"),
        np.array(mean, dtype="float64"),
        np.array(change, dtype=bool),
    )


def adwin_columns(y, delta, max_buckets):
    """:func:`adwin_changes`' columns for one sorted series ``y``."""
    ns, means, flags = adwin_numpy(y, delta, max_buckets)
    return {"adwin_n": ns, "adwin_mean": means, "adwin_change": flags}


def adwin_changes(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    delta: float = 0.002,
    max_buckets: int = 5,
) -> DataFrame:
    """Per-series ADWIN pass in time order.

    Output per row: series keys + ts + value + ``adwin_n`` (window
    length AFTER processing the row), ``adwin_mean`` (window mean — the
    always-current regime estimate), ``adwin_change`` (the window
    shrank on this row = drift detected). Row count preserved; nulls
    raise (fill first).
    """
    return per_series(
        df, series_cols, ts_col, value_col,
        partial(adwin_columns, delta=delta, max_buckets=max_buckets),
        "adwin_n bigint, adwin_mean double, adwin_change boolean",
        name="adwin_changes",
    )
