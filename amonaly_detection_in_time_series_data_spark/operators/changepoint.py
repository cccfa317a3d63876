"""Changepoint detection: PELT with the Gaussian mean-shift cost.

Killick, Fearnhead & Eckley, "Optimal Detection of Changepoints With a
Linear Computational Cost" (JASA 2012): exact penalized-likelihood
segmentation — the same optimum as the O(n^2) dynamic program — with
candidate pruning that makes the expected cost linear when changes are
frequent. Level shifts are the anomaly class that point-wise z-scores
and rolling windows handle worst; a segmentation makes them explicit
(beyond-reference extension next to Page-Hinkley in
``operators.anomaly``, which detects A change online; PELT recovers
ALL of them retrospectively and optimally).

Cost: within-segment sum of squared deviations from the segment mean
(the Gaussian mean-shift cost), computed O(1) per candidate from
prefix sums. Default penalty: ``2 * sigma2 * log(n)`` with ``sigma2``
the Hall difference estimator ``mean(diff(y)^2) / 2`` — robust to the
very mean shifts being hunted (a plain variance would absorb them).

Execution: the DP is sequential per series, so numpy inside ONE
Arrow-batched ``applyInPandas`` per series group; one shuffle on the
series key, parallelism = series count. Exactness is pinned in tests
against the unpruned O(n^2) dynamic program (same optimum by
construction — Killick et al. Thm 3.1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..functions.sqltext import ddl

__all__ = ["pelt_changepoints", "pelt_numpy", "opt_partition_numpy"]


def _prefix_cost(y):
    """O(1) segment-SSE oracle from prefix sums, numerically stabilized.

    The textbook two-pass form ``(cs2[t]-cs2[s]) - (cs[t]-cs[s])^2/n``
    over RAW prefix sums cancels catastrophically: a constant level
    shift inflates the prefixes while segment SSEs stay tiny, and the
    ~scale^2 * eps differencing error can flip near-tie partitions
    (shift invariance is the cost's defining property, so that is a
    real defect, not noise). Two stabilizations, both exact in real
    arithmetic:

    - center the series first (``y - mean(y)``) — SSE around a segment
      mean is invariant to a global shift by construction, and
      centering makes the float computation on ``y`` and ``y + b``
      operate on nearly bit-identical arrays, so their rounding errors
      correlate instead of diverging;
    - accumulate in ``np.longdouble`` (80-bit extended on linux/x86,
      eps ~1e-19) so residual differencing error sits ~3 orders below
      float64 near-tie gaps.
    """
    import numpy as np

    y = np.asarray(y, dtype=np.longdouble)
    y = y - y.mean()
    cs = np.concatenate([[np.longdouble(0.0)], np.cumsum(y)])
    cs2 = np.concatenate([[np.longdouble(0.0)], np.cumsum(y * y)])

    def cost(s, t):
        # SSE of y[s:t] around its mean; t > s
        n = t - s
        tot = cs[t] - cs[s]
        return (cs2[t] - cs2[s]) - tot * tot / n

    return cost, float(cs2[-1])


def _tie_tol(sse_scale: float, n: int, beta: float) -> float:
    """Comparison tolerance for the DP: a candidate must beat the
    incumbent by MORE than this to displace it, and pruning keeps
    anything within it. Sized at ~64 n eps_longdouble x the cost
    magnitudes, i.e. orders above the arithmetic's rounding noise and
    orders below any decision a user could care about.

    Why: EXACT cost ties exist (a spike [0, 5] costs the same paired
    with its left or right neighbor), and at a true tie no precision
    makes the float comparison shift-invariant — the ~1-ulp centering
    noise of ``y`` vs ``y + b`` picks a side. Banding ties and breaking
    them deterministically (first candidate in order wins; candidate
    order is shift-invariant) restores invariance; a strictly better
    partition still wins whenever its margin exceeds the band, which is
    ~1e-13-relative — the r10 pinned counterexample's 1.1e-12 gap
    decides strictly."""
    import numpy as np

    eps = float(np.finfo(np.longdouble).eps)
    return 64.0 * eps * n * (sse_scale + n * abs(beta) + 1.0)


def _default_penalty(y):
    import numpy as np

    n = len(y)
    if n < 3:
        return 1.0
    d = np.diff(y)
    sigma2 = float(np.mean(d * d) / 2.0)
    return max(2.0 * sigma2 * np.log(n), 1e-12)


def pelt_numpy(y, penalty=None, min_size=2):
    """PELT segmentation of a 1-D array. Returns the sorted list of
    changepoint indices (each index t means a new segment starts at t;
    excludes 0 and n)."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    if n < 2 * min_size:
        return []
    beta = np.longdouble(_default_penalty(y) if penalty is None else float(penalty))
    cost, sse_scale = _prefix_cost(y)
    tol = _tie_tol(sse_scale, n, float(beta))
    # F[t] = optimal penalized cost of y[0:t]; F[0] = -beta so the
    # first segment does not pay a penalty. Extended precision to
    # match _prefix_cost; tie-banded comparisons (see _tie_tol) so
    # exact-tie partitions resolve shift-invariantly.
    F = np.full(n + 1, np.inf, dtype=np.longdouble)
    F[0] = -beta
    prev = np.zeros(n + 1, dtype="int64")
    cands = [0]
    for t in range(min_size, n + 1):
        best, arg = np.inf, 0
        for s in cands:
            if t - s < min_size:
                continue
            v = F[s] + cost(s, t) + beta
            if v < best - tol:
                best, arg = v, s
        F[t] = best
        prev[t] = arg
        # prune: keep s only if it can still win for some t' > t
        # (candidates too young to evaluate are kept until they can be;
        # within-tol candidates are kept — conservative, so pruning can
        # never remove a tie the unpruned DP would select)
        cands = [
            s for s in cands
            if t - s < min_size or F[s] + cost(s, t) <= F[t] + tol
        ]
        cands.append(t)
    # backtrack
    cps = []
    t = n
    while t > 0:
        s = int(prev[t])
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def opt_partition_numpy(y, penalty=None, min_size=2):
    """Unpruned O(n^2) optimal-partition DP — the reference
    implementation PELT must match exactly (tests only)."""
    import numpy as np

    y = np.asarray(y, dtype="float64")
    n = len(y)
    if n < 2 * min_size:
        return []
    beta = np.longdouble(_default_penalty(y) if penalty is None else float(penalty))
    cost, sse_scale = _prefix_cost(y)
    tol = _tie_tol(sse_scale, n, float(beta))
    F = np.full(n + 1, np.inf, dtype=np.longdouble)
    F[0] = -beta
    prev = np.zeros(n + 1, dtype="int64")
    for t in range(min_size, n + 1):
        for s in range(0, t - min_size + 1):
            if not np.isfinite(F[s]):
                continue
            v = F[s] + cost(s, t) + beta
            if v < F[t] - tol:
                F[t] = v
                prev[t] = s
    cps = []
    t = n
    while t > 0:
        s = int(prev[t])
        if s > 0:
            cps.append(s)
        t = s
    return sorted(cps)


def pelt_changepoints(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_cols: Sequence[str],
    penalty: float | None = None,
    min_size: int = 2,
) -> DataFrame:
    """Per-series PELT mean-shift segmentation.

    Output: one row per SEGMENT — series keys + ``seg_id`` (0-based),
    ``seg_start_ts`` / ``seg_end_ts`` (inclusive), ``seg_n``,
    ``seg_mean``, and ``is_changepoint`` (false only for the first
    segment). ``penalty=None`` uses the difference-estimator default
    documented in the module docstring.

    Input contract: null-free values, unique timestamps per series.
    """
    if min_size < 1:
        raise ValueError(f"pelt_changepoints: min_size must be >= 1, got {min_size}")
    keys = list(series_cols)
    out_schema = (
        f"{ddl(df.schema, keys)}, seg_id int, "
        + ddl(df.schema, {"seg_start_ts": ts_col, "seg_end_ts": ts_col})
        + ", seg_n int, seg_mean double, is_changepoint boolean"
    )

    def segment(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        if pdf[ts_col].duplicated().any():
            raise ValueError("pelt_changepoints: duplicate timestamps in a series")
        y = pdf[value_col].to_numpy(dtype="float64")
        if np.isnan(y).any():
            raise ValueError("pelt_changepoints: null values in series (fill first)")
        n = len(y)
        if n == 0:
            bounds = []
        else:
            cps = pelt_numpy(y, penalty=penalty, min_size=min_size)
            bounds = [0] + list(cps) + [n]
        rows = []
        ts = pdf[ts_col]
        first = pdf[keys].iloc[0] if n else None
        for i in range(len(bounds) - 1):
            s, t = bounds[i], bounds[i + 1]
            rows.append(
                {
                    **{k: first[k] for k in keys},
                    "seg_id": i,
                    "seg_start_ts": ts.iloc[s],
                    "seg_end_ts": ts.iloc[t - 1],
                    "seg_n": t - s,
                    "seg_mean": float(np.mean(y[s:t])),
                    "is_changepoint": i > 0,
                }
            )
        if not rows:
            return pd.DataFrame(
                columns=[*keys, "seg_id", "seg_start_ts", "seg_end_ts", "seg_n", "seg_mean", "is_changepoint"]
            )
        return pd.DataFrame(rows)

    return (
        df.select(*keys, ts_col, value_col)
        .groupBy(*keys)
        .applyInPandas(segment, out_schema)
    )
