"""Isolation Forest: bounded driver-side fit + broadcast Arrow scoring.

Liu, Ting & Zhou, "Isolation Forest" (ICDM 2008) / "Isolation-Based
Anomaly Detection" (TKDD 2012): anomalies are few-and-different, so a
random tree isolates them in FEWER splits than normal points. The
anomaly score is ``2^(-E[h(x)] / c(psi))`` where ``h`` is the path
length (plus the ``c(size)`` adjustment at unexpanded leaves) and
``c(n) = 2 H(n-1) - 2 (n-1)/n`` is the mean BST unsuccessful-search
depth. This is the multivariate complement to the per-series battery
in ``operators.anomaly`` — it needs no labels, no distribution
assumptions and no time ordering (beyond-reference extension; the
reference's multivariate path is the reconstruction-error AE only).

Engine shape — the repo's standard tiny-model pattern (same as
``inference.fit_linear_ae`` / ``classifier``):

- **fit** is driver-side on a BOUNDED deterministic sample (the iForest
  paper's core point is that psi = 256 subsamples per tree already
  saturate accuracy — a bigger fit set buys nothing, so a bounded
  sample is the honest 100 TB design, not a shortcut). Each of the
  ``n_trees`` trees draws its own psi-subsample from the pool with a
  seeded generator; trees are flattened to numpy arrays.
- **score** broadcasts the flattened forest inside one Arrow-batched
  ``mapInPandas`` and routes ALL rows of a batch through each tree
  level-by-level (vectorized over the batch; depth is <= ceil(log2
  psi) by construction, so <= ~8 vector ops per tree). Map-only: no
  shuffle, no driver data pass, scales linearly with the scan.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame

from ..functions.sqltext import ddl, ident

__all__ = ["IsolationForestModel", "isolation_forest_fit", "isolation_forest_score", "c_factor"]

_EULER_GAMMA = 0.5772156649015329


def c_factor(n: int) -> float:
    """Mean unsuccessful-search path length in a BST of n points —
    the normalizer c(n) from Liu et al. eq. 1."""
    if n <= 1:
        return 0.0
    if n == 2:
        return 1.0
    h = math.log(n - 1) + _EULER_GAMMA
    return 2.0 * h - 2.0 * (n - 1) / n


class IsolationForestModel:
    """Flattened forest: per tree, parallel arrays indexed by node id —
    ``feature`` (-1 at leaves), ``thresh``, ``left``/``right`` child
    ids, ``size`` (points reaching the node; used for the c(size) leaf
    adjustment). Plus ``psi`` (subsample size) for the score
    normalizer."""

    def __init__(self, trees, psi: int, n_features: int):
        self.trees = trees  # list of dicts of numpy arrays
        self.psi = int(psi)
        self.n_features = int(n_features)

    def path_lengths(self, x):
        """E[h(x)] over the forest for x (n, d). Vectorized per tree:
        route the whole batch level by level."""
        import numpy as np

        n = x.shape[0]
        total = np.zeros(n)
        for t in self.trees:
            feat, thr, left, right, size = (
                t["feature"], t["thresh"], t["left"], t["right"], t["size"],
            )
            if "c_adj" not in t:  # per-node c(size), computed once per tree
                t["c_adj"] = np.array([c_factor(int(s)) for s in size])
            node = np.zeros(n, dtype="int64")
            depth = np.zeros(n)
            active = feat[node] >= 0
            while active.any():
                idx = np.where(active)[0]
                cur = node[idx]
                go_left = x[idx, feat[cur]] < thr[cur]
                node[idx] = np.where(go_left, left[cur], right[cur])
                depth[idx] += 1.0
                active[idx] = feat[node[idx]] >= 0
            total += depth + t["c_adj"][node]
        return total / len(self.trees)

    def scores(self, x):
        import numpy as np

        e = self.path_lengths(x)
        return np.power(2.0, -e / c_factor(self.psi))


def _build_tree(x, rng, max_depth):
    """One isolation tree over sample x (psi, d) as flat arrays."""
    import numpy as np

    feature, thresh, left, right, size = [], [], [], [], []

    def node(idx, depth):
        nid = len(feature)
        feature.append(-1)
        thresh.append(0.0)
        left.append(-1)
        right.append(-1)
        size.append(len(idx))
        if depth >= max_depth or len(idx) <= 1:
            return nid
        sub = x[idx]
        spans = sub.max(axis=0) - sub.min(axis=0)
        nonconst = np.where(spans > 0)[0]
        if len(nonconst) == 0:
            return nid
        f = int(rng.choice(nonconst))
        lo, hi = float(sub[:, f].min()), float(sub[:, f].max())
        s = float(rng.uniform(lo, hi))
        go_left = sub[:, f] < s
        feature[nid] = f
        thresh[nid] = s
        left[nid] = node(idx[go_left], depth + 1)
        right[nid] = node(idx[~go_left], depth + 1)
        return nid

    node(np.arange(len(x)), 0)
    return {
        "feature": np.asarray(feature, dtype="int64"),
        "thresh": np.asarray(thresh, dtype="float64"),
        "left": np.asarray(left, dtype="int64"),
        "right": np.asarray(right, dtype="int64"),
        "size": np.asarray(size, dtype="int64"),
    }


def isolation_forest_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    n_trees: int = 100,
    psi: int = 256,
    pool_rows: int = 4096,
    seed: int = 7,
    order_cols: Sequence[str] | None = None,
) -> IsolationForestModel:
    """Fit on a bounded pool: ``limit(pool_rows)`` (CollectLimit — the
    cheap, repeatable-on-static-source path) or, with ``order_cols``,
    a fully config-deterministic ``orderBy().limit()``. Each tree
    subsamples ``psi`` pool rows without replacement with a seeded
    generator, so the fit is reproducible given the same pool."""
    import numpy as np

    if n_trees < 1:
        raise ValueError(f"isolation_forest_fit: n_trees must be >= 1, got {n_trees}")
    cols = list(feature_cols)
    base = df.select(*cols).dropna()
    if order_cols:
        pdf = base.orderBy(*[str(c) for c in order_cols]).limit(int(pool_rows)).toPandas()
    else:
        pdf = base.limit(int(pool_rows)).toPandas()
    x = pdf.to_numpy(dtype="float64")
    if len(x) < 2:
        raise ValueError("isolation_forest_fit: need at least 2 non-null rows")
    psi = min(int(psi), len(x))
    max_depth = int(math.ceil(math.log2(max(psi, 2))))
    rng = np.random.default_rng(int(seed))
    trees = []
    for _ in range(int(n_trees)):
        pick = rng.choice(len(x), size=psi, replace=False)
        trees.append(_build_tree(x[pick], rng, max_depth))
    return IsolationForestModel(trees, psi, len(cols))


def isolation_forest_score(
    df: DataFrame,
    model: IsolationForestModel,
    feature_cols: Sequence[str],
    score_col: str = "if_score",
    threshold: float | None = 0.6,
    flag_col: str = "if_flag",
) -> DataFrame:
    """Score every row: ``score_col`` in (0, 1] (higher = more
    isolated = more anomalous; 0.5 is the "no structure" point per the
    paper) and, with ``threshold``, a boolean ``flag_col``. Null
    features score null. Map-only Arrow pass — the forest rides the
    closure into the executors once per task."""
    cols = list(feature_cols)
    out_schema = f"{ddl(df.schema, df.columns)}, {ident(score_col)} double"
    if threshold is not None:
        out_schema += f", {ident(flag_col)} boolean"
    thr = threshold

    def score(batches):
        import numpy as np

        for pdf in batches:
            sub = pdf[cols].to_numpy(dtype="float64")
            ok = ~np.isnan(sub).any(axis=1)
            s = np.full(len(pdf), np.nan)
            if ok.any():
                s[ok] = model.scores(sub[ok])
            out = pdf.copy()
            out[score_col] = s
            if thr is not None:
                out[flag_col] = np.where(np.isnan(s), None, s > float(thr))
            yield out

    return df.mapInPandas(score, out_schema)
