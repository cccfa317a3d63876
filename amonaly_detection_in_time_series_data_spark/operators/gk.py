"""Greenwald-Khanna epsilon-approximate quantile sketch.

Greenwald & Khanna, "Space-Efficient Online Computation of Quantile
Summaries" (SIGMOD 2001): a summary of tuples ``(v, g, delta)`` that
answers any quantile within ``eps * n`` RANK error using
O((1/eps) * log(eps * n)) space — the classic deterministic-guarantee
quantile sketch (Spark's own ``approx_percentile`` is the GK variant
of Manku et al.). This module gives the engine a PER-KEY STREAMING
quantile: the batch side already has exact ``percentile`` and t-digest
``approx_percentile``; what they can't do is maintain a per-key
quantile ONLINE with bounded state — the p99-latency-per-service
monitoring shape — which is exactly what the
``streaming.rolling.streaming_quantiles`` twin does with this sketch
as its persisted state.

Invariants (asserted in tests): sum(g) == n; for every tuple,
g + delta <= floor(2 * eps * n) + 1 (the GK correctness condition);
query rank error <= eps * n, measured against exact quantiles on
random replays.
"""

from __future__ import annotations

import math

__all__ = ["GKSketch"]


class GKSketch:
    """Tuples kept value-sorted in parallel lists ``vs`` / ``gs`` /
    ``ds``. ``n`` is the total insert count."""

    __slots__ = ("eps", "vs", "gs", "ds", "n")

    def __init__(self, eps: float = 0.01, vs=None, gs=None, ds=None, n: int = 0):
        if not 0.0 < eps < 0.5:
            raise ValueError(f"gk: eps must be in (0, 0.5), got {eps}")
        self.eps = float(eps)
        self.vs = list(vs) if vs is not None else []
        self.gs = [int(g) for g in gs] if gs is not None else []
        self.ds = [int(d) for d in ds] if ds is not None else []
        self.n = int(n)

    def insert(self, v: float) -> None:
        import bisect

        v = float(v)
        i = bisect.bisect_left(self.vs, v)
        if i == 0 or i == len(self.vs):
            delta = 0  # new min/max carry no uncertainty
        else:
            delta = max(int(math.floor(2.0 * self.eps * self.n)) - 1, 0)
        self.vs.insert(i, v)
        self.gs.insert(i, 1)
        self.ds.insert(i, delta)
        self.n += 1
        # the schedule is keyed on n, not on inserts since construction,
        # so a sketch restored from (vs, gs, ds, n) compresses exactly
        # where the uninterrupted one would
        if self.n % int(1.0 / (2.0 * self.eps)) == 0:
            self._compress()

    def _compress(self) -> None:
        cap = int(math.floor(2.0 * self.eps * self.n))
        i = len(self.vs) - 2
        while i >= 1:  # never merge away the minimum (index 0)
            if self.gs[i] + self.gs[i + 1] + self.ds[i + 1] <= cap:
                self.gs[i + 1] += self.gs[i]
                del self.vs[i]
                del self.gs[i]
                del self.ds[i]
            i -= 1

    def query(self, q: float) -> float:
        """Value whose rank is within eps*n of ceil(q*n)."""
        if not self.vs:
            return float("nan")
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"gk: quantile must be in [0,1], got {q}")
        target = math.ceil(q * self.n)
        bound = target + self.eps * self.n
        rmin = 0
        for i in range(len(self.vs)):
            rmin += self.gs[i]
            if rmin + self.ds[i] > bound:
                return self.vs[max(i - 1, 0)]
        return self.vs[-1]

    def size(self) -> int:
        return len(self.vs)
