"""Graph operators for dedup-group resolution: distributed connected
components over a near-dup pair list.

A pair list (MinHash / SimHash / embedding LSH output) is not yet a
deduplication: transitively-linked docs (A~B, B~C) must collapse into ONE
group with one survivor. That grouping is connected components over the
candidate-pair graph — the step every production dedup pipeline runs
between "pairs" and "drop list".

Algorithm (r8): alternating large-star / small-star edge contraction
(Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
public). Each round rewires every node's neighborhood toward the local
minimum id; connectivity is preserved by construction, and the edge set
converges to disjoint STARS centered on each component's min id in
O(log n) practical rounds (O(log² n) proven) — versus the O(diameter)
rounds of plain min-label propagation, which degrades to a full shuffle
per hop on long-chain graphs. At fixpoint every edge reads
``(member, component_min)`` directly.

Scale (100 TB): each half-round is one groupBy(node) min + one join of
the edge list against that min frame — shuffle keyed on node id, stable
across rounds so AQE reuses the layout; the edge list SHRINKS as stars
form (contraction, not just relabeling). Edge frames are
``localCheckpoint``-ed per round: iterative Spark loops otherwise grow
lineage exponentially. Convergence = the edge set reaches a fixpoint
(count + exceptAll emptiness — two small jobs on the contracted list).
No driver-side graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "connected_components",
    "dedup_group_keep",
    "pagerank",
    "triangle_counts",
]


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 25,
    return_rounds: bool = False,
) -> DataFrame:
    """Resolve connected components of the undirected graph given by the
    ``(id_a, id_b)`` pair list, via large-star/small-star contraction
    (module docstring; Kiveris et al. 2014).

    Returns ``(node, component)`` where ``component`` is the smallest
    node id in the node's component — deterministic, engine-portable
    (equals "min reachable id", which a recursive-CTE oracle can
    replay). ``nodes`` (with ``node_col``) optionally supplies isolated
    vertices that appear in no pair; they come back as singleton
    components. NULL endpoints and self-pairs are dropped from the edge
    list (a NULL id cannot name a component).

    ``return_rounds``: also return the number of star rounds taken —
    O(log n) even on path graphs (test-asserted), where min-label
    propagation needed O(diameter).

    Raises ``RuntimeError`` after ``max_iter`` rounds without a
    fixpoint.
    """
    e = (
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    vertices = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    if nodes is not None:
        if node_col is None:
            raise ValueError("nodes provided without node_col")
        vertices = vertices.unionByName(
            nodes.select(F.col(node_col).alias("node"))
        ).distinct()

    rounds = 0
    for _ in range(max_iter):
        if e.isEmpty():
            break
        rounds += 1
        # LARGE-STAR: per node u over BOTH orientations, connect every
        # strictly-larger neighbor to m = min(N(u) ∪ {u})
        both = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", F.col("u")).alias("m"))
        )
        ls = (
            both.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR: per node u over its smaller neighbors (the (u, v)
        # orientation with v < u holds after large-star), connect them
        # all — and u itself — to the minimum
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("x"), "m")
            .unionByName(mins2.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"),
                F.least("x", "m").alias("v"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if ss.count() == e.count() and ss.exceptAll(e).isEmpty():
            e = ss
            break
        e = ss
    else:
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds"
        )

    # fixpoint = disjoint stars: every edge is (member, component_min)
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    labels = members.unionByName(roots)
    out = (
        vertices.join(labels, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
    if return_rounds:
        return out, rounds
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 40,
    weight_col: str | None = None,
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """PageRank by power iteration over a ``(src, dst)`` edge list —
    the link-graph quality prior of the CommonCrawl-style pipeline
    (harmonic/pagerank centrality of a page's host is a standard
    pretraining quality signal; Brin & Page 1998).

    Semantics: directed graph, duplicate unweighted edges collapse
    (``distinct``); with ``weight_col`` parallel edges fold into one
    summed weight and a node's rank flows out proportionally. Dangling
    nodes (no out-edge) spread their mass uniformly — the standard
    correction, so ranks sum to 1 every round. ``nodes`` adds isolated
    vertices (rank floor ``(1-d)/N``). Stops when the L1 delta drops
    below ``tol``; raises after ``max_iter`` like
    :func:`connected_components`.

    ``fixed_rounds`` runs EXACTLY that many power rounds with no
    tolerance check and no convergence raise — the replayable mode: a
    fixed-round iteration is expressible as chained SQL CTEs, so it can
    carry an exact-value oracle row (the convergence-loop mode stays
    pytest-pinned), and skipping the per-round L1 collect also drops
    driver traffic to one scalar (dangling mass) per round.

    Scale (100 TB of edges): each round is ONE join of the static
    out-degree-annotated edge list against the rank frame on ``src``
    (both hash-partitioned on the same key — AQE reuses the layout) +
    one ``groupBy(dst)`` sum with map-side partials. Driver traffic per
    round is two scalars (dangling mass, L1 delta). Rank frames are
    ``localCheckpoint``-ed so lineage stays flat across rounds.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"pagerank: damping must be in (0,1), got {damping}")
    if weight_col is None:
        e = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        ).distinct().withColumn("w", F.lit(1.0))
    else:
        e = (
            edges.groupBy(
                F.col(src).alias("src"), F.col(dst).alias("dst")
            )
            .agg(F.sum(F.col(weight_col).cast("double")).alias("w"))
            .where(F.col("w") > 0)
        )
    out_w = e.groupBy("src").agg(F.sum("w").alias("__out"))
    # static per-edge share of the source's outflow; one-time join
    shares = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("__out")).alias("share")
    ).localCheckpoint(eager=True)

    vertices = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if nodes is not None:
        if node_col is None:
            raise ValueError("nodes provided without node_col")
        vertices = vertices.unionByName(
            nodes.select(F.col(node_col).alias("node"))
        ).distinct()
    n = vertices.count()
    if n == 0:
        return vertices.withColumn("rank", F.lit(0.0))
    has_out = out_w.select(F.col("src").alias("node")).withColumn(
        "__has_out", F.lit(1)
    )
    ranks = (
        vertices.join(has_out, "node", "left")
        .select(
            "node",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce("__has_out", F.lit(0)).alias("__has_out"),
        )
        .localCheckpoint(eager=True)
    )

    base = (1.0 - damping) / n
    n_rounds = max_iter if fixed_rounds is None else int(fixed_rounds)
    for _round in range(n_rounds):
        dangling = (
            ranks.where(F.col("__has_out") == 0).agg(F.sum("rank")).collect()[0][0]
            or 0.0
        )
        contrib = (
            shares.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("share") * F.col("rank")).alias("__in"))
        )
        updated = (
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                F.lit(base
                      + damping * dangling / n).alias("__c"),
                F.coalesce("__in", F.lit(0.0)).alias("__in"),
                "rank",
                "__has_out",
            )
            .select(
                "node",
                (F.col("__c") + F.lit(damping) * F.col("__in")).alias("rank"),
                F.abs(
                    F.col("__c") + F.lit(damping) * F.col("__in") - F.col("rank")
                ).alias("__delta"),
                "__has_out",
            )
            .localCheckpoint(eager=True)
        )
        if fixed_rounds is not None:
            ranks = updated.drop("__delta")
            continue
        delta = updated.agg(F.sum("__delta")).collect()[0][0] or 0.0
        ranks = updated.drop("__delta")
        if delta < tol:
            return ranks.drop("__has_out")
    if fixed_rounds is not None:
        return ranks.drop("__has_out")
    raise RuntimeError(
        f"pagerank: not converged after {max_iter} rounds (l1 delta {delta:.2e})"
    )


def dedup_group_keep(
    components: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    keep_col: str = "group_keep",
) -> DataFrame:
    """Survivor flag per node: keep exactly the min-id member of each
    component (which IS the component label, so this is a map-side
    comparison — no extra shuffle)."""
    return components.withColumn(
        keep_col, (F.col(node_col) == F.col(comp_col)).cast("int")
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient via
    DEGREE-ORDERED edge orientation (Cohen 2009, "Graph Twiddling in a
    MapReduce World"; Suri & Vassilvitskii WWW'11) — the standard
    distributed triangle algorithm.

    On a near-dup pair graph this is the cluster-density signal: a dup
    GROUP (connected component) with clustering ~1 is a clique of mutual
    near-copies (one survivor suffices), while a low-coefficient hub is
    chain/boilerplate linkage that transitive grouping may be
    over-collapsing — the classic dedup-quality diagnostic on top of
    :func:`connected_components`.

    Semantics: the input pair list is canonicalized first (NULLs and
    self-loops dropped, undirected dedup as (min,max)); ``triangles`` is
    the number of distinct triangles containing the node;
    ``clustering`` = 2*T / (deg*(deg-1)) with 0.0 when deg < 2 — one
    division of exact integers, so the value is engine-portable without
    rounding. ``nodes``/``node_col`` optionally adds isolated vertices
    (deg 0, coefficient 0.0), mirroring :func:`connected_components`.

    Why it scales: orienting every undirected edge from its
    lower-(degree, id) endpoint to the higher one makes each triangle
    countable EXACTLY once, at its lowest-ordered corner, and bounds
    every node's out-degree by O(sqrt(m)) — the wedge self-join
    (out-neighbors x out-neighbors per apex) is therefore O(m^1.5)
    total work instead of the O(sum deg^2) a naive wedge count pays on
    skewed graphs (a 1M-degree boilerplate hub contributes ~nothing as
    an apex because almost all its edges point INTO it). Shuffle budget:
    one groupBy for degrees, two key joins to attach them, one
    self-join on the apex, one join to close wedges, one explode +
    groupBy for per-node counts — all on node/edge keys, no driver
    state, no iteration.
    """
    e = edges.select(
        F.col(id_a).cast("bigint").alias("a"),
        F.col(id_b).cast("bigint").alias("b"),
    ).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
    )
    # pinned (r15): the plan below references ``und`` ~17 times through
    # the deg/oriented/wedge/closer chain, so an un-pinned input lineage
    # is re-planned (and, past ReusedExchange's reach, re-executed) that
    # many times per action — q_minhash_pairs_md5's initial plan carried
    # 154 redundant scans through exactly this operator. ``persist()``
    # plans the lineage once and every reference reads the cached
    # relation; unlike an eager localCheckpoint it runs no job while the
    # plan is built (the first action fills it) and a lost block is
    # recomputed from lineage. O(m) thin rows, values unchanged.
    und = e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct().persist()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wd = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")), "v"
    )
    # total order: (degree, id) — orient low -> high; ties impossible
    # (id is unique). Carry the dst's order key for the wedge filter.
    src_first = F.struct("deg_u", "u") < F.struct("deg_v", "v")
    oriented = wd.select(
        F.when(src_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(src_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(src_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias(
            "deg_dst"
        ),
        # pinned (r15): referenced 3x (both wedge sides + the closing
        # edge); see the ``und`` pin above
    ).persist()
    w1 = oriented.select(
        "src", F.col("dst").alias("x"), F.col("deg_dst").alias("dx")
    )
    w2 = oriented.select(
        "src", F.col("dst").alias("y"), F.col("deg_dst").alias("dy")
    )
    # wedge (x, y) at apex src, x strictly below y in the total order —
    # the closing edge, if present, is then oriented exactly x -> y.
    wedges = (
        w1.join(w2, "src")
        .filter(F.struct("dx", "x") < F.struct("dy", "y"))
        .select("src", "x", "y")
    )
    closer = oriented.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tris = wedges.join(closer, ["x", "y"])
    per_node = (
        tris.select(
            F.explode(F.array("src", "x", "y")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .na.fill({"triangles": 0})
    )
    if nodes is not None:
        if node_col is None:
            raise ValueError("triangle_counts: nodes requires node_col")
        iso = (
            nodes.select(F.col(node_col).cast("bigint").alias("node"))
            .distinct()
            .join(out.select("node"), "node", "left_anti")
            .select(
                "node",
                F.lit(0).cast("bigint").alias("deg"),
                F.lit(0).cast("bigint").alias("triangles"),
            )
        )
        out = out.unionByName(iso)
    return out.select(
        "node",
        F.col("deg").cast("bigint").alias("deg"),
        F.col("triangles").cast("bigint").alias("triangles"),
        F.when(F.col("deg") >= 2,
               F.lit(2) * F.col("triangles")
               / (F.col("deg") * (F.col("deg") - F.lit(1))))
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
