"""Product quantization (PQ) ANN tier — the compressed-codes vector
search used at extreme corpus scale (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search"; the FAISS IVF-PQ layout).

Why a third ANN tier next to LSH and IVF (operators/similarity.py): at
100 TB of float32 embeddings the vectors themselves are the cost — PQ
stores each vector as ``m`` one-byte codes (here m=8 ints: 32x-256x
compression), and query scoring reads ONLY the codes plus a per-query
lookup table, never the original vectors. The corpus-side layout is a
plain int-array column: scan-friendly, partition-prunable when combined
with the IVF coarse lists.

Division of labor (all engine-portable / deterministic):

- **Train** (:func:`pq_train`): per-subspace k-means via seeded numpy
  Lloyd iterations on a bounded, ``order_cols``-deterministic sample —
  the FAISS convention (codebooks are trained on a sample everywhere);
  driver state is m*k*(d/m) floats (~1k doubles here).
- **Encode** (:func:`pq_encode`): pure Catalyst — per subspace, distances
  to the k centroids (one nested codebook literal) and ``array_position``
  argmin. Map-only: encoding rides the scan, no shuffle, no Python.
- **Search** (:func:`pq_topk`): asymmetric distance computation (ADC) —
  each query row materializes its m x k lookup table ONCE (map-side on
  the tiny query table, from the same codebook literal), the query batch
  broadcasts, and the corpus side scores each code word with
  ``Σ_j lut[j][code_j]`` — an O(m) per-row aggregate over the already-
  encoded codes. No corpus shuffle; ranking is the usual per-query
  top-k window over candidates.

Every stage L2-normalizes its input vectors, and L2 ADC over
normalized vectors ranks identically to cosine (||a-b||² = 2-2cosθ),
which keeps this tier comparable with the brute/LSH/IVF cosine tiers in
recall tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.functions.vectors import (
    l2_normalize,
    nested_double_literal,
)

__all__ = ["pq_train", "pq_encode", "pq_topk", "ivf_pq_topk"]


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    sample_rows: int = 2048,
    order_cols: list[str] | None = None,
    n_iter: int = 20,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the d-dim space into ``m`` subspaces and
    run seeded Lloyd k-means (k centroids each) on a bounded sample.

    Returns ``codebooks[m][k][d/m]`` (plain Python floats — the whole
    model is ~m*k*(d/m) doubles of driver state, broadcast as one
    literal by encode/search). Deterministic given ``order_cols``.
    """
    v = l2_normalize(F.col(vec_col))
    s = df.select(v.alias("__v"))
    if order_cols:
        s = df.orderBy(*order_cols).select(v.alias("__v"))
    x = np.array(s.limit(sample_rows).toPandas()["__v"].tolist(), dtype=np.float64)
    if x.size == 0:
        raise ValueError("pq_train: empty fit frame (no vectors to train on)")
    n, d = x.shape
    if n < k:
        raise ValueError(f"pq_train: fit sample has {n} rows < k={k} centroids")
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books.append([[float(t) for t in row] for row in cent])
    return books


def _sub(vec: Column, j: int, dsub: int) -> Column:
    return F.slice(vec, j * dsub + 1, dsub)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``array<int>`` PQ codes — map-only Catalyst.

    Per subspace j: squared distances to the k centroids (codebook rides
    ONE nested literal), argmin via ``array_position(d, array_min(d))``.
    """
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    v = l2_normalize(F.col(vec_col))
    d = df.withColumn("__nv", v)
    nv = F.col("__nv")

    # Expression-engineering notes (SCALING.md §1b, both alternatives
    # measured): each subspace tree embeds ONLY its own k x dsub
    # codebook slice (sliced in Python) — embedding the full
    # [m][k][dsub] literal in every tree multiplied analysis/codegen
    # work m-fold (~16 s fixed cost at m=16,k=64; execution was 0.2 s).
    # Folding the m-loop into one outer HOF instead makes the codebook
    # lookup non-constant-foldable (j becomes a lambda variable) and
    # the interpreted path re-evaluates the CreateArray literal tree
    # per element — measured as a multi-minute hang. Constant j keeps
    # element_at(cb_j, c+1) foldable to an O(1) Literal lookup.
    def code_for(j: int) -> Column:
        cbj = nested_double_literal(codebooks[j])  # [k][dsub]
        sub = _sub(nv, j, dsub)
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    sub,
                    F.element_at(cbj, c + 1),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    codes = F.array(*[code_for(j) for j in range(m)])
    return d.withColumn(code_col, codes).drop("__nv")


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    rerank_with: DataFrame | None = None,
    shortlist: int = 50,
) -> DataFrame:
    """ADC top-k: score every corpus code word against each query's
    lookup table; return per-query top-k by ascending approximate L2.

    The LUT (m x k squared distances query-subvector -> centroid) is
    built map-side ON the query rows from the codebook literal, then the
    query batch (ids + LUTs only — the query vectors never reach the
    corpus side) broadcasts. Corpus cost: O(m) ``element_at`` lookups per
    row over the int codes. One window shuffle for the final ranking.

    ``rerank_with``: the FAISS-style two-stage search — take the ADC
    top-``shortlist`` per query, fetch ONLY those vectors from the given
    ``(id_col, vec_col)`` frame (the shortlist is n_queries*shortlist
    rows — it broadcasts; the full corpus is never re-read into the
    ranking), score exact cosine, and return the top-k by it. This is
    how PQ is used in production: codes prune 99.9%+ of the corpus,
    exact math decides the final order. Output column becomes
    ``cosine`` (descending) instead of ``adc_dist``.
    """
    m = len(codebooks)
    kcent = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = nested_double_literal(codebooks)
    qv = l2_normalize(F.col(vec_col))
    qn = queries.select(
        F.col(id_col).alias(query_id_col), qv.alias("__qv")
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(kcent - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    F.element_at(F.element_at(cb, j + 1), c + 1),
                    F.slice(F.col("__qv"), j * dsub + 1, dsub),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    qlut = qn.select(query_id_col, "__qv", lut.alias("__lut"))

    code = F.col(code_col)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("__lut"), j + 1),
            F.element_at(code, j + 1) + 1,
        ),
    )
    # The ranking shuffle carries ONLY (query_id, neighbor_id, dist) —
    # never __qv: a d-dim double array per candidate row would multiply
    # the shuffle payload ~50x. The query vectors are re-attached to the
    # (tiny) shortlist afterward via a broadcast of the query batch.
    scored = (
        corpus_codes.crossJoin(F.broadcast(qlut.drop("__qv")))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 8).alias("adc_dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_with is None:
        return ranked.filter(F.col("rank") <= k)

    from amonaly_detection_in_time_series_data_spark.functions.vectors import (
        cosine_similarity,
    )

    short = (
        ranked.filter(F.col("rank") <= shortlist)
        .select(query_id_col, "neighbor_id")
        .join(F.broadcast(qn.select(query_id_col, "__qv")), query_id_col)
    )
    vecs = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    exact = (
        vecs.join(F.broadcast(short), "neighbor_id")
        .select(
            query_id_col,
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("__cv"), F.col("__qv")), 8
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    inv_codes: DataFrame,
    cent_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    query_id_col: str = "query_id",
    rerank_with: DataFrame | None = None,
    shortlist: int = 50,
    static_prune: bool = False,
) -> DataFrame:
    """The composed FAISS IVF-PQ search: per query, probe the
    ``n_probe`` nearest coarse lists (centroids broadcast), ADC-score
    ONLY the codes in those lists, then (optionally) exact-rerank the
    shortlist.

    ``inv_codes``: :func:`pq_encode` applied to ``ivf_build_index``'s
    inverted lists — ``(id, __list, pq_code)``. The per-query candidate
    set is ``n_probe/n_clusters`` of the corpus, and each candidate
    costs O(m) code lookups — the two prunes multiply, which is the
    IVF-PQ point. The probe/LUT table (n_queries rows) broadcasts; the
    corpus side joins on ``__list`` map-side with no shuffle of codes.

    ``static_prune=True``: as in ``similarity.ivf_query_index`` — run
    the (tiny) probe eagerly, collect the distinct probed list ids and
    push a literal ``__list IN (...)`` onto the code scan; against a
    ``partitionBy('__list')`` parquet code sink this becomes a STATIC
    PartitionFilter, so unprobed lists are never read from storage
    (plan-asserted in tests). That is the 100 TB deployment shape:
    partition-pruned coarse lists x 32x-compressed codes x O(m) ADC.
    """
    from amonaly_detection_in_time_series_data_spark.functions.vectors import (
        cosine_similarity,
    )

    m = len(codebooks)
    kcent = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = nested_double_literal(codebooks)
    qv = l2_normalize(F.col(vec_col))
    qn = queries.select(F.col(id_col).alias(query_id_col), qv.alias("__qv"))

    probe = qn.crossJoin(F.broadcast(cent_df)).withColumn(
        "__cs", cosine_similarity(F.col("__qv"), F.col("__centroid"))
    )
    wp = Window.partitionBy(query_id_col).orderBy(
        F.col("__cs").desc(), F.col("__list").asc()
    )
    probed = (
        probe.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, "__qv", "__list")
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(kcent - 1)),
            lambda c: F.aggregate(
                F.zip_with(
                    F.element_at(F.element_at(cb, j + 1), c + 1),
                    F.slice(F.col("__qv"), j * dsub + 1, dsub),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    plut = probed.select(query_id_col, "__list", lut.alias("__lut"))
    if static_prune:
        lists = [
            r["__list"] for r in probed.select("__list").distinct().collect()
        ]
        inv_codes = inv_codes.filter(
            F.col("__list").isin(*lists) if lists else F.lit(False)
        )

    code = F.col(code_col)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("__lut"), j + 1),
            F.element_at(code, j + 1) + 1,
        ),
    )
    # As in pq_topk: the candidate rows and the ranking shuffle carry
    # ids + dist only; query vectors rejoin on the shortlist (broadcast).
    scored = (
        inv_codes.join(F.broadcast(plut), "__list")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(dist, 8).alias("adc_dist"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank_with is None:
        return ranked.filter(F.col("rank") <= k)
    short = (
        ranked.filter(F.col("rank") <= shortlist)
        .select(query_id_col, "neighbor_id")
        .join(F.broadcast(qn.select(query_id_col, "__qv")), query_id_col)
    )
    vecs = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    exact = vecs.join(F.broadcast(short), "neighbor_id").select(
        query_id_col,
        "neighbor_id",
        F.round(cosine_similarity(F.col("__cv"), F.col("__qv")), 8).alias(
            "cosine"
        ),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )
