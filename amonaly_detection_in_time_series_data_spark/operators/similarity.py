"""Similarity search & near-duplicate detection (SURVEY.md §2.14).

Operators over ``documents(text)`` and ``embeddings(embedding:
array<float>)``:

- :func:`cosine_topk` — brute-force cosine kNN: broadcast the (small)
  query set against the corpus; O(|corpus| * |queries|) with no shuffle of
  the corpus. The correctness baseline.
- :func:`lsh_cosine_topk` — scale path: random-hyperplane (SimHash-style)
  bucketing; candidates only within matching buckets, then exact cosine
  re-rank. Sub-linear candidate generation for 100 TB corpora.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash over
  word shingles + banded LSH self-join for Jaccard near-dup pairs.
- :func:`simhash64` — 64-bit SimHash per document (bit-vote over token
  hashes), Hamming-distance near-dup.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard on candidate pairs.

Everything is built-in expressions (xxhash64, explode, groupBy, array
ops); no Python UDFs. Hash functions are Spark's — cross-engine oracle
checks therefore only apply to the exact-math operators (cosine, jaccard),
while LSH operators get rows-only/self-consistency checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine_similarity, nested_double_literal
from ..functions.text import tokenize
from ..sources.readers import local_rows_df


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` must be small (it is broadcast); self-matches (same id)
    are excluded. Deterministic: ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    sim = cosine_similarity(F.col(vec_col), F.col("__qvec"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _random_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (LCG-based so the
    plan is reproducible without numpy state)."""
    planes, state = [], seed & 0x7FFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: the sign-of-projection bit per
    plane, packed into an int. The plane matrix rides as ONE
    array<array<double>> literal node — a per-element scalar expansion
    (n_planes*dim nodes) costs seconds of analysis/codegen time per
    query (measured)."""
    n_planes = len(planes)
    planes_lit = nested_double_literal(planes)
    weights_lit = F.lit([1 << p for p in range(n_planes)])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec, planes_lit[p], lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            weights_lit[p],
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda acc, x: acc + x)


def lsh_buckets_multi(vec: Column, tables: list[list[list[float]]]) -> Column:
    """Table-tagged bucket ids for L hash tables as ONE expression tree.

    Returns array<int> of length L where element t =
    ``lsh_bucket(vec, tables[t]) + (t << n_planes)``. Building L separate
    :func:`lsh_bucket` trees ships L plane-matrix literals through the
    Python->JVM boundary and gives Catalyst L copies to analyze — at 8
    tables that construction+analysis cost exceeded the query's own
    execution time in bench (measured ~2.5 s of a 4 s wall). One tree
    with one 3-D literal amortizes both. Lambdas reference only their
    arguments, enclosing lambda variables, and O(1) literals/attributes.
    """
    n_tables = len(tables)
    n_planes = len(tables[0])
    if any(len(t) != n_planes for t in tables):
        raise ValueError(
            "lsh_buckets_multi: ragged tables (differing plane counts) "
            "would silently alias table-tagged bucket ids"
        )
    tab_lit = nested_double_literal(tables)  # one [table][plane][dim] node
    weights_lit = F.lit([1 << p for p in range(n_planes)])
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            F.lit(0),
            lambda acc, p: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        vec, tab_lit[t][p], lambda x, y: x.cast("double") * y
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                >= 0,
                weights_lit[p],
            ).otherwise(F.lit(0)),
        )
        + F.shiftleft(t, n_planes),
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    max_bucket_size: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: bucket every
    vector by its hyperplane signature, generate the pair triangle
    bucket-locally, keep pairs with exact cosine >= ``threshold``.

    One shuffle on the bucket id; no all-pairs join anywhere. Per-pair
    recall in one table is ``(1-theta/pi)^n_planes`` (measured 0.117 at
    threshold 0.2 / 4 planes on sf0.01) — ``n_tables`` unions L
    independent plane sets for recall ``1-(1-p)^L`` (measured 0.632 at
    L=8, 0.861 at L=16) at Lx bucketing compute, deduping pairs
    found by several tables on (id_a, id_b). With one table every
    vector lands in exactly one bucket, so pairs are unique by
    construction and no dedup shuffle exists. Bucket assignment is
    deterministic given (dim, n_planes, seed), which is what makes the
    operator oracle-reproducible.

    ``max_bucket_size`` caps adversarial mega-buckets (e.g. zero-vector
    floods) exactly like :func:`minhash_lsh_pairs` — applied per
    (table, bucket).
    """
    if n_tables == 1:
        bucket = lsh_bucket(
            F.col(vec_col), _random_hyperplanes(dim, n_planes, seed)
        )
    else:
        bucket = F.explode(
            lsh_buckets_multi(
                F.col(vec_col),
                [
                    _random_hyperplanes(dim, n_planes, seed + 7919 * t)
                    for t in range(n_tables)
                ],
            )
        )
    b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        bucket.alias("__bucket"),
    )
    members = b.groupBy("__bucket").agg(
        F.collect_list(F.struct("id", "vec")).alias("ms")
    )
    members = members.filter(F.size("ms") > 1)
    if max_bucket_size is not None:
        members = members.filter(F.size("ms") <= max_bucket_size)
    anchored = members.select(F.posexplode("ms").alias("pos", "a"), "ms")
    paired = anchored.select(
        "a",
        F.explode(
            F.slice("ms", F.col("pos") + 2, F.size("ms") - F.col("pos") - 1)
        ).alias("b"),
    )
    cos = cosine_similarity(F.col("a.vec"), F.col("b.vec"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    pairs = (
        paired.select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if n_tables > 1:
        # a pair can be co-bucketed in several tables; dedup AFTER the
        # threshold filter so the shuffle carries only surviving pairs
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    n_tables: int = 1,
    multiprobe: bool = False,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate cosine kNN: sign-of-projection bucketing (n_planes-bit
    signature) on both sides, join on bucket, exact cosine re-rank within
    bucket. At 100 TB this replaces the corpus-wide scan with a
    bucket-local one.

    Single-table recall is ``(1 - theta/pi)^n_planes`` per true neighbor
    — low when neighbors sit at moderate angles. ``n_tables`` is the
    standard recall lever: L independent plane sets, a candidate is kept
    if it shares a bucket in ANY table (recall ``1-(1-p^b)^L``). The
    corpus side explodes to L rows per vector (map-only before the
    broadcast join); duplicate candidates from multiple tables collapse
    via max_by in one aggregation keyed like the ranking window.

    ``multiprobe`` (Lv et al. 2007): the QUERY side additionally probes
    every bucket within ``probe_radius`` plane-bits of its own — a near
    neighbor that landed across a few hyperplanes is still found.
    Recall per table rises from ``p^b`` to ``P(<= radius planes
    disagree)`` at ZERO extra corpus rows: the perturbation explodes
    the (broadcast, tiny) query table by ``sum_i C(n_planes, i)``,
    never the corpus. The corpus explode factor is what a 100 TB
    deployment pays storage/shuffle for, so the efficient frontier
    pairs DEEPER probes with FEWER tables (measured ladder,
    SCALING.md §4: radius-2 over 3 tables of 6 bits beats radius-1
    over 6 tables on recall, wall, corpus rows and projection count
    at once — recall@5 0.94 vs 0.84 at sf0.01 with HALF the corpus-
    side work; over coarse buckets deep probing degenerates toward a
    full scan, so radius and n_planes move together).

    ``round_digits`` rounds the cosine BEFORE ranking so the result is
    reproducible across engines (oracle determinism convention).
    """
    import itertools as _it

    # r10 ADVICE: probe_radius only has meaning with multiprobe=True
    # (the mask list below is built from it only then); reject the
    # silent-degradation inputs instead of ignoring them.
    if probe_radius < 1:
        raise ValueError(
            f"lsh_cosine_topk: probe_radius must be >= 1, got {probe_radius}"
        )
    if not multiprobe and probe_radius != 1:
        raise ValueError(
            "lsh_cosine_topk: probe_radius is only used with "
            "multiprobe=True (pass multiprobe=True or drop probe_radius)"
        )

    tables = [
        _random_hyperplanes(dim, n_planes, seed + 7919 * t)
        for t in range(n_tables)
    ]
    # all XOR masks with <= probe_radius bits set (own bucket = mask 0);
    # static Python ints -> constant literals in one expression tree
    masks = [0]
    for r in range(1, int(probe_radius) + 1):
        for bits in _it.combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))

    def probe_set(buckets: Column) -> Column:
        # flips stay below the table-tag bits, so perturbation never
        # crosses tables
        return F.flatten(
            F.transform(
                buckets,
                lambda b: F.array(
                    *[b.bitwiseXOR(F.lit(m)) for m in masks]
                ),
            )
        )

    if n_tables == 1 and not multiprobe:
        c = corpus.withColumn(
            "__bucket", lsh_bucket(F.col(vec_col), tables[0])
        )
        q = queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            lsh_bucket(F.col(vec_col), tables[0]).alias("__bucket"),
        )
    else:
        buckets = lsh_buckets_multi(F.col(vec_col), tables)
        c = corpus.withColumn("__bucket", F.explode(buckets))
        qb = probe_set(buckets) if multiprobe else buckets
        q = queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode(qb).alias("__bucket"),
        )
    sim = cosine_similarity(F.col(vec_col), F.col("__qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        c.join(F.broadcast(q), "__bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    if n_tables > 1 or multiprobe:
        # same (query, neighbor) pair can surface from several tables
        # and/or probes; collapse before ranking (cosine is identical)
        scored = scored.groupBy(query_id_col, "neighbor_id").agg(
            F.first("cosine").alias("cosine")
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_build_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index once: (inverted lists, centroid table).

    Coarse quantizer = MLlib KMeans (seeded, deterministic) over the
    corpus; each corpus vector is assigned to its nearest centroid. The
    returned ``inv`` DataFrame is ``id, vec, __list`` and ``centroids``
    is ``__list, __centroid`` — both plain DataFrames, so at 100 TB the
    index is built ONCE, written out partitioned/bucketed by ``__list``
    (parquet `partitionBy('__list')`), and every later query batch runs
    against it with zero refit and zero corpus-side shuffle
    (:func:`ivf_query_index`).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("__fv")
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="__fv", predictionCol="__list")
    model = km.fit(train)
    inv = model.transform(train).select(id_col, vec_col, "__list")
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    # literal local table (sources.readers.local_rows_df): the
    # createDataFrame form re-ran a Python-RDD scan per action
    cent_df = local_rows_df(
        corpus.sparkSession,
        centroids,
        T.StructType(
            [
                T.StructField("__list", T.IntegerType()),
                T.StructField("__centroid", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    return inv, cent_df


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
) -> DataFrame:
    """IVF-style approximate cosine kNN (the scale path next to
    :func:`cosine_topk`'s brute force and :func:`lsh_cosine_topk`).

    Convenience composition of :func:`ivf_build_index` +
    :func:`ivf_query_index`; for repeated query batches build the index
    once and call :func:`ivf_query_index` directly. At query time each
    query probes its ``n_probe`` nearest centroids and re-ranks exactly
    within those lists only — at 100 TB the corpus stays partitioned by
    centroid id (one shuffle at index-build), and a query touches
    ``n_probe/n_clusters`` of the data instead of all of it. Queries
    and the centroid table are broadcast; no corpus-side shuffle at
    query time.
    """
    inv, cent_df = ivf_build_index(corpus, n_clusters, seed, id_col, vec_col)
    return ivf_query_index(
        inv, cent_df, queries, k, n_probe, id_col, vec_col,
        query_id_col, round_digits,
    )


def ivf_query_index(
    inv: DataFrame,
    cent_df: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    static_prune: bool = False,
) -> DataFrame:
    """Query a prebuilt IVF index (:func:`ivf_build_index`, possibly
    reloaded from a ``partitionBy('__list')`` parquet sink).

    ``static_prune=True`` runs the (tiny: broadcast centroids x query
    batch) probe phase eagerly, collects the distinct probed list ids
    (at most ``n_queries * n_probe`` ints) and pushes a literal
    ``__list IN (...)`` filter onto the index scan. Against a
    ``partitionBy('__list')`` parquet index this becomes a STATIC
    PartitionFilter — unprobed lists are never read from storage, which
    is the point of the IVF layout at 100 TB (a probe of 2/16 lists
    scans ~12% of the index). The default keeps the fully-lazy single
    plan (the same pruning can still happen at runtime via dynamic
    partition pruning)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "__cdist", cosine_similarity(F.col("__qvec"), F.col("__centroid"))
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.col("__cdist").desc(), F.col("__list").asc()
    )
    probed = (
        qc.withColumn("__pr", F.row_number().over(w_probe))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, "__qvec", "__list")
    )
    if static_prune:
        lists = [r["__list"] for r in probed.select("__list").distinct().collect()]
        inv = inv.filter(
            F.col("__list").isin(*lists) if lists else F.lit(False)
        )

    # --- exact re-rank within probed lists only ------------------------
    sim = cosine_similarity(F.col(vec_col), F.col("__qvec"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        inv.join(F.broadcast(probed), "__list")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles over a token-array column (distinct).

    Prefer passing a MATERIALIZED token column (bound attribute): the
    token expression appears ``n + 2`` times below, so a raw
    ``tokenize(text)`` argument re-runs the whole-document regex split
    that many times per row (still linear, but a ~6x constant at n=3).

    Built as ``n-1`` iterated ``zip_with`` calls over offset slices of
    the token array. zip_with INPUTS are evaluated once per row; the
    lambda touches only its arguments. The earlier ``transform(sequence,
    i -> slice(toks, i, n))`` form captured the tokenization as a free
    expression inside the lambda, which Spark's interpreted HOF path
    re-evaluates PER ELEMENT — O(doc_len^2) per row (measured: 5k tokens
    3.9 s, 10k 16.4 s in one task). This form is O(doc_len * n).
    """
    n_grams = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, n_grams)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, n_grams),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes_from_token_hashes(tok_h: Column, n: int = 3) -> Column:
    """Distinct 64-bit word n-gram hashes from a MATERIALIZED token-hash
    column (``transform(toks, xxhash64)`` bound as an attribute): each
    gram's ``n`` token hashes fold with iterated ``xxhash64(acc, next)``
    in ONE indexed ``transform`` pass —
    ``gram[i] = xxhash64(xxhash64(th[i+1], th[i+2]), th[i+3])`` at n=3,
    the trailing tokens read by ``element_at`` on the bound column.

    Allocation profile is the point — the string form
    (:func:`shingles_from_tokens`) concatenates a new ~(n * word_len)-
    char string per gram (~16 MB of ephemeral strings per document per
    zip level at the ladder's 200k-token rung, the r8 superlinear GC);
    the r9 hash form removed the strings but still built one
    intermediate long array per zip LEVEL (n+2 full-length arrays per
    document counting the slices). This form allocates exactly two:
    the head slice and the output. Identical values to the r9 fold —
    the xxhash64 composition order is unchanged.

    ``tok_h`` MUST be a bound attribute (a column materialized with
    ``withColumn``), not a free expression: Spark's interpreted
    higher-order-function path re-evaluates captured free expressions
    PER ELEMENT, which would re-hash the whole document per gram
    (O(doc_len^2)). Callers: see :func:`minhash_signatures`.

    Semantics vs the string form: identical grouping up to 64-bit hash
    collisions (two DISTINCT grams colliding ~n_grams^2 / 2^65 — at 10M
    grams/doc odds ~3e-6). MinHash is itself a sampling approximation,
    so the engine-native path accepts that; the md5 oracle path keeps
    exact gram strings.
    """
    n_grams = F.size(tok_h) - (n - 1)
    head = F.slice(tok_h, 1, n_grams)
    if n == 1:
        grams = head
    else:

        def _fold(h: Column, i: Column) -> Column:
            acc = h
            for j in range(1, n):
                acc = F.xxhash64(acc, F.element_at(tok_h, i + (j + 1)))
            return acc

        grams = F.transform(head, _fold)
    return F.when(F.size(tok_h) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct).

    Documents with fewer than ``n`` tokens yield an EMPTY array — not a
    truncated gram, and not a ``''`` gram for empty docs — so that
    "zero-shingle documents are dropped" holds downstream (minhash).

    Expression-level convenience over :func:`shingles_from_tokens`;
    DataFrame-level callers (minhash, decontaminate) materialize the
    token array as a column first and call the ``_from_tokens`` form so
    the regex tokenization runs once per row, not once per slice.
    """
    return shingles_from_tokens(tokenize(text), n)


def _seeded_hash64(col: Column, seed: int, hash_fn: str) -> Column:
    """Seeded 64-bit-ish hash of a string column.

    ``xxhash64``: native JVM hash — fastest, engine-specific.
    ``md5``: first 15 hex digits (60 bits) of md5('<seed>:' || s) as a
    bigint — bit-identical in any engine with standard md5 (DuckDB:
    ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)``), so results are
    oracle-reproducible.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(seed), col)
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
        ).cast("bigint")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: for each of ``n_hashes`` seeded
    hash functions, the min hash over the doc's shingle set.

    Output: id_col, ``sig`` array<bigint>. Documents with zero shingles
    (empty text) are dropped. ``hash_fn='md5'`` gives engine-portable
    (oracle-reproducible) signatures; default xxhash64 is the fast path.

    Shape chosen for scale: explode shingles once, compute the n hash
    columns per (doc, shingle) row, then min-aggregate per doc. This
    evaluates the (expensive) shingling exactly once — the naive
    ``array_min(transform(...))`` per seed re-derives the shingle array
    n_hashes times inside one projection (measured 45x slower at sf0.1) —
    and the aggregate gets map-side partial combine for free.

    The xxhash64 path never materializes gram STRINGS at all: grams are
    exploded as 64-bit hashes (:func:`shingle_hashes_from_token_hashes`,
    folding over a token-hash column materialized once here) and the
    seeded family hashes those 8-byte longs — the r8 longdoc ladder's
    superlinear GC growth traced to per-gram string allocation here,
    and the r9 zip-level intermediates to the per-level long arrays.
    The md5 path keeps exact gram strings (the oracle replays
    ``md5('<seed>:' || gram)`` in SQL, which needs the text).
    """
    if hash_fn == "xxhash64":
        exploded = (
            df.withColumn("__toks", tokenize(F.col(text_col)))
            .withColumn(
                "__tok_h", F.transform("__toks", lambda t: F.xxhash64(t))
            )
            .select(
                F.col(id_col),
                F.explode(
                    shingle_hashes_from_token_hashes(
                        F.col("__tok_h"), shingle_n
                    )
                ).alias("gram"),
            )
        )
    else:
        exploded = df.withColumn("__toks", tokenize(F.col(text_col))).select(
            F.col(id_col),
            F.explode(
                shingles_from_tokens(F.col("__toks"), shingle_n)
            ).alias("gram"),
        )
    hashed = exploded.select(
        id_col,
        *[
            _seeded_hash64(F.col("gram"), i, hash_fn).alias(f"__h{i}")
            for i in range(n_hashes)
        ],
    )
    sigs = hashed.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"__h{i}") for i in range(n_hashes)]
    )
    return sigs.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(n_hashes)]).alias("sig"),
    )


def band_buckets(
    sigs: DataFrame, n_bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Explode MinHash signatures into ``(id, sig, band, bucket)`` rows —
    one per band, bucket = xxhash64 of the band's signature slice.

    The shared banding step of :func:`minhash_lsh_pairs` (within-corpus
    pair generation) and :func:`operators.ingest.incremental_neardup_batch`
    (new-batch-vs-store candidate join): both sides of any LSH equi-join
    must bucket with the IDENTICAL expression or candidates are lost.
    """
    return sigs.select(
        id_col,
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.slice(
                            "sig",
                            b * (F.size("sig") / n_bands).cast("int") + 1,
                            (F.size("sig") / n_bands).cast("int"),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "sig", "bb.band", "bb.bucket")


def minhash_jaccard_est(sig_a: Column | str, sig_b: Column | str) -> Column:
    """Estimated Jaccard = fraction of matching minhash positions."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    ) / F.size(sig_a)


def minhash_lsh_pairs(
    sigs: DataFrame,
    n_bands: int = 4,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: split signatures into bands, hash each band to a
    bucket, emit candidate near-dup pairs per bucket with estimated
    Jaccard (= fraction of matching minhashes).

    Pairs are generated bucket-locally: group by (band, bucket),
    collect the members, explode the within-bucket pair triangle. One
    pass over the signature table and ONE shuffle on the band-bucket key
    — a self-join formulation recomputes the whole shingle->minhash
    lineage for both sides (measured: 8 parquet scans, no exchange
    reuse). Near-dup buckets are small by construction; against
    adversarial mega-buckets (boilerplate corpora) set
    ``max_bucket_size`` to drop buckets above the cap — standard LSH
    practice, logged nowhere silently since the cap is an explicit
    argument.
    """
    bands = band_buckets(sigs, n_bands, id_col)

    members = bands.groupBy("band", "bucket").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sig").alias("sig"))).alias(
            "ms"
        )
    )
    members = members.filter(F.size("ms") > 1)
    if max_bucket_size is not None:
        members = members.filter(F.size("ms") <= max_bucket_size)

    # within-bucket pair triangle: anchor at position i, partners i+1..n
    anchored = members.select(F.posexplode("ms").alias("pos", "a"), "ms")
    paired = anchored.select(
        "a",
        F.explode(
            F.slice("ms", F.col("pos") + 2, F.size("ms") - F.col("pos") - 1)
        ).alias("b"),
    )
    norm = paired.select(
        F.least("a.id", "b.id").alias("id_a"),
        F.greatest("a.id", "b.id").alias("id_b"),
        F.when(F.col("a.id") < F.col("b.id"), F.col("a.sig"))
        .otherwise(F.col("b.sig"))
        .alias("sig_a"),
        F.when(F.col("a.id") < F.col("b.id"), F.col("b.sig"))
        .otherwise(F.col("a.sig"))
        .alias("sig_b"),
    )
    pairs = norm.dropDuplicates(["id_a", "id_b"])
    est = minhash_jaccard_est("sig_a", "sig_b")
    return pairs.select("id_a", "id_b", est.alias("jaccard_est"))


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token, a 64-bit hash; per bit, vote +1/-1 weighted by
    token frequency; sign of the vote sets the bit. Expressed as one
    aggregate expression per bit over the exploded token table — one
    shuffle on id (or none when fused with an existing per-doc stage).

    ``hash_fn='md5'`` uses the engine-portable 60-bit md5-derived hash
    (so the fingerprint is oracle-reproducible); default xxhash64 gives
    the full 64 bits on the fast path.
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    one = F.lit(1).cast("bigint")
    toks = df.select(id_col, F.explode(tokenize(F.col(text_col))).alias("tok"))
    if hash_fn == "xxhash64":
        hashed = toks.withColumn("h", F.xxhash64("tok"))
    else:
        hashed = toks.withColumn("h", _seeded_hash64(F.col("tok"), 0, hash_fn))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    # bit 63 contributes Long.MIN_VALUE; summing signed contributions yields
    # the correct two's-complement 64-bit pattern.
    sim = sum(
        (
            F.when(F.col(f"b{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("bigint"))
            for b in range(1, n_bits)
        ),
        F.when(F.col("b0") > 0, one).otherwise(F.lit(0).cast("bigint")),
    )
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_neardup_pairs(
    sims: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, banded.

    Split the ``bits``-bit fingerprint into ``n_bands`` equal bands and
    bucket-join on (band, band value): by pigeonhole, any pair within
    Hamming distance ``n_bands - 1`` agrees on at least one full band,
    so for ``max_hamming < n_bands`` the banding is EXACT (recall 1.0)
    — unlike the probabilistic hyperplane/minhash tiers. Candidates are
    verified with ``bit_count(xor)``.

    Output: id_a, id_b, ``hamming`` (bigint), one row per unordered
    pair. Same one-shuffle bucket-triangle shape as
    :func:`minhash_lsh_pairs`, with the same ``max_bucket_size`` cap
    against adversarial mega-buckets (e.g. many identical docs).
    """
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sim = F.col(sim_col)
    bands = sims.select(
        F.col(id_col).alias("id"),
        sim.alias("sim"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(sim, b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sim", "bk.band", "bk.key")
    members = bands.groupBy("band", "key").agg(
        F.collect_list(F.struct("id", "sim")).alias("ms")
    )
    members = members.filter(F.size("ms") > 1)
    if max_bucket_size is not None:
        members = members.filter(F.size("ms") <= max_bucket_size)
    anchored = members.select(F.posexplode("ms").alias("pos", "a"), "ms")
    paired = anchored.select(
        "a",
        F.explode(
            F.slice("ms", F.col("pos") + 2, F.size("ms") - F.col("pos") - 1)
        ).alias("b"),
    )
    norm = paired.select(
        F.least("a.id", "b.id").alias("id_a"),
        F.greatest("a.id", "b.id").alias("id_b"),
        F.bit_count(
            F.col("a.sim").bitwiseXOR(F.col("b.sim"))
        ).cast("bigint").alias("hamming"),
    )
    return norm.filter(F.col("hamming") <= max_hamming).dropDuplicates(
        ["id_a", "id_b"]
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram overlap scores for candidate pairs (id_a, id_b):
    symmetric ``jaccard`` (|∩|/|∪|) plus the ASYMMETRIC containments
    ``containment_a`` = |∩|/|A| and ``containment_b`` = |∩|/|B|
    (Broder 1997's resemblance vs containment). Containment is the
    doc-inside-doc signal Jaccard misses: a page quoting a short
    document wholesale scores near-zero Jaccard (the union is huge) but
    containment_b ≈ 1 — the standard screen for quote-inclusion /
    boilerplate-wrapping in dedup pipelines."""
    sh = docs.withColumn("__toks", tokenize(F.col(text_col))).select(
        F.col(id_col), shingles_from_tokens(F.col("__toks"), n).alias("grams")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    return joined.select(
        "id_a", "id_b",
        (inter / F.nullif(union, F.lit(0.0))).alias("jaccard"),
        (inter / F.nullif(F.size("g_a").cast("double"), F.lit(0.0))).alias(
            "containment_a"
        ),
        (inter / F.nullif(F.size("g_b").cast("double"), F.lit(0.0))).alias(
            "containment_b"
        ),
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 16,
    eps: float = 0.9,
    keep: str = "edge",
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clustering — KMeans-partition the corpus,
    then inside each cluster drop every item whose cosine similarity to
    a higher-priority cluster member exceeds ``eps``.

    ``keep`` picks the survivor of a duplicate group:
    - ``'edge'`` (the paper's choice): keep the item LEAST similar to
      its centroid — retains boundary examples, drops prototypical
      redundancy;
    - ``'central'``: keep the most centroid-similar item;
    - ``'min_id'``: lowest id (fully order-independent tiebreak).

    Semantics note: an item is dropped when ANY higher-priority cluster
    member is within ``eps`` — the dominance rule, a deterministic
    one-join relaxation of the paper's sequential greedy (it can drop an
    item whose dominator was itself dropped; for the tight-duplicate
    regime SemDeDup targets the two coincide). Cross-cluster near-dups
    are invisible by design — that is the accepted recall trade of the
    method; raise ``n_clusters`` resolution or run LSH
    (:func:`embedding_neardup_pairs`) for cross-bucket recall.

    Output: the corpus with ``__list`` (cluster), ``__csim`` (cosine to
    centroid) and ``sem_keep`` (0/1) added.

    Scale (100 TB): the KMeans fit is MLlib-distributed; the pairwise
    stage is a self-join ON the cluster id — one shuffle, triangle
    bounded by the largest cluster (the SemDeDup contract is that
    n_clusters is sized so clusters stay small, e.g. 50k clusters for
    100M docs in the paper; a runaway cluster needs the same cap
    playbook as the MinHash mega-bucket). Centroids broadcast.
    """
    if keep not in ("edge", "central", "min_id"):
        raise ValueError(f"keep must be edge|central|min_id, got {keep!r}")
    inv, cent_df = ivf_build_index(corpus, n_clusters, seed, id_col, vec_col)
    wc = inv.join(F.broadcast(cent_df), "__list").withColumn(
        "__csim", cosine_similarity(F.col(vec_col), F.col("__centroid"))
    )
    slim = wc.select(id_col, vec_col, "__list", "__csim")
    if keep == "edge":
        a_first = (
            F.struct(F.col("a.__csim"), F.col(f"a.{id_col}"))
            < F.struct(F.col("b.__csim"), F.col(f"b.{id_col}"))
        )
    elif keep == "central":
        a_first = (
            F.struct(-F.col("a.__csim"), F.col(f"a.{id_col}"))
            < F.struct(-F.col("b.__csim"), F.col(f"b.{id_col}"))
        )
    else:
        a_first = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    pair_sim = cosine_similarity(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    dropped = (
        slim.alias("a")
        .join(
            slim.alias("b"),
            (F.col("a.__list") == F.col("b.__list")) & a_first,
        )
        .filter(pair_sim > eps)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        wc.join(dropped, id_col, "left")
        .withColumn(
            "sem_keep", F.when(F.col("__dup").isNull(), 1).otherwise(0)
        )
        .drop("__dup", "__centroid")
    )


def prefix_jaccard_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
    max_gram_df: int | None = None,
    return_excluded: bool = False,
    gram_order_path: str | None = None,
):
    """EXACT Jaccard-threshold similarity self-join via prefix filtering
    — AllPairs (Bayardo, Ma, Srikant, WWW'07) with PPJoin's positional
    filter (Xiao, Wang, Lin, Yuan, WWW'08). The deterministic complement
    to the probabilistic MinHash-LSH tier: NO false negatives and no
    false positives — every pair of documents whose distinct word
    ``shingle_n``-gram sets have Jaccard >= threshold_num/threshold_den
    is returned, and nothing else.

    Why it scales (the prefix-filter theorem): order the global gram
    vocabulary by ascending document frequency (rarest first, gram
    string as tiebreak — a total order, since grams are distinct within
    a doc). Sort each doc's gram set by that order. If
    ``J(x,y) >= t = p/q`` then the overlap is at least
    ``alpha = ceil(p*(|x|+|y|)/(p+q))``, and two sets with overlap alpha
    MUST share a token inside their first ``|x| - ceil(p*|x|/q) + 1``
    tokens — so only that PREFIX is exploded into the inverted index.
    With rarest-first ordering the prefixes carry the lowest-frequency
    grams, so candidate buckets stay small exactly where the corpus is
    big. The positional filter then bounds the achievable overlap of a
    candidate occurrence at prefix positions (i, j) by
    ``min(i-1, j-1) + 1 + min(|x|-i, |y|-j)`` (common tokens split
    cleanly into before/after the shared token because both arrays are
    sorted by the SAME total order) and drops occurrences that cannot
    reach alpha. Survivors are verified by exact ``array_intersect``.

    Every filter is INTEGER arithmetic on (p, q, sizes) — no float
    threshold comparisons anywhere — so the result set is bit-decidable
    and an independent brute-force oracle (all pairs, exact Jaccard)
    must agree exactly.

    Shuffle budget at 100 TB: (1) groupBy gram for document frequency,
    (2) join + groupBy id to attach the global order (one exchange —
    the df join rides the same gram shuffle), (3) the prefix-token
    equi-join (the inverted index — PREFIX tokens only, the whole point),
    (4) one join back to the full arrays for verification. Never
    all-pairs; candidate generation is bounded by prefix-bucket sizes,
    which rarest-first ordering keeps near-uniform. The known adversary
    is a gram that is BOTH high-frequency and prefix-resident (tiny docs
    at low thresholds) — the same mega-bucket regime as MinHash-LSH.
    ``max_gram_df`` is the cap knob for it: grams with document
    frequency above the cap are dropped from the PREFIX INDEX ONLY
    (verification still uses full gram sets), bounding every
    prefix-bucket's candidate fanout to C(cap, 2). The trade is
    recall, not precision: a pair whose EVERY shared prefix gram is
    over the cap loses its only index entry and is missed (the classic
    stopword-prefix trade — survivors stay exact). With
    ``return_excluded=True`` returns ``(pairs, excluded)`` where
    ``excluded`` is the dropped (gram, df) table — declarative, the
    loud-count channel of the other capped joins.

    Output: ``id_a < id_b``, exact ``jaccard`` (double), ``inter``,
    ``size_a``, ``size_b`` (gram-set cardinalities). Empty-gram docs
    (< shingle_n tokens) cannot reach any positive threshold and are
    dropped, matching :func:`minhash_signatures`.

    ``gram_order_path`` (r13): reuse a PERSISTED rarest-first gram-df
    index built by :func:`gram_df_index_build` /
    :func:`gram_df_index_update` instead of recomputing the df groupBy
    over every gram occurrence per call — the order is corpus-level
    state, and at 500k docs its rebuild dominated the wall (SCALING
    §10a0d/§10a0e). Staleness contract: ANY per-gram df assignment
    yields a consistent total order (``(df, gram)``, df deterministic
    per gram; unseen grams order as df=0, the rarest bucket), so the
    result set is EXACT regardless of index age — the prefix theorem
    needs consistency, not accuracy; a drifted order only grows
    candidate counts. With ``max_gram_df`` the cap binds on the
    index's dfs (refresh the index before trusting the cap against a
    new flood); the ``return_excluded`` report is intersected with the
    call's own gram set so a superset index can't list grams this
    corpus lacks (r13 ADVICE — the prefix anti-join itself keeps the
    full index hot list, which is report-invisible and conservative).

    The plan is purely declarative: building it starts no Spark job.
    The interpreted-HOF lambdas in tokenize/shingles block Spark's
    exchange reuse (canonicalization keeps lambda ids, the token_counts
    finding), so the shingling+ordering lineage executes once per
    consumer (prefix side a, side b, both verify sides). A session that
    joins the same corpus repeatedly persists that table once instead —
    :func:`ordered_tokens_build` + :func:`prefix_jaccard_join_indexed`
    (SCALING §10a0e-idx) — rather than pinning it in executor memory
    per call.

    Verification is TWO-stage: a 64-bit-hash intersect screen first
    (``xxhash64`` arrays — long comparisons, no string equality), then
    the exact string intersect only on its survivors. A shared gram
    always matches its own hash, so collisions between NON-shared grams
    only inflate the screen's intersect; the one theoretical exception
    is two DISTINCT shared grams colliding to the same 64-bit hash —
    ``array_intersect`` deduplicates, so the hash intersect would then
    undercount the string intersect by one and a pair sitting exactly
    at the threshold could be screened out (probability ~2^-64 per gram
    pair — astronomically unlikely, but the screen is "lossless" only up
    to that caveat; the string stage keeps every SURVIVOR exact).
    Measured at sf0.1 (5k docs, 308k candidates) with the ordered table
    pinned: the screen passes ~the true result set and cuts verify
    4.2 s -> 1.8 s (SCALING §10a0d).
    """
    p, q = int(threshold_num), int(threshold_den)
    if not 0 < p <= q:
        raise ValueError(
            f"prefix_jaccard_join: threshold must be in (0,1]: got {p}/{q}"
        )
    if return_excluded and max_gram_df is None:
        raise ValueError(
            "prefix_jaccard_join: return_excluded requires max_gram_df"
        )
    if max_gram_df is not None and max_gram_df < 1:
        raise ValueError(
            f"prefix_jaccard_join: max_gram_df must be >= 1, got {max_gram_df}"
        )
    sets = _gram_sets(docs, text_col, id_col, shingle_n)
    exploded = sets.select(
        "id", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    )
    if gram_order_path is not None:
        # r13 (SCALING §10a0e): the rarest-first order is corpus-level
        # state — reuse a PERSISTED gram-df index instead of rebuilding
        # the df groupBy over every gram OCCURRENCE per call (the
        # dominant sf10 term). Keyed on xxhash64(gram) exactly like the
        # inline hash path below; grams absent from the index get df=0
        # (the rarest bucket). A STALE index is still a CONSISTENT
        # total order — (df', gram) with df' a deterministic function
        # of the gram — so exactness holds by the same argument as the
        # hash-keyed fix; only prefix efficiency degrades with drift.
        idx = _read_gram_df_index(
            docs.sparkSession, gram_order_path, shingle_n
        )
        exploded_h = exploded.withColumn("__h", F.xxhash64("gram"))
        joined = (
            exploded_h.join(idx.select("__h", "df"), "__h", "left")
            .select(
                "id", "sz", "gram",
                F.coalesce(F.col("df"), F.lit(0)).alias("df"),
            )
        )
        # cap mode binds on the INDEX's (possibly stale) dfs; the
        # excluded report carries the index's representative gram.
        # Report semantics in this mode (r13 ADVICE): the hot list is
        # INDEX state — with return_excluded it is intersected with the
        # call's own gram set below so the report never lists grams a
        # stale/superset index knows but this corpus lacks; a 2^-64
        # hash-colliding NON-representative hot gram is still neither
        # reported nor anti-joined (the prefix filter stays merely
        # conservative for it — exactness unaffected, documented trade)
        tok_df = idx.select("gram", "df") if max_gram_df is not None else None
    elif max_gram_df is None:
        # r12 (third-decade finding, SCALING §10a0d): the df groupBy +
        # order-attach join were the dominant superlinear term at 500k
        # docs — they shuffled ~100M FULL GRAM STRINGS against a ~50M-
        # entry vocabulary. Keying both on xxhash64(gram) ships 8-byte
        # longs instead (~3x lighter shuffle, cheaper sort-merge keys).
        # Exactness is unaffected BY CONSTRUCTION: the prefix theorem
        # needs any CONSISTENT total token order, and (df', gram) —
        # where df' is a deterministic function of the gram via its
        # hash, collisions merely summing two grams' counts with
        # probability ~2^-64 — is still consistent across documents;
        # rarest-first is only a candidate-count heuristic, and the
        # exact verify stage is untouched.
        exploded_h = exploded.withColumn("__h", F.xxhash64("gram"))
        tok_df_h = exploded_h.groupBy("__h").agg(F.count(F.lit(1)).alias("df"))
        joined = exploded_h.join(tok_df_h, "__h").drop("__h")
        tok_df = None
    else:
        # cap mode keeps the string-keyed df table so the excluded
        # report carries gram strings (adversarial-defense path; the
        # extra string shuffle is the price of the loud count)
        tok_df = (
            exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        )
        joined = exploded.join(tok_df, "gram")
    ordered = (
        joined
        .groupBy("id", "sz")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "gram"))),
                lambda s: s["gram"],
            ).alias("toks")
        )
        .withColumn("toks_h", F.transform("toks", lambda t: F.xxhash64(t)))
    )
    # prefix length |x| - ceil(p*|x|/q) + 1, pure integer arithmetic
    excluded = None
    hot = None
    if max_gram_df is not None:
        # over-cap grams are bounded by total gram occurrences / cap —
        # tiny for realistic caps, but a SMALL cap over a huge corpus
        # makes the bound millions of rows (cap=10 over 100M
        # occurrences allows 10M), a driver-side broadcast risk. No
        # forced broadcast hint: AQE broadcasts the anti-join side when
        # its measured size is small and falls back to a shuffle
        # anti-join when it is not, which is exactly the right call at
        # both ends.
        hot = tok_df.filter(F.col("df") > max_gram_df)
        excluded = hot.select("gram", "df")
        if gram_order_path is not None and return_excluded:
            # scope the REPORT to grams actually present in this call's
            # corpus (the hot list came from the index, which may be a
            # superset); the anti-join keeps the full index hot list —
            # absent grams match nothing there, so this is report-only
            excluded = excluded.join(
                exploded.select("gram").distinct(), "gram", "left_semi"
            )
    pairs = _ppjoin_tail(ordered, p, q, hot_grams=hot)
    if return_excluded:
        return pairs, excluded
    return pairs


def _ppjoin_tail(
    ordered: DataFrame,
    p: int,
    q: int,
    hot_grams: DataFrame | None = None,
) -> DataFrame:
    """The order-agnostic back half of :func:`prefix_jaccard_join`:
    prefix explode → candidate equi-join (size band + positional
    bound) → hash-intersect screen → exact string verify. Takes any
    ``(id, sz, toks, toks_h)`` frame whose ``toks`` arrays are sorted
    by ONE consistent total order across all rows — that consistency
    is the entire correctness precondition (the prefix theorem);
    rarest-first is only the efficiency heuristic. Shared by the
    inline path and the persisted ordered-tokens artifact path.

    The screen and the verify are separate joins on purpose: the
    screen attaches only 8-byte hash arrays to the candidate bulk and
    shrinks it to ~the result set BEFORE any gram string moves. Joining
    both arrays in one pass (4 scans of ``ordered`` instead of 6) drags
    the string arrays through the sort-merge join for every candidate:
    measured at sf10, 351 vs 41 s and a disk-full JVM abort (SCALING
    §10a0g)."""
    plen = (
        F.col("sz")
        - F.floor((F.lit(p) * F.col("sz") + F.lit(q - 1)) / F.lit(q))
        + F.lit(1)
    ).cast("int")
    # r14: the inverted-index equi-join keys on the PRE-COMPUTED 64-bit
    # gram hashes (slice toks_h, which is parallel to toks) instead of
    # gram strings — the candidate shuffle ships fixed 8-byte longs
    # rather than ~20-60-byte strings and sort-merges on long keys,
    # and the prefix scan prunes the string column entirely. EXACT
    # without the cap: a qualifying pair shares a true prefix gram,
    # hence its hash, so no candidate is ever lost; a 2^-64 hash
    # collision between DIFFERENT grams only ADDS a candidate, which
    # the exact verify stage removes. (With max_gram_df the hot-gram
    # anti-join below also keys on the hash — a collision with a hot
    # gram's hash could then drop an entry, the same 2^-64 caveat
    # class as the hash-bucketed df table, documented there.) Found at
    # the fourth decade: the string-keyed candidate shuffle at 2M docs
    # out-spilled the box's disk (SCALING §10a0f).
    prefix = ordered.select(
        "id",
        "sz",
        F.posexplode(F.slice("toks_h", F.lit(1), plen)).alias("pos0", "gh"),
    ).select("id", "sz", (F.col("pos0") + 1).alias("pos"), "gh")
    if hot_grams is not None:
        prefix = prefix.join(
            hot_grams.select(F.xxhash64("gram").alias("gh")),
            "gh",
            "left_anti",
        )
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "gh",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "gh",
    )
    cand = a.join(b, "gh").filter(
        (F.col("id_a") < F.col("id_b"))
        # size filter: q*min_size >= p*max_size (J >= p/q is impossible
        # outside this band regardless of content)
        & (F.col("sz_a") * q >= F.col("sz_b") * p)
        & (F.col("sz_b") * q >= F.col("sz_a") * p)
    )
    # minimum overlap alpha = ceil(p*(sa+sb)/(p+q)) as integer floor-div
    alpha = F.floor(
        (F.lit(p) * (F.col("sz_a") + F.col("sz_b")) + F.lit(p + q - 1))
        / F.lit(p + q)
    )
    ubound = (
        F.least(F.col("pos_a"), F.col("pos_b"))
        - 1
        + 1
        + F.least(
            F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b")
        )
    )
    cand = cand.filter(ubound >= alpha)
    cand_ids = cand.select("id_a", "id_b").distinct()
    # stage 1: hash-intersect screen — inflate-only, so the >= filter
    # cannot drop a qualifying pair; longs compare ~an order of
    # magnitude cheaper than gram strings over the candidate bulk
    h_a = ordered.select(
        F.col("id").alias("id_a"),
        F.col("toks_h").alias("h_a"),
        F.col("sz").alias("hsz_a"),
    )
    h_b = ordered.select(
        F.col("id").alias("id_b"),
        F.col("toks_h").alias("h_b"),
        F.col("sz").alias("hsz_b"),
    )
    screened = (
        cand_ids.join(h_a, "id_a")
        .join(h_b, "id_b")
        .filter(
            F.size(F.array_intersect("h_a", "h_b")) * (p + q)
            >= F.lit(p) * (F.col("hsz_a") + F.col("hsz_b"))
        )
        .select("id_a", "id_b")
    )
    # stage 2: exact string verification of the screen's survivors
    g_a = ordered.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("g_a"),
        F.col("sz").alias("size_a"),
    )
    g_b = ordered.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("g_b"),
        F.col("sz").alias("size_b"),
    )
    verified = (
        screened.join(g_a, "id_a")
        .join(g_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("g_a", "g_b")))
        # J >= p/q  <=>  inter*(p+q) >= p*(size_a+size_b): integer-exact
        .filter(
            F.col("inter") * (p + q)
            >= F.lit(p) * (F.col("size_a") + F.col("size_b"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        (
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter"))
        ).alias("jaccard"),
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
    )


def _gram_sets(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, grams) — each doc's DISTINCT word n-gram set, empty-gram
    docs dropped. The shared front end of :func:`prefix_jaccard_join`
    and the gram-df index builders (identical shingling => identical
    df semantics)."""
    return (
        docs.withColumn("__toks", tokenize(F.col(text_col)))
        .select(
            F.col(id_col).alias("id"),
            shingles_from_tokens(F.col("__toks"), shingle_n).alias("grams"),
        )
        .filter(F.size("grams") > 0)
    )


_GRAM_DF_COMPAT = "ppjoin-gramdf:v1"


def _gram_df_compat_tag(shingle_n: int) -> str:
    return f"{_GRAM_DF_COMPAT}:shingle_n={shingle_n}"


def _read_artifact_if_exists(spark, path: str) -> DataFrame | None:
    """Read a persisted artifact, returning ``None`` ONLY when the
    path does not exist yet (the caller then bootstraps). Every OTHER
    read failure — permissions, object-store consistency, a corrupt
    footer — re-raises: the update paths bootstrap via
    ``mode('overwrite')`` from the NEW BATCH ALONE, so swallowing a
    transient read error would silently destroy the accumulated
    corpus state (r13 ADVICE)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        _ = df.columns
        return df
    except AnalysisException as e:
        cond = ""
        for getter in ("getCondition", "getErrorClass"):
            fn = getattr(e, getter, None)
            if fn is not None:
                try:
                    cond = fn() or ""
                except Exception:
                    cond = ""
                if cond:
                    break
        msg = str(e)
        if "PATH_NOT_FOUND" in cond or "Path does not exist" in msg:
            return None
        raise


def _refuse_compat(
    artifact: DataFrame, kind: str, path: str, expected: str, why: str = ""
) -> None:
    """Refuse a persisted artifact whose ``compat`` tag is not
    ``expected`` (an empty artifact carries no tag and passes). The
    message names the artifact kind, its path, the tag found and the
    tag expected, then ``why``: what the mismatch means and what to
    rebuild. One bounded action: the first row's tag."""
    head = artifact.select("compat").limit(1).collect()
    if head and head[0]["compat"] != expected:
        raise ValueError(
            f"{kind} at {path!r} has compat tag {head[0]['compat']!r}, "
            f"expected {expected!r}" + (f" — {why}" if why else "")
        )


def _read_gram_df_index(
    spark, index_path: str, shingle_n: int
) -> DataFrame:
    """Read + validate a persisted gram-df index. Refuses an index
    built with a different shingle width or format version — its dfs
    would describe a DIFFERENT gram universe (the signature-store
    compat-tag convention, operators/ingest.py)."""
    idx = spark.read.parquet(index_path)
    _refuse_compat(
        idx, "gram-df index", index_path, _gram_df_compat_tag(shingle_n),
        "rebuild the index with the caller's shingle_n",
    )
    return idx


_ORD_TOK_COMPAT = "ppjoin-ordtok:v1"


def _gram_index_fingerprint(idx: DataFrame) -> int:
    """Order-independent fingerprint of a gram-df index's CONTENT
    (bit_xor of per-row hashes). Two ordered-tokens batches are
    mutually consistent iff they were sorted under the same frozen
    index — the fingerprint is what the update path checks, because a
    REBUILT index with different dfs silently defines a different
    total order and appending under it would break the prefix
    theorem's cross-batch consistency."""
    row = idx.agg(
        F.bit_xor(F.xxhash64("__h", "df")).alias("fp")
    ).collect()[0]
    return int(row["fp"] or 0)


def _ord_tok_tag(
    shingle_n: int, order_fp: int, with_ids: bool = False
) -> str:
    """The ``:ids`` marker makes with-ids and without-ids artifacts
    mutually exclusive under the existing compat check: an artifact is
    consistently one or the other across ALL its batches (appending a
    no-ids batch to a with-ids artifact would null-poison `toks_id`
    silently — the tag mismatch refuses it loudly instead)."""
    base = f"{_ORD_TOK_COMPAT}:shingle_n={shingle_n}:order_fp={order_fp}"
    return f"{base}:ids" if with_ids else base


def _refuse_null_gids(artifact: DataFrame, path: str) -> None:
    """Loud post-write guard for with-ids token artifacts: a NULL
    element in ``toks_id`` means a gram had no dictionary entry — the
    id tail would silently treat distinct unknown grams as equal
    (NULL semantics in ``array_intersect``), so the write is refused
    instead. A bounded action: columnar scan of ``toks_id`` only,
    first offending row."""
    bad = (
        artifact.filter(
            F.exists("toks_id", lambda g: g.isNull())
        )
        .select("id")
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"ordered-tokens artifact at {path!r}: doc {bad[0]['id']!r} "
            "contains grams absent from the gram-id dictionary — extend "
            "the dictionary with this batch's vocabulary "
            "(gram_ids_update) BEFORE writing tokens"
        )


def ordered_tokens_build(
    docs: DataFrame,
    tokens_path: str,
    gram_order_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    gram_ids_path: str | None = None,
) -> DataFrame:
    """Persist the ORDERED-TOKENS table — the per-doc half of
    :func:`prefix_jaccard_join` — as a parquet artifact
    ``(id, sz, toks, toks_h, compat)``, sorted under the FROZEN gram
    order at ``gram_order_path``. This is how a session reuses the
    join's ordered table: every consumer of the join (prefix side a/b,
    hash screen a/b, verify a/b) scans columnar parquet instead of
    re-executing the tokenize→shingle→order lineage per consumer
    (measured ~6x per action at 500k docs, SCALING §10a0e-idx), with
    NO executor-storage residency and reuse ACROSS sessions.

    Why the frozen index is REQUIRED (not optional like the join's own
    ``gram_order_path``): incremental appends
    (:func:`ordered_tokens_update`) are exact only if every batch is
    sorted under ONE total order — (df_frozen(g), g), with unseen
    grams at df 0 — because the prefix theorem compares positions
    ACROSS documents. The artifact records the index's content
    fingerprint and refuses updates under a drifted index. Exactness
    under the frozen (stale-for-new-batches) order follows from the
    same consistency argument as ``gram_order_path`` itself.

    Duplicate contract: append-only; re-submitting the same doc id
    double-enters it (dedupe upstream — the ingest-store convention).
    Returns the artifact read back from ``tokens_path``.

    ``gram_ids_path`` (r14): also emit ``toks_id`` (exact gram ids,
    :func:`gram_ids_build`) so consumers run the string-free
    :func:`_ppjoin_tail_ids`; the compat tag gains an ``:ids`` marker
    so with-ids and without-ids batches can never mix. The dictionary
    must already cover this corpus's vocabulary — a gap is refused
    post-write (bounded columnar null-scan of the written artifact)."""
    spark = docs.sparkSession
    idx = _read_gram_df_index(spark, gram_order_path, shingle_n)
    fp = _gram_index_fingerprint(idx)
    ids = (
        _read_gram_ids(spark, gram_ids_path, shingle_n)
        if gram_ids_path is not None
        else None
    )
    ordered = _ordered_under_index(
        docs, idx, text_col, id_col, shingle_n, ids=ids
    )
    ordered.withColumn(
        "compat",
        F.lit(_ord_tok_tag(shingle_n, fp, with_ids=ids is not None)),
    ).write.mode("overwrite").parquet(tokens_path)
    out = spark.read.parquet(tokens_path)
    if ids is not None:
        _refuse_null_gids(out, tokens_path)
    return out


def _ordered_under_index(
    docs: DataFrame, idx: DataFrame, text_col: str, id_col: str,
    shingle_n: int, ids: DataFrame | None = None,
) -> DataFrame:
    """With ``ids`` (a gram-id dictionary frame): also emits
    ``toks_id`` — the array of EXACT gram ids parallel to ``toks``
    (same frozen-order sort; the gid rides the sort struct, which
    (df, gram) already totally orders). An unseen gram yields a NULL
    array element; callers that write artifacts check-and-refuse that
    post-write (the dictionary must be extended with the batch's
    vocabulary BEFORE tokens are written — the composed updater's
    fold order guarantees it)."""
    sets = _gram_sets(docs, text_col, id_col, shingle_n)
    exploded = sets.select(
        "id", F.size("grams").alias("sz"), F.explode("grams").alias("gram")
    ).withColumn("__h", F.xxhash64("gram"))
    joined = exploded.join(idx.select("__h", "df"), "__h", "left").select(
        "id", "sz", "gram", F.coalesce(F.col("df"), F.lit(0)).alias("df")
    )
    if ids is None:
        return (
            joined.groupBy("id", "sz")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("df", "gram"))),
                    lambda s: s["gram"],
                ).alias("toks")
            )
            .withColumn(
                "toks_h", F.transform("toks", lambda t: F.xxhash64(t))
            )
        )
    with_gid = joined.join(ids.select("gram", "gid"), "gram", "left")
    return (
        with_gid.groupBy("id", "sz")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "gram", "gid"))
            ).alias("__s")
        )
        .select(
            "id",
            "sz",
            F.transform(F.col("__s"), lambda s: s["gram"]).alias("toks"),
            F.transform(F.col("__s"), lambda s: s["gid"]).alias("toks_id"),
        )
        .withColumn("toks_h", F.transform("toks", lambda t: F.xxhash64(t)))
    )


def ordered_tokens_update(
    spark,
    tokens_path: str,
    new_docs: DataFrame,
    gram_order_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    gram_ids_path: str | None = None,
) -> DataFrame:
    """Append ONE new batch's ordered-token rows to a persisted
    ordered-tokens artifact at O(batch) cost. Validates that the gram
    index at ``gram_order_path`` is bit-identical (content
    fingerprint) to the one the artifact was built under — the
    cross-batch consistency precondition; a rebuilt/drifted index is
    refused loudly (rebuild the artifact instead). Bootstraps via
    :func:`ordered_tokens_build` when no artifact exists. Invariant
    (pytest-pinned): after any sequence of updates, joining the
    artifact equals the one-shot direct join over the union corpus."""
    idx = _read_gram_df_index(spark, gram_order_path, shingle_n)
    fp = _gram_index_fingerprint(idx)
    ids = (
        _read_gram_ids(spark, gram_ids_path, shingle_n)
        if gram_ids_path is not None
        else None
    )
    # path-not-found ONLY → bootstrap; real read errors re-raise so a
    # transient failure can't trigger a destructive one-batch rebuild
    old = _read_artifact_if_exists(spark, tokens_path)
    if old is None:
        return ordered_tokens_build(
            new_docs, tokens_path, gram_order_path,
            text_col, id_col, shingle_n, gram_ids_path,
        )
    expected = _ord_tok_tag(shingle_n, fp, with_ids=ids is not None)
    _refuse_compat(
        old, "ordered-tokens artifact", tokens_path, expected,
        f"the gram order at {gram_order_path!r} drifted (or the :ids "
        "marker differs — with-ids and without-ids batches can never "
        "mix); rebuild the artifact (appending under a different total "
        "order would break prefix-filter exactness)",
    )
    batch = _ordered_under_index(
        new_docs, idx, text_col, id_col, shingle_n, ids=ids
    ).withColumn("compat", F.lit(expected))
    if ids is not None:
        # pre-append guard (the standalone artifact has no batch
        # partition to scope a post-write read): O(batch) re-execution
        # of the batch lineage, bounded to the first offending row
        _refuse_null_gids(batch, tokens_path)
    batch.write.mode("append").parquet(tokens_path)
    return spark.read.parquet(tokens_path)


def prefix_jaccard_join_indexed(
    spark,
    tokens_path: str,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_gram_df: int | None = None,
    gram_df_path: str | None = None,
    gram_ids_path: str | None = None,
    return_excluded: bool = False,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard self-join over a persisted ordered-tokens
    artifact (:func:`ordered_tokens_build` /
    :func:`ordered_tokens_update`) — identical result contract to
    :func:`prefix_jaccard_join` over the same document set (pinned in
    pytest against brute force AND the direct join, including
    incrementally-appended artifacts). Every join consumer scans the
    parquet; no per-call tokenize/shingle/df work at all, no
    localCheckpoint residency. The artifact's order is consistent by
    construction (frozen-index contract), which is all the prefix
    theorem needs. The threshold is a QUERY-time parameter — one
    artifact serves any p/q.

    The artifact's columns pick the tail: a with-ids artifact
    (``toks_id`` column, :func:`ordered_tokens_build` with
    ``gram_ids_path``) runs the string-free exact-id tail
    (:func:`_ppjoin_tail_ids`), whose aggregated bound is its positional
    filter; one without ids runs the hash tail (:func:`_ppjoin_tail`) —
    the route for a vocabulary past the int32 id bound (``_GID_MAX``).
    The result set is identical either way, by the exactness contract.

    ``max_gram_df`` (r14): the skew-cap defense for the FLAGSHIP
    path — the same mega-bucket adversary (a high-df, prefix-resident
    gram floods the candidate join with a C(n,2) bucket) the inline
    join caps, applied to the artifact join. Hot grams come from the
    persisted gram-df index at ``gram_df_path`` (a composed store's
    LIVE index — refresh it before trusting the cap against a new
    flood, the same staleness note as the inline ``gram_order_path``
    cap mode) and are excluded from the PREFIX ONLY; verification
    keeps full arrays, so survivors stay exact and the recall trade
    is identical to the inline cap: a pair is missed only if its
    EVERY shared prefix gram is over the cap. On the id tail the
    hot list maps to gids through the dictionary at ``gram_ids_path``
    (required then) and the exclusion is exact; the report/anti-join
    carry the index's bucket-representative semantics documented on
    :func:`gram_df_index_build`. ``return_excluded=True`` returns
    ``(pairs, excluded)`` with the index's over-cap ``(gram, df)``
    rows — INDEX state, not re-scoped to the artifact's corpus (for
    a composed store they coincide by construction). Note: passing
    ``max_gram_df`` selects cap-mode plans even when NO gram is over
    the cap (the id tail then runs the per-row bound instead of the
    tighter aggregated one — whether the hot list is empty is a
    runtime fact the plan doesn't probe); leave the cap off unless
    the corpus actually needs the defense."""
    p, q = int(threshold_num), int(threshold_den)
    if not 0 < p <= q:
        raise ValueError(
            f"prefix_jaccard_join_indexed: threshold must be in (0,1]: "
            f"got {p}/{q}"
        )
    if return_excluded and max_gram_df is None:
        raise ValueError(
            "prefix_jaccard_join_indexed: return_excluded requires "
            "max_gram_df"
        )
    if max_gram_df is not None:
        if max_gram_df < 1:
            raise ValueError(
                f"prefix_jaccard_join_indexed: max_gram_df must be >= 1, "
                f"got {max_gram_df}"
            )
        if gram_df_path is None:
            raise ValueError(
                "prefix_jaccard_join_indexed: max_gram_df requires "
                "gram_df_path (the persisted gram-df index that supplies "
                "the hot list — a composed store's live index)"
            )
    art = spark.read.parquet(tokens_path)
    hot = None
    excluded = None
    if max_gram_df is not None:
        idx = _read_gram_df_index(spark, gram_df_path, shingle_n)
        hot = idx.filter(F.col("df") > max_gram_df)
        excluded = hot.select("gram", "df")
    if "toks_id" in art.columns:
        hot_gids = None
        if hot is not None:
            if gram_ids_path is None:
                raise ValueError(
                    "prefix_jaccard_join_indexed: max_gram_df on the id "
                    "tail requires gram_ids_path (the dictionary that "
                    "maps the hot list to gids)"
                )
            ids = _read_gram_ids(spark, gram_ids_path, shingle_n)
            hot_gids = (
                hot.select("gram")
                .join(ids.select("gram", "gid"), "gram")
                .select("gid")
            )
        pairs = _ppjoin_tail_ids(
            art.select("id", "sz", "toks_id"), p, q, hot_gids=hot_gids
        )
    else:
        ordered = art.select("id", "sz", "toks", "toks_h")
        pairs = _ppjoin_tail(ordered, p, q, hot_grams=hot)
    if return_excluded:
        return pairs, excluded
    return pairs


def gram_df_index_build(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Build and persist the rarest-first gram-df index
    :func:`prefix_jaccard_join` consumes via ``gram_order_path`` —
    the corpus-level half of the join, materialized ONCE instead of
    per call (the ``file_stats_index`` pattern applied to ppjoin's
    vocabulary state; r12's third decade measured the per-call df
    rebuild as the dominant sf10 term).

    Schema: one row per distinct ``xxhash64(gram)`` — ``__h``,
    ``df`` (document frequency summed over the hash bucket; the
    2^-64 collision merely sums two grams' counts, exactly the inline
    hash path's documented semantics), ``gram`` (the bucket's MIN
    gram string — the representative the cap's excluded report
    shows), ``compat`` (format/shingle tag, validated on read).

    One aggregation over gram occurrences + one over the vocabulary —
    the same work ONE ppjoin call pays for its order, amortized over
    every subsequent call. Returns the index read back from
    ``index_path``."""
    merged = _gram_df_merged(docs, text_col, id_col, shingle_n).withColumn(
        "compat", F.lit(_gram_df_compat_tag(shingle_n))
    )
    merged.write.mode("overwrite").parquet(index_path)
    return docs.sparkSession.read.parquet(index_path)


def _gram_df_merged(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """``(__h, df, gram)`` — one corpus/batch's hash-bucketed gram
    document frequencies (df summed per ``xxhash64`` bucket, MIN gram
    string as the bucket representative). The shared aggregate of
    :func:`gram_df_index_build`, :func:`gram_df_index_update` and the
    composed ingest updater (operators/ingest.py)."""
    return (
        _gram_sets(docs, text_col, id_col, shingle_n)
        .select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy(F.xxhash64("gram").alias("__h"))
        .agg(F.sum("df").alias("df"), F.min("gram").alias("gram"))
    )


def gram_df_index_update(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental maintenance of a persisted gram-df index: fold ONE
    new batch's gram counts into the stored index at O(batch) cost —
    the ingest-store pattern (a full rebuild is a whole-corpus scan;
    a table fed by per-batch ingest must pay per batch only).

    Bootstraps with :func:`gram_df_index_build` when no index exists.
    Invariant (pytest-pinned): after any sequence of updates the index
    equals a from-scratch rebuild over the union corpus, row for row
    — df sums are associative and the representative gram is a MIN,
    so incremental folding is exact. Append-only semantics: this
    counts NEW documents; re-submitting the same batch double-counts
    (dedupe upstream, the ingest contract)."""
    # path-not-found ONLY → bootstrap; real read errors re-raise so a
    # transient failure can't trigger a destructive one-batch rebuild
    old = _read_artifact_if_exists(spark, index_path)
    if old is None:
        return gram_df_index_build(
            new_docs, index_path, text_col, id_col, shingle_n
        )
    expected = _gram_df_compat_tag(shingle_n)
    _refuse_compat(old, "gram-df index", index_path, expected)
    batch = _gram_df_merged(new_docs, text_col, id_col, shingle_n)
    merged = (
        old.select("__h", "df", "gram")
        .unionByName(batch)
        .groupBy("__h")
        .agg(F.sum("df").alias("df"), F.min("gram").alias("gram"))
        .withColumn("compat", F.lit(expected))
    )
    # materialize before overwriting the parquet the lineage reads from
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(index_path)
    return spark.read.parquet(index_path)


# --------------------------------------------------------------------------
# r14: the gram-id DICTIONARY — dense integer ids for exact, string-free
# ppjoin tails. With exact ids the candidate equi-join keys on 4-byte ints
# with NO collision caveat class at all, `array_intersect` over id arrays
# IS the exact verify (the hash-screen + string-verify stages collapse
# into one), and the classic aggregated PPJoin bound (shared-prefix count
# + suffix min) becomes provably collision-free — the direct attack on
# the fourth decade's screen-payload disk wall (SCALING §10a0f).
# --------------------------------------------------------------------------

_GRAM_IDS_COMPAT = "ppjoin-gramids:v1"

# refuse id assignment past this — toks_id arrays are array<int>
# (4-byte elements, HALF the hash path's long-array screen payload);
# a corpus whose distinct-gram vocabulary approaches 2^31 needs a
# wider id type than this format version provides (the hash tail
# keeps working at any scale — this is a format boundary, not an
# engine one)
_GID_MAX = (1 << 31) - (1 << 20)


def _gram_ids_tag(shingle_n: int) -> str:
    return f"{_GRAM_IDS_COMPAT}:shingle_n={shingle_n}"


def _ranked_ids(vocab: DataFrame, start: int) -> DataFrame:
    """``(gram, gid)`` with ``gid = start + 0-based lexicographic rank``
    — a DISTRIBUTED global rank (no single-partition window): range-
    partition the vocabulary by gram, sort within partitions, then
    offset each partition's local row index by the running sum of
    preceding partition counts (the running sum is a window over
    N_PARTITIONS rows, not data rows). ``monotonically_increasing_id``
    is nondeterministic-tagged, so Catalyst pins it after the sort —
    within a partition it increments per physical (= sorted) row.
    Rank determinism across REBUILDS is not guaranteed (range
    boundaries are sampled) and not required: id values carry no
    semantics — the ordered-token arrays are already physically sorted
    by the frozen gram order, and ids only need to be distinct and
    stable once PERSISTED (callers write the result immediately and
    only ever read it back)."""
    spark = vocab.sparkSession
    n = max(int(spark.sparkContext.defaultParallelism), 1)
    w = (
        vocab.select("gram")
        .repartitionByRange(n, "gram")
        .sortWithinPartitions("gram")
        .select(
            "gram",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mono"),
        )
    )
    offs = w.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"), F.min("__mono").alias("__lo")
    )
    run = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = offs.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(run), F.lit(0))
    )
    return w.join(F.broadcast(offs), "__pid").select(
        "gram",
        (
            F.lit(int(start)) + F.col("__off") + F.col("__mono")
            - F.col("__lo")
        ).cast("int").alias("gid"),
    )


def _batch_vocab(
    docs: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """One batch's distinct gram strings (same shingling as every
    other ppjoin artifact — identical gram universe)."""
    return (
        _gram_sets(docs, text_col, id_col, shingle_n)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )


def gram_ids_build(
    docs: DataFrame,
    ids_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Build and persist the gram-id DICTIONARY ``(gram, gid, compat)``
    — one dense ``int`` id per distinct gram string, assigned by
    lexicographic rank at build time. STRING-keyed deliberately: a
    hash-keyed dictionary would let a 2^-64 bucket collision assign
    two different grams ONE id and corrupt the id tail's exact
    intersect (an OUTPUT error, unlike the hash tail's candidate-only
    collision class) — with exact string keys the id path has no
    probabilistic caveat at all.

    Contract: APPEND-ONLY — an id, once assigned, never changes
    (:func:`gram_ids_update` only adds rows for unseen grams), which
    is why the dictionary needs NO consistency handshake with the
    frozen gram order: id values carry no order semantics (the token
    arrays are physically pre-sorted), so the dictionary composes
    freely with any order snapshot."""
    vocab = _batch_vocab(docs, text_col, id_col, shingle_n)
    n = vocab.count()
    if n > _GID_MAX:
        raise ValueError(
            f"gram_ids_build: vocabulary has {n} distinct grams, over "
            f"the int32 id format bound {_GID_MAX} — use the hash tail "
            "for this corpus"
        )
    ids = _ranked_ids(vocab, 0).withColumn(
        "compat", F.lit(_gram_ids_tag(shingle_n))
    )
    ids.write.mode("overwrite").parquet(ids_path)
    return docs.sparkSession.read.parquet(ids_path)


def gram_ids_update(
    spark,
    ids_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Extend a persisted gram-id dictionary with ONE new batch's
    unseen grams — ids start at ``max(gid) + 1``, existing rows are
    never rewritten (parquet append of new rows only). NATURALLY
    idempotent under redelivery: a re-run's anti-join finds no unseen
    grams and appends nothing — and crash-safe mid-append for the
    same reason (partially-appended ids are valid assignments; the
    retry assigns only the remainder, after the new max). Bootstraps
    via :func:`gram_ids_build` when no dictionary exists.

    Cost note (honest): the anti-join scans the dictionary, so a fold
    is O(corpus vocabulary + batch), not O(batch) — the same class as
    the df fold's union-groupBy; the parquet side is append-only."""
    old = _read_artifact_if_exists(spark, ids_path)
    if old is None:
        return gram_ids_build(
            new_docs, ids_path, text_col, id_col, shingle_n
        )
    expected = _gram_ids_tag(shingle_n)
    _refuse_compat(old, "gram-id dictionary", ids_path, expected)
    new_grams = (
        _batch_vocab(new_docs, text_col, id_col, shingle_n)
        .join(old.select("gram"), "gram", "left_anti")
    )
    stats = old.agg(
        F.max("gid").alias("mx"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_new = new_grams.count()
    if n_new == 0:
        return old
    nxt = int(stats["mx"]) + 1 if stats["n"] else 0
    if nxt + n_new > _GID_MAX:
        raise ValueError(
            f"gram_ids_update: extending by {n_new} grams would pass "
            f"the int32 id format bound {_GID_MAX} — use the hash tail "
            "for this corpus"
        )
    ids = _ranked_ids(new_grams, nxt).withColumn(
        "compat", F.lit(expected)
    )
    ids.write.mode("append").parquet(ids_path)
    return spark.read.parquet(ids_path)


def _read_gram_ids(spark, ids_path: str, shingle_n: int) -> DataFrame:
    """Read + validate a persisted gram-id dictionary (compat tag —
    a dictionary built at a different shingle width describes a
    different gram universe)."""
    ids = spark.read.parquet(ids_path)
    _refuse_compat(
        ids, "gram-id dictionary", ids_path, _gram_ids_tag(shingle_n)
    )
    return ids


def _ppjoin_tail_ids(
    ordered: DataFrame,
    p: int,
    q: int,
    hot_gids: DataFrame | None = None,
) -> DataFrame:
    """The id-dictionary back half (r14): takes ``(id, sz, toks_id)``
    with ``toks_id`` an ``array<int>`` of EXACT gram ids sorted by one
    consistent total order across all rows, and returns the same
    result contract as :func:`_ppjoin_tail`. Three structural wins
    over the hash tail, all downstream of ids being exact:

    1. **The candidate equi-join keys on 4-byte ints** — no collision
       caveat class (a hash key's 2^-64 notes disappear entirely).
    2. **The per-row positional filter is replaced by the AGGREGATED
       PPJoin bound**: group candidate rows per pair and keep it iff
       ``cnt + min(sz_a − max_pos_a, sz_b − max_pos_b) ≥ alpha``.
       Correct (no false negatives): order the pair's shared prefix
       grams by the total order; every common gram ordered before the
       LAST shared prefix gram w* sits at positions < pos(w*) in BOTH
       arrays (positions are monotone in the order), hence inside
       both prefixes, hence IS a counted candidate row — so common
       grams split into (counted in cnt) + (after w* in both arrays,
       ≤ min suffix). Tighter than the per-row bound it replaces:
       cnt ≤ min(pos_a*, pos_b*) gives B_agg ≤ B_row(w*), and both
       bound the true intersection from above — fewer survivors reach
       the payload-attach stage, which is the fourth decade's actual
       wall (SCALING §10a0f). This bound is UNSAFE on hashed keys (a
       spurious collision row could raise max_pos and shrink the
       bound below a qualifying pair's overlap) — exact ids are what
       unlock it.
    3. **One attach stage, no separate verify**: ``array_intersect``
       over exact id arrays IS the exact intersection — the string
       arrays never enter the tail at all, and the attach payload is
       int arrays (half the hash tail's long arrays).

    ``hot_gids`` (a one-column ``gid`` frame) is the skew-cap's
    prefix exclusion (:func:`prefix_jaccard_join_indexed`'s
    ``max_gram_df``). With exclusions active the tail uses the
    PER-ROW positional filter + distinct instead of the aggregated
    bound — deliberately: the aggregated bound counts shared prefix
    grams, and an EXCLUDED shared gram before w* would silently
    shrink ``cnt`` below the true prefix overlap, dropping pairs the
    cap's recall contract promises to keep (missed pairs must be
    ONLY those whose every shared prefix gram is over the cap —
    the inline cap's exact contract, preserved here at the price of
    the weaker per-row bound). Exclusion itself is EXACT on ids (no
    hash-collision caveat, unlike the hash tail's hot anti-join).
    """
    plen = (
        F.col("sz")
        - F.floor((F.lit(p) * F.col("sz") + F.lit(q - 1)) / F.lit(q))
        + F.lit(1)
    ).cast("int")
    prefix = ordered.select(
        "id",
        "sz",
        F.posexplode(F.slice("toks_id", F.lit(1), plen)).alias(
            "pos0", "gid"
        ),
    ).select("id", "sz", (F.col("pos0") + 1).alias("pos"), "gid")
    if hot_gids is not None:
        prefix = prefix.join(hot_gids.select("gid"), "gid", "left_anti")
    a = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"),
        "gid",
    )
    b = prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"),
        "gid",
    )
    cand = a.join(b, "gid").filter(
        (F.col("id_a") < F.col("id_b"))
        # size band: J >= p/q impossible outside q*min >= p*max
        & (F.col("sz_a") * q >= F.col("sz_b") * p)
        & (F.col("sz_b") * q >= F.col("sz_a") * p)
    )
    alpha = F.floor(
        (F.lit(p) * (F.col("sz_a") + F.col("sz_b")) + F.lit(p + q - 1))
        / F.lit(p + q)
    )
    if hot_gids is None:
        # the aggregated bound REPLACES the per-pair distinct() — same
        # exchange (keyed on the pair), strictly tighter output
        agg = cand.groupBy("id_a", "sz_a", "id_b", "sz_b").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("pos_a").alias("mpa"),
            F.max("pos_b").alias("mpb"),
        )
        kept = agg.filter(
            F.col("cnt")
            + F.least(
                F.col("sz_a") - F.col("mpa"), F.col("sz_b") - F.col("mpb")
            )
            >= alpha
        ).select("id_a", "id_b")
    else:
        # cap mode: per-row positional bound (any surviving row keeps
        # the pair) — the recall contract reason is in the docstring
        ubound = (
            F.least(F.col("pos_a"), F.col("pos_b"))
            - 1
            + 1
            + F.least(
                F.col("sz_a") - F.col("pos_a"),
                F.col("sz_b") - F.col("pos_b"),
            )
        )
        kept = (
            cand.filter(ubound >= alpha).select("id_a", "id_b").distinct()
        )
    arr_a = ordered.select(
        F.col("id").alias("id_a"),
        F.col("toks_id").alias("ids_a"),
        F.col("sz").alias("size_a"),
    )
    arr_b = ordered.select(
        F.col("id").alias("id_b"),
        F.col("toks_id").alias("ids_b"),
        F.col("sz").alias("size_b"),
    )
    verified = (
        kept.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("ids_a", "ids_b")))
        # exact: ids are collision-free by construction
        .filter(
            F.col("inter") * (p + q)
            >= F.lit(p) * (F.col("size_a") + F.col("size_b"))
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        (
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter"))
        ).alias("jaccard"),
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
    )
