"""Dedup operators (SURVEY.md §2.4 O3/O4 and §2.14 exact text dedup).

Scale notes: positional dedup is one ``row_number`` window — a single hash
exchange on the dedup key; at 100 TB the key (``ts`` or ``(user_id, ts)``)
has high cardinality so partitions stay balanced. Aggregate dedup is a
plain hash aggregate with map-side partials. Neither collects to the
driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import over, with_columns


def dedup_row_number_sql(
    key_cols: Sequence[str],
    arrival_col: str,
    keep: str = "first",
) -> str:
    """O3 as SQL text: each row's rank within its key in arrival order
    (``keep="first"``) or reverse arrival order (``"last"``); the kept row
    is number 1."""
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first' or 'last', got {keep!r}")
    direction = "ASC" if keep == "first" else "DESC"
    return f"row_number() {over(key_cols, [arrival_col], direction=direction)}"


def dedup_keep_positional(
    df: DataFrame,
    key_cols: Sequence[str],
    arrival_col: str,
    keep: str = "first",
) -> DataFrame:
    """O3: keep the first/last occurrence per key in *arrival order*.

    Reference: src/preprocessing.py:76-81 —
    ``df[~df.index.duplicated(keep='first')]`` runs BEFORE the sort
    (sort_index at :96), so "first" means file order, not time order.
    ``dropDuplicates`` alone is non-deterministic; an explicit arrival key
    + ``row_number`` is the faithful translation.
    """
    rn = dedup_row_number_sql(key_cols, arrival_col, keep)
    return (
        df.selectExpr(*with_columns(df.columns, {"_rn": rn}))
        .where("_rn = 1")
        .drop("_rn")
    )


def dedup_mean(
    df: DataFrame,
    key_cols: Sequence[str],
    arrival_col: str | None = None,
) -> DataFrame:
    """O4: aggregate duplicates — numeric columns mean, non-numeric first.

    Reference: src/preprocessing.py:82-91 (``groupby(index).mean()`` for
    numerics, ``.first()`` for the rest, concatenated on the index).
    pandas ``groupby.first()`` is the first NON-NULL per group in row
    order; with an arrival key we reproduce that with ``min_by`` over
    non-null rows. One hash aggregate, partial+final automatic.
    """
    keys = list(key_cols)
    numeric, other = [], []
    for f in df.schema.fields:
        if f.name in keys or f.name == arrival_col:
            continue
        (numeric if isinstance(f.dataType, T.NumericType) else other).append(f.name)
    aggs = [F.avg(c).alias(c) for c in numeric]
    for c in other:
        if arrival_col is not None:
            # first non-null by arrival: null out the ordering key on null
            # values so min_by skips them (pandas .first() semantics).
            key = F.when(F.col(c).isNotNull(), F.col(arrival_col))
            aggs.append(F.min_by(F.col(c), key).alias(c))
        else:
            aggs.append(F.first(c, ignorenulls=True).alias(c))
    return df.groupBy(*keys).agg(*aggs)


def dedup_exact_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """§2.14: exact document dedup — keep the lowest-id row per distinct
    text. Equivalent to hash-groupBy on sha2(text) but expressed as
    ``min_by`` so no second join is needed. Deterministic (id tiebreak).
    """
    keep_cols = [c for c in df.columns if c != text_col]
    return df.groupBy(text_col).agg(
        *[F.min_by(c, id_col).alias(c) for c in keep_cols]
    )


def span_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    key: str = "text",
) -> DataFrame:
    """Explode each document into its complete non-overlapping
    ``span_len``-token spans, globally flagged for duplication.

    Span-granular approximation of exact-substring training-data dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — the suffix-array pass that removes any ≥50-token substring
    seen before). A suffix array is not a distributed-friendly
    structure; hashing fixed-length token spans keeps the semantics
    ("this exact run of tokens occurred earlier in the corpus") while
    reducing to one shuffle on the span text. An occurrence is a *dup*
    iff an identical span occurs earlier in corpus order
    (``(id, span_idx)`` lexicographic) — the first occurrence is never a
    dup, mirroring keep-first.

    Output: one row per span occurrence —
    ``(id_col, span_idx, span, is_dup)`` with ``key="text"`` (default),
    or ``(id_col, span_idx, span_h, is_dup)`` with ``key="hash64"``.

    ``key="hash64"`` identifies spans by a 64-bit xxhash64 of the
    token-HASH slice instead of the joined span string: no span-string
    allocation at all (the r8 longdoc ladder's GC growth traced to
    exactly this materialization), and the duplication-window shuffle
    carries an 8-byte long per row instead of a ~(span_len * word_len)
    string. Identical ``is_dup`` up to 64-bit collisions (two DISTINCT
    spans colliding ~n_spans^2 / 2^65 — vanishing at any test scale; at
    a true 10^12-span corpus, collisions slightly overcount dups, which
    for a screening statistic biases conservative). Use ``key="text"``
    when the span text itself is needed downstream (``drop_dup_spans``)
    or for engine-portable replays.

    Scale: tokenization and span slicing are map-only bound-column
    expressions (tokens bound once, spans via ``transform`` over
    ``sequence`` + ``slice`` — O(doc_len), no HOF recapture); the only
    exchange is the window partition on the span key. Span keys are
    near-unique so the shuffle is balanced; a degenerate corpus-wide
    repeated span lands in one partition — cap via pre-aggregation if
    that ever binds (same playbook as the MinHash mega-bucket cap).
    """
    if span_len < 1:
        raise ValueError(f"span_len must be >= 1, got {span_len}")
    if key not in ("text", "hash64"):
        raise ValueError(f"key must be 'text' or 'hash64', got {key!r}")
    from ..functions.text import tokenize

    d = df.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    ).withColumn("__n_spans", F.floor(F.size("__toks") / span_len).cast("int"))
    # sequence(0, -1) counts DOWN in Spark — guard the zero-span case
    # (doc shorter than one span) to an empty array explicitly.
    if key == "hash64":
        d = d.withColumn(
            "__tok_h", F.transform("__toks", lambda t: F.xxhash64(t))
        )
        span_arr = F.when(
            F.col("__n_spans") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__n_spans") - 1),
                lambda s: F.xxhash64(
                    F.slice(F.col("__tok_h"), s * span_len + 1, span_len)
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        span_col = "span_h"
    else:
        span_arr = F.when(
            F.col("__n_spans") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__n_spans") - 1),
                lambda s: F.array_join(
                    F.slice(F.col("__toks"), s * span_len + 1, span_len), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        span_col = "span"
    spans = d.select(
        id_col, F.posexplode(span_arr).alias("span_idx", span_col)
    )
    w = Window.partitionBy(span_col).orderBy(
        F.col(id_col).asc(), F.col("span_idx").asc()
    )
    return spans.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    key: str = "hash64",
) -> DataFrame:
    """Per-document span-duplication profile:
    ``(id_col, n_spans, n_dup_spans, dup_span_frac)``.

    The screening half of substring dedup — rank/filter documents by how
    much of their content is verbatim repetition of earlier corpus
    content (e.g. drop docs with ``dup_span_frac > 0.5``, the common
    boilerplate cut). Documents shorter than one span produce no rows
    (no complete span exists).

    Two exchanges total: span-key window + per-doc aggregate. Default
    ``key="hash64"`` — the stats never need the span text, so spans are
    identified by 64-bit hashes (no span-string allocation, 8-byte
    shuffle keys; see :func:`span_occurrences` for the collision
    analysis). ``key="text"`` replays the exact string-keyed semantics.
    """
    occ = span_occurrences(df, text_col, id_col, span_len, key=key)
    return occ.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("is_dup").cast("bigint").alias("n_dup_spans"),
        F.round(F.sum("is_dup") / F.count("*"), 4).alias("dup_span_frac"),
    )


def drop_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
) -> DataFrame:
    """Rewrite each document with duplicated spans REMOVED (the
    destructive half of Lee et al. substring dedup): keep every span
    whose identical text did not occur earlier in the corpus, plus the
    incomplete tail (< ``span_len`` tokens), re-joined in order.

    Returns ``(id_col, text_col)`` with the deduplicated text (possibly
    empty string when every span was seen before and there is no tail).

    Scale: the kept-span reassembly is one per-doc aggregate over the
    span occurrences (``array_agg`` sorted by span index — bounded by
    doc length); the tail is recomputed map-side from the original row
    and joined back on ``id_col``.
    """
    from ..functions.text import tokenize

    occ = span_occurrences(df, text_col, id_col, span_len)
    kept = (
        occ.filter(F.col("is_dup") == 0)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_idx", "span"))
                    ),
                    lambda st: st["span"],
                ),
                " ",
            ).alias("__kept")
        )
    )
    toks = tokenize(text_col)
    tail = df.select(
        F.col(id_col),
        F.array_join(
            F.slice(
                toks,
                (F.floor(F.size(toks) / span_len) * span_len + 1).cast("int"),
                span_len - 1 if span_len > 1 else 0,
            ),
            " ",
        ).alias("__tail"),
    )
    joined = tail.join(kept, id_col, "left")
    body = F.coalesce(F.col("__kept"), F.lit(""))
    out = F.when(
        (body != "") & (F.col("__tail") != ""),
        F.concat(body, F.lit(" "), F.col("__tail")),
    ).otherwise(F.concat(body, F.col("__tail")))
    return joined.select(id_col, out.alias(text_col))
