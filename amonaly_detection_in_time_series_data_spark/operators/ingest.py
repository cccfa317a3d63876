"""Incremental near-dup ingest: dedup arriving document batches against
a PERSISTED MinHash signature store.

The batch dedup operators (minhash_lsh_pairs + connected_components)
answer "dedup this corpus once". A production corpus is not ingested
once — new crawls arrive continuously, and each batch must be deduped
against everything already seen WITHOUT re-running the all-corpus
pairing. This operator is that loop:

    batch -> signatures -> (vs store: banded LSH join)
                        -> (vs same batch: earlier-arrival pairs)
          -> novel docs out, batch signatures appended to the store

**Semantics — keep-first-arrival against all-seen history.** A doc is
kept iff it has NO near-dup (estimated Jaccard >= threshold) among
documents seen before it (earlier batches, or earlier arrival order in
the same batch). The store records signatures of ALL seen docs (kept
and dropped) by default, which buys a strong property: the kept set
depends only on the arrival ORDER, never on where batch boundaries
fall (splitting one batch into ten changes nothing — property-tested).
With ``store_policy="kept-only"`` the store holds survivors only
(smaller store, but a doc similar only to an already-dropped doc is
then kept — chain-transitive behavior, the batch CC policy's opposite
end; both are legitimate, the default is the order-stable one).

Docs whose text yields zero shingles (shorter than the shingle width)
have no signature, cannot match anything, and pass through as novel
without entering the store — documented, not silent.

**Scale (100 TB corpus, continuous ingest).** The store holds
signatures only — n_hashes longs per doc (~128 B at n=16), ~0.1% of
corpus bytes. The batch-vs-store join BROADCASTS the batch's banded
buckets (a batch is always ≪ the store) against one scan of the store:
the store is never shuffled, never re-paired against itself. Store
writes are partitioned by ``batch_id`` and written with dynamic
partition overwrite, so a crashed-and-retried batch (the foreachBatch
redelivery contract) overwrites its own partition instead of
double-appending — idempotent, exactly-once effective. Periodically
:func:`operators.maintenance.compact_files` the store off the critical
path.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amonaly_detection_in_time_series_data_spark.operators.similarity import (
    _gram_df_compat_tag,
    _gram_df_merged,
    _gram_index_fingerprint,
    _ord_tok_tag,
    _ordered_under_index,
    _read_artifact_if_exists,
    _read_gram_df_index,
    _refuse_compat,
    _refuse_null_gids,
    band_buckets,
    gram_ids_update,
    minhash_jaccard_est,
    minhash_signatures,
)

__all__ = [
    "incremental_neardup_batch",
    "incremental_ingest_sink",
    "read_store",
    "sig_scheme",
    "similarity_index_update",
    "similarity_index_paths",
    "similarity_index_rebuild_df",
    "similarity_ingest_sink",
]

# Version tag of each hash family's SIGNATURE VALUES, bumped whenever an
# implementation change alters the numbers a given (text, seed) maps to.
# r9 moved the xxhash64 family from hashing gram STRINGS to folding
# composed 64-bit gram hashes — every signature changed, so a store
# written by pre-r9 code would silently never match (jaccard_est ~0 for
# identical docs), losing all historical near-dup detection with no
# error. The scheme column makes that a loud ValueError instead.
_FAMILY_VERSION = {"xxhash64": "grams64-v2", "md5": "strings-v1"}


def sig_scheme(hash_fn: str, n_hashes: int, shingle_n: int) -> str:
    """The signature-compatibility tag persisted with every store row:
    hash family + its value-version + the two parameters that also
    change signature values. Two stores (or a store and a caller) can
    only be compared when their schemes are IDENTICAL."""
    fam = _FAMILY_VERSION.get(hash_fn)
    if fam is None:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return f"{fam}:n{int(n_hashes)}:s{int(shingle_n)}"


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The signature store if it exists and is non-empty, else None.
    Path-not-found only — a transient read error re-raises instead of
    silently skipping history dedup for the batch (the r13-ADVICE
    strict-read rule, applied store-wide)."""
    df = _read_artifact_if_exists(spark, store_path)
    if df is None:
        return None
    return df if "sig" in df.columns else None


def _check_store_scheme(store: DataFrame, scheme: str, store_path: str):
    """Refuse to compare signatures across scheme versions. A mismatch
    is unrecoverable by waiting — the store must be REBUILT (re-ingest
    the corpus, or re-sign it from the original texts) under the
    current scheme."""
    if "sig_scheme" not in store.columns:
        raise ValueError(
            f"signature store at {store_path} predates scheme versioning "
            "(written by pre-r10 code); its xxhash64 signatures are NOT "
            f"comparable with the current family "
            f"({_FAMILY_VERSION['xxhash64']}) — rebuild the store from "
            "the original texts"
        )
    # constant, dictionary-encoded column: the distinct() is a pruned
    # single-column scan, bounded output
    found = sorted(
        r[0] for r in store.select("sig_scheme").distinct().collect()
    )
    if found != [scheme]:
        raise ValueError(
            f"signature store at {store_path} holds scheme(s) {found}, "
            f"caller uses {scheme!r}; signatures across schemes never "
            "match (silent total recall loss) — rebuild the store under "
            "one scheme"
        )


def incremental_neardup_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    store_policy: str = "all-seen",
    update_store: bool = True,
) -> DataFrame:
    """Dedup one arriving batch against the store (and against earlier
    arrivals inside the batch, ordered by ``id_col``); returns the NOVEL
    rows of ``batch`` (original columns) and appends the batch's
    signatures to the store under partition ``batch_id``.

    The store write happens eagerly (it is a side effect, not lineage);
    the returned novel frame is lazy as usual. The caller owns making
    ``batch_id`` monotone; re-running the same batch_id overwrites its
    own store partition (idempotent retry).
    """
    if store_policy not in ("all-seen", "kept-only"):
        raise ValueError(f"unknown store_policy {store_policy!r}")
    spark = batch.sparkSession
    scheme = sig_scheme(hash_fn, n_hashes, shingle_n)
    sigs = minhash_signatures(
        batch, text_col, id_col, n_hashes, shingle_n, hash_fn
    )
    new_bands = band_buckets(sigs, n_bands, id_col)

    store = read_store(spark, store_path)
    hit_parts = []
    if store is not None:
        _check_store_scheme(store, scheme, store_path)
        # Only EARLIER batches count as history. This both implements
        # the arrival-order semantics and makes retries safe: a
        # redelivered batch_id finds its own failed-attempt partition in
        # the store but prunes it here (partition filter on batch_id)
        # instead of matching every doc against itself.
        store = store.filter(F.col("batch_id") < int(batch_id))
        store_bands = band_buckets(store, n_bands, id_col=id_col)
        # batch ≪ store: broadcast the batch's buckets, scan the store
        # once, shuffle nothing of it
        cross = store_bands.join(
            F.broadcast(
                new_bands.select(
                    F.col(id_col).alias("__new_id"),
                    F.col("sig").alias("__new_sig"),
                    "band",
                    "bucket",
                )
            ),
            ["band", "bucket"],
        )
        cross_hits = (
            cross.filter(
                minhash_jaccard_est("sig", "__new_sig") >= threshold
            )
            .select(F.col("__new_id").alias(id_col))
            .distinct()
        )
        hit_parts.append(cross_hits)

    # within-batch: candidate pairs via the same banding; a doc is a hit
    # iff it pairs with an EARLIER arrival (id order). No iteration:
    # under all-seen semantics "earlier" includes dropped docs, so one
    # pass suffices. (With kept-only store the within-batch step keeps
    # this order-greedy form — the store policy only changes history.)
    b = new_bands.select(
        "band", "bucket", F.col(id_col).alias("id_x"), F.col("sig").alias("sig_x")
    )
    c = new_bands.select(
        "band", "bucket", F.col(id_col).alias("id_y"), F.col("sig").alias("sig_y")
    )
    batch_hits = (
        b.join(c, ["band", "bucket"])
        .filter(F.col("id_x") < F.col("id_y"))
        .filter(minhash_jaccard_est("sig_x", "sig_y") >= threshold)
        .select(F.col("id_y").alias(id_col))
        .distinct()
    )
    hit_parts.append(batch_hits)

    hits = hit_parts[0]
    for h in hit_parts[1:]:
        hits = hits.unionByName(h)
    novel = batch.join(hits.distinct(), id_col, "left_anti")

    if update_store:
        # Materialize novel BEFORE mutating the store: its plan scans
        # the store path, and the upcoming dynamic-overwrite can delete
        # files the lazy scan already listed (FileNotFound) — and a
        # later action must not see this batch's own signatures.
        # localCheckpoint is executor-resident (not fault-tolerant);
        # crash recovery is the caller's idempotent-retry contract.
        novel = novel.localCheckpoint(eager=True)
        to_store = sigs
        if store_policy == "kept-only":
            to_store = sigs.join(
                novel.select(id_col), id_col, "left_semi"
            )
        (
            to_store.withColumn("sig_scheme", F.lit(scheme))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store_path)
        )
    return novel


def incremental_ingest_sink(
    store_path: str,
    out_path: str,
    stats_index_path: str | None = None,
    stats_cols: list[str] | None = None,
    **cfg,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` adapter: per micro-batch, run
    :func:`incremental_neardup_batch` and append the novel rows to
    ``out_path`` under partition ``batch_id`` (dynamic overwrite — a
    redelivered micro-batch rewrites its own partition, so both the
    store and the output are idempotent under streaming retries).

        (stream.writeStream.foreachBatch(
            incremental_ingest_sink(store, out, threshold=0.8))
         .option("checkpointLocation", ckpt).start())

    ``stats_index_path`` + ``stats_cols``: keep a persisted
    :func:`~.maintenance.file_stats_index` in lockstep with the output
    table — each batch upserts index rows for ITS written files only
    (O(batch files), never a table rescan), so
    :func:`~.maintenance.skipping_scan` stays usable on a continuously
    ingested table.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        novel = incremental_neardup_batch(
            df, store_path, batch_id, **cfg
        )
        (
            novel.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )
        if stats_index_path is not None:
            from amonaly_detection_in_time_series_data_spark.operators.maintenance import (
                file_stats_index_update,
            )

            file_stats_index_update(
                df.sparkSession, out_path, stats_cols or [], stats_index_path
            )

    return write_batch


# --------------------------------------------------------------------------
# Composed ppjoin similarity store (r14, the r13 verdict's #1): one ingest
# call keeps the gram-df index AND the ordered-tokens artifact in lockstep.
# --------------------------------------------------------------------------


def similarity_index_paths(base_path: str) -> tuple[str, str, str, str]:
    """The four artifacts of a composed similarity store under one
    base directory: ``(gram_df, gram_order, gram_ids,
    ordered_tokens)``.

    - ``gram_df`` — the LIVE gram-df index
      (:func:`~.similarity.gram_df_index_build` format plus a constant
      ``last_batch`` column), folded per batch; serves
      ``prefix_jaccard_join(gram_order_path=...)`` over external
      corpora and keeps cap-mode dfs fresh.
    - ``gram_order`` — the FROZEN order snapshot: a copy of ``gram_df``
      taken at bootstrap and never touched again. It exists because
      the two halves the verdict asks to compose are otherwise
      CONTRADICTORY: :func:`~.similarity.ordered_tokens_update`
      refuses appends under an index whose content fingerprint
      drifted (the cross-batch consistency precondition of the prefix
      theorem), while folding the df index per batch drifts it on
      EVERY batch. Freezing the order decouples them — tokens stay
      appendable forever (exactness needs CONSISTENCY of the order,
      not accuracy; stale dfs only grow candidate counts), and the
      live index stays fresh for its own consumers.
    - ``gram_ids`` — the gram-id DICTIONARY
      (:func:`~.similarity.gram_ids_build`): one dense exact ``int``
      id per distinct gram string, APPEND-ONLY (an id never changes
      once assigned), extended with each batch's unseen grams BEFORE
      its tokens are written. Unlike the order, it needs no freeze:
      id values carry no order semantics — the token arrays are
      already physically sorted — so the dictionary composes freely
      with the frozen snapshot. It exists so the tokens artifact
      carries ``toks_id`` and consumers run the string-free exact-id
      tail (r14, SCALING §10a0f).
    - ``ordered_tokens`` — the per-doc artifact
      :func:`~.similarity.prefix_jaccard_join_indexed` joins, sorted
      under ``gram_order``, partitioned by ``batch_id``.
    """
    return (
        f"{base_path}/gram_df",
        f"{base_path}/gram_order",
        f"{base_path}/gram_ids",
        f"{base_path}/ordered_tokens",
    )


def similarity_index_update(
    batch: DataFrame,
    base_path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> None:
    """Fold ONE arriving document batch into a composed similarity
    store: append its ordered-token rows to the tokens artifact AND
    its gram counts to the live gram-df index — or refuse atomically,
    with every validation (compat tags, frozen-order fingerprint,
    half-bootstrap detection) performed BEFORE any write, so a
    drifted-index refusal can never strand a half-updated pair.

    Layout: :func:`similarity_index_paths`. Bootstraps all four
    artifacts from the first batch: the tokens rows carry ``toks_id``
    and consumers get the string-free exact-id tail. A store without a
    gram-id dictionary (a hash-tail store from before the dictionary
    existed) is refused before any write: rebuild the store.
    Per-batch fold order: dictionary first (append-only, naturally
    idempotent AND crash-safe mid-append — partially appended ids are
    valid assignments and the retry anti-join assigns only the
    remainder), then tokens, then the df fold.

    **Idempotency under foreachBatch redelivery** (caller owns
    monotone ``batch_id``, the store convention): the EXACTNESS-
    critical half — the tokens artifact — is written per ``batch_id``
    partition with dynamic overwrite, so a redelivered batch rewrites
    its own partition (exactly-once effective, like the signature
    store). The live df fold is guarded by the ``last_batch`` stamp
    written atomically WITH the fold (one parquet overwrite): a
    redelivered ``batch_id <= last_batch`` skips the fold. The one
    unguarded crash window — mid-overwrite of ``gram_df`` itself — is
    recoverable without the original texts via
    :func:`similarity_index_rebuild_df` (each doc's ``toks`` array IS
    its distinct gram set), and a doubled df would in any case be
    EFFICIENCY-only by the staleness contract (any df assignment is a
    consistent total order; exactness is untouched).

    Duplicate contract: append-only by ``doc_id`` — re-submitting the
    same document under a NEW batch_id double-enters it (dedupe
    upstream, e.g. chain behind :func:`incremental_neardup_batch`).

    Consumers: ``prefix_jaccard_join_indexed(spark, tokens_path, p,
    q)`` for the corpus self-join at any threshold;
    ``prefix_jaccard_join(..., gram_order_path=gram_df_path)`` for
    inline joins that want the live dfs."""
    spark = batch.sparkSession
    df_p, ord_p, ids_p, tok_p = similarity_index_paths(base_path)
    compat = _gram_df_compat_tag(shingle_n)

    if _read_artifact_if_exists(spark, ord_p) is None:
        # ---- bootstrap: the live index and its frozen order snapshot;
        # the dictionary and the tokens follow below, exactly as for a
        # retry of this batch that crashed before its tokens write ----
        merged = _gram_df_merged(
            batch, text_col, id_col, shingle_n
        ).withColumn("compat", F.lit(compat))
        merged.withColumn("last_batch", F.lit(int(batch_id))).write.mode(
            "overwrite"
        ).parquet(df_p)
        # the snapshot is a READ-BACK copy of what was just written —
        # bit-identical content, so the fingerprint recorded in the
        # tokens tag is reproducible from either artifact
        spark.read.parquet(df_p).drop("last_batch").write.mode(
            "overwrite"
        ).parquet(ord_p)

    # ---- validate EVERYTHING before any write (atomic refusal) ----
    idx = _read_gram_df_index(spark, ord_p, shingle_n)  # compat check
    tag = _ord_tok_tag(
        shingle_n, _gram_index_fingerprint(idx), with_ids=True
    )
    live = _read_gram_df_index(spark, df_p, shingle_n)  # compat check
    last_applied = None
    if "last_batch" in live.columns:
        head = live.select("last_batch").limit(1).collect()
        if head:
            last_applied = int(head[0]["last_batch"])
    toks_old = _read_artifact_if_exists(spark, tok_p)
    if toks_old is None:
        # the bootstrap, or its crash window between the order-snapshot
        # write and the tokens write: completable iff THIS is the same
        # batch (the df fold already holds its counts)
        if last_applied != int(batch_id):
            raise ValueError(
                f"similarity store at {base_path!r} has an order "
                f"snapshot but no tokens artifact, and the live index "
                f"was last folded for batch {last_applied!r} (caller "
                f"is batch {int(batch_id)}) — the store is "
                "inconsistent; rebuild it from the corpus"
            )
    elif _read_artifact_if_exists(spark, ids_p) is None:
        raise ValueError(
            f"similarity store at {base_path!r} has a tokens artifact "
            f"but no gram-id dictionary at {ids_p!r} (a hash-tail "
            "store, which is no longer updated); REFUSING before any "
            "write (no artifact was touched); rebuild the store"
        )
    else:
        _refuse_compat(
            toks_old, "ordered-tokens artifact", tok_p, tag,
            f"the frozen order snapshot at {ord_p!r} drifted (or the "
            "tokens lack the :ids marker); REFUSING before any write "
            "(no artifact was touched); rebuild the store",
        )

    # ---- id dictionary fold FIRST (append-only, naturally idempotent
    # — a redelivered batch's anti-join finds nothing unseen), so the
    # tokens write below can never hit a dictionary gap ----
    ids = gram_ids_update(spark, ids_p, batch, text_col, id_col, shingle_n)

    # ---- tokens: batch_id-partitioned dynamic overwrite (idempotent) --
    _write_tokens_partition(
        batch, idx, ids, tok_p, batch_id, tag, text_col, id_col, shingle_n
    )

    # ---- live df fold, skipped on redelivery ----
    if last_applied is not None and last_applied >= int(batch_id):
        return
    batch_df = _gram_df_merged(batch, text_col, id_col, shingle_n)
    folded = (
        live.select("__h", "df", "gram")
        .unionByName(batch_df)
        .groupBy("__h")
        .agg(F.sum("df").alias("df"), F.min("gram").alias("gram"))
        .withColumn("compat", F.lit(compat))
        .withColumn("last_batch", F.lit(int(batch_id)))
    )
    # materialize before overwriting the parquet the lineage reads from
    folded = folded.localCheckpoint(eager=True)
    folded.write.mode("overwrite").parquet(df_p)


def _write_tokens_partition(
    batch: DataFrame,
    idx: DataFrame,
    ids: DataFrame,
    tok_p: str,
    batch_id: int,
    tag: str,
    text_col: str,
    id_col: str,
    shingle_n: int,
) -> None:
    """One batch's ordered-token rows, carrying ``toks_id`` from the
    dictionary ``ids``, into its own ``batch_id`` partition (dynamic
    overwrite — redelivery rewrites, never double-appends). A
    dictionary gap is refused AFTER the write via a columnar null-scan
    of just this batch's partition — the partition is rewritable by
    the same redelivery contract, so the refusal leaves the store
    repairable (extend the dictionary, re-run the batch) and the df
    fold below it never runs on poisoned tokens."""
    toks = _ordered_under_index(
        batch, idx, text_col, id_col, shingle_n, ids=ids
    ).withColumn("compat", F.lit(tag))
    (
        toks.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(tok_p)
    )
    part = batch.sparkSession.read.parquet(
        f"{tok_p}/batch_id={int(batch_id)}"
    )
    _refuse_null_gids(part, tok_p)


def similarity_index_rebuild_df(
    spark: SparkSession, base_path: str
) -> DataFrame:
    """Recover the LIVE gram-df index from the tokens artifact — the
    crash-mid-overwrite repair path of :func:`similarity_index_update`.
    Exact by construction: each doc's ``toks`` array is exactly its
    distinct gram set, so exploding the artifact and re-counting
    reproduces the fold-maintained dfs row for row (df sums are
    associative; the bucket representative is a MIN over the same gram
    universe). ``last_batch`` is restamped from the artifact's max
    partition. No original texts needed."""
    df_p, ord_p, _ids_p, tok_p = similarity_index_paths(base_path)
    order = spark.read.parquet(ord_p)
    compat = order.select("compat").limit(1).collect()[0]["compat"]
    toks = spark.read.parquet(tok_p)
    last = toks.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
    merged = (
        toks.select(F.explode("toks").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy(F.xxhash64("gram").alias("__h"))
        .agg(F.sum("df").alias("df"), F.min("gram").alias("gram"))
        .withColumn("compat", F.lit(compat))
        .withColumn("last_batch", F.lit(int(last)))
    )
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(df_p)
    return spark.read.parquet(df_p)


def similarity_ingest_sink(
    base_path: str, **cfg
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` adapter for the composed similarity store:

        (stream.writeStream.foreachBatch(similarity_ingest_sink(base))
         .option("checkpointLocation", ckpt).start())

    Each micro-batch runs :func:`similarity_index_update` — after N
    micro-batches, ``prefix_jaccard_join_indexed`` over the store's
    tokens artifact equals the one-shot join over the union corpus
    (pytest-pinned streaming-vs-batch parity, the
    ``maintain_basket_sink`` convention). Redelivery safety comes from
    the updater's own contract (partitioned tokens + stamped fold)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        similarity_index_update(df, base_path, int(batch_id), **cfg)

    return write_batch
